package graft

/** The `src/main` grep gates (driver collects, memo fields, persists,
  * partitioned windows, streaming-state IO) and the self-hosted advisor
  * end to end: the session serves a workload, then advises on it. */
class ListenerSpec extends SparkSpec {

  /** Every `.scala` file under `src/main/scala`; cancels the test when not
    * run from the repo root. */
  private def mainSources(): Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "run from repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  test("grep gate: no data-proportional driver collect in src/main") {
    // Every .collect() in src/main must be in this audited allowlist, where
    // each site is metadata-bounded (catalog listings, scalar aggregates,
    // k centroids, capped workload texts, bounded advisor state). A new
    // file appearing here means a new collect site needs auditing; notably
    // SelfHosting must stay collect-free (r7 verdict: workload results are
    // arbitrary user SQL and must never materialize on the driver).
    val audited = Set(
      "Probe.scala", "Profiler.scala", "StreamingAdvisor.scala",
      "SimSearch.scala", "Multimodal.scala", "TableRegistry.scala",
      "Main.scala", "AnalysisPipeline.scala",
      // QueryIntrospector.topRowsByCount is THE heavy-hitter cut: one
      // collect of at most maxWorkloadTexts + 1 rows of the per-text state
      // (the extra row only detects a drop)
      "QueryIntrospector.scala",
      // contaminatedDocIds collects the distinct SHORT-doc token lengths of
      // the EVAL set only — the same tiny-by-contract side that broadcasts;
      // bounded by w-1 integers regardless of corpus size
      "Curation.scala",
      // Balance.evidenceAll collects ONE stats row per what-if job (the
      // grouped counts collapse to a single aggregate before collect);
      // candidate lists are topN × views — catalog-bounded, never data
      "Balance.scala",
      // StreamingDrift collects per-batch BUCKET histograms only — 13
      // (bucket, count) rows per micro-batch regardless of stream length;
      // the doc stream itself is never retained (X29 scale note)
      "StreamingDrift.scala",
      // DriftReanalysis collects the vetted recommendation set at a
      // threshold crossing — one (view, partition_spec) row per advised
      // view, catalog-bounded like the advisor snapshots it mirrors
      "DriftReanalysis.scala",
      // Bpe collects ONE argmax row + one total scalar per merge round —
      // the merge decision is driver state by definition (the k-means
      // centroid discipline); the vocabulary frame itself never leaves
      // the executors
      "Bpe.scala",
      // StreamingAdmission collects per-batch PER-SOURCE counter rows only
      // — O(sources) rows of six longs per micro-batch, further bounded by
      // the lex-first sourceCap fold; the doc stream itself is never
      // retained (the StreamingDrift histogram discipline)
      "StreamingAdmission.scala",
      // StreamingIndex collects per-batch INDEX-sized deltas only: a
      // 3-scalar rollup per month partition plus the distinct (month, bit)
      // frame — bounded by partitions × mBits (2 KiB/partition at
      // m=16384) regardless of batch or stream size; the order stream
      // itself is never retained (X78 scale note)
      "StreamingIndex.scala",
      // Scoring.partitionScores / topNPerView collect catalog-sized
      // frames: profile rows (views × columns), the workload rows keyed on
      // them, and the scored rows they rank. Scoring.statsOf (behind the
      // *FromStats adapters) collects the state rows of the parsed texts
      // only — at most the parsed-text count, itself ≤ maxWorkloadTexts —
      // and the adapters' parsedRefsFrom frame is local, parsed-text sized
      "Scoring.scala",
      // Recommender.scripts / withSelectedSpec collect the ranked
      // candidates — topN × views rows
      "Recommender.scala",
      // Layout.partitionBalanceReport collects the keys of the at most
      // 2·nBuckets key-prefix groups that can hold a range bound (a checked
      // require: ≤ (2·nBuckets + 1)·groupWidth rows) and derives from them
      // the ≤ nBuckets bounds (a second require), whatever the data size
      "Layout.scala",
      // TimeMultimodal is a dev-only timing harness (never on a query
      // path); its collects are single-row scalar aggregates (sum of
      // lengths) used to force the scan stage for isolated timing
      "TimeMultimodal.scala")
    // regex, not a literal: .collect (), collectAsList, toLocalIterator are
    // the same driver-materialization hazard spelled differently (r8 review
    // finding). head(n)/take(n) are excluded — they are bounded by their
    // argument and used legitimately for probes.
    val mat = java.util.regex.Pattern.compile(
      """\.\s*(collect|collectAsList|toLocalIterator)\s*\(""")
    val offenders = mainSources().filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      mat.matcher(src).find()
    }.map(_.getName).toSet
    assert((offenders -- audited).isEmpty,
      s"unaudited driver-materialization sites: ${offenders -- audited}")
  }

  test("grep gate: ConcurrentHashMap / AtomicReference fields only in graft.Memo or the allowlist") {
    // graft.Memo alone decides how long a memo lives and when it is stale;
    // a new map or reference field elsewhere is a new ad-hoc memo
    // unless it is listed here with the reason it is not one
    val allowed = Map(
      "Memo.scala" -> Set("entries"), // the memo registry itself
      // PngFixtures: the rendered on-disk PNG corpus outlives sessions (a
      // directory per population)
      "Multimodal.scala" -> Set("cache"),
      // a write guard: which dir's bucketed-join tables are on disk
      "LayoutKeys.scala" -> Set("bucketedJoinDir"))
    val mention = java.util.regex.Pattern.compile("""\b(ConcurrentHashMap|AtomicReference)\b""")
    val field = java.util.regex.Pattern.compile("""\b(?:val|var)\s+(\w+)""")
    val declared = mainSources().flatMap { f =>
      // code only: line comments, scaladoc lines and imports do not declare
      val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*") ||
          l.trim.startsWith("import "))
        .map(l => l.indexOf("//") match { case -1 => l; case i => l.substring(0, i) })
        .mkString("\n")
      val m = mention.matcher(code)
      Iterator.continually(m).takeWhile(_.find()).map { hit =>
        // the field a mention belongs to: the nearest val/var before it
        val fm = field.matcher(code.substring(0, hit.start()))
        var name = "<none>"
        while (fm.find()) name = fm.group(1)
        f.getName -> name
      }.toSeq
    }.toSet
    val offenders = declared.filterNot { case (file, name) =>
      allowed.getOrElse(file, Set.empty[String]).contains(name) }
    assert(offenders.isEmpty, s"ad-hoc memo fields outside graft.Memo: $offenders")
    // the allowlist must not go stale either
    val stale = allowed.toSeq.flatMap { case (f, ns) => ns.map(f -> _) }.toSet -- declared
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("grep gate: .persist( / .cache() only in graft.Memo or the allowlist") {
    // graft.Memo owns persisted frames: it keys them on their inputs,
    // rebuilds them when those files change and unpersists them on clear.
    // A persist elsewhere is a cache nothing invalidates unless it is
    // listed here, per enclosing def, with the reason it is not one
    val allowed = Map(
      // reliable checkpointing: persisted only while the eager checkpoint
      // writes the round, unpersisted in the same call
      "Dedup.scala" -> Set("truncate"),
      // the corpus projection every Lloyd iteration scans, and the one
      // every power-iteration round scans; both unpersisted before return
      "SimSearch.scala" -> Set("kmeansRun", "pcaTopCompute"),
      // one micro-batch and the merged state it folds into, unpersisted
      // when the batch ends
      "StreamingAdvisor.scala" -> Set("start"),
      // the filtered query log the export's artifacts all read, unpersisted
      // when the export ends
      "ReportExporter.scala" -> Set("export"))
    val found = mainSources().filter(_.getName != "Memo.scala").flatMap { f =>
      persistSites(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(f.getName -> _)
    }.toSet
    val offenders = found.filterNot { case (file, d) =>
      allowed.getOrElse(file, Set.empty[String]).contains(d) }
    assert(offenders.isEmpty, s"persist/cache outside graft.Memo: $offenders")
    val stale = allowed.toSeq.flatMap { case (f, ds) => ds.map(f -> _) }.toSet -- found
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  test("the persist gate names the enclosing def of an added persist") {
    val src = """object X {
      |  // a comment's .persist( does not count
      |  def `export`(df: DataFrame): Unit = df.cache()
      |  def keep(df: DataFrame) = {
      |    val y = 1
      |    df.persist(StorageLevel.MEMORY_ONLY)
      |  }
      |}""".stripMargin
    assert(persistSites(src) == Seq("export", "keep"))
  }

  /** The enclosing def of every `.persist(` / `.cache()` in `code`, comments
    * and scaladoc excluded. */
  private def persistSites(code: String): Seq[String] = {
    val lines = code.linesIterator
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .map(l => l.indexOf("//") match { case -1 => l; case i => l.substring(0, i) })
      .mkString("\n")
    val site = java.util.regex.Pattern.compile("""\.persist\(|\.cache\(\)""").matcher(lines)
    val defn = java.util.regex.Pattern.compile("""\bdef\s+`?(\w+)`?""")
    Iterator.continually(site).takeWhile(_.find()).map { hit =>
      val dm = defn.matcher(lines.substring(0, hit.start()))
      var name = "<none>"
      while (dm.find()) name = dm.group(1)
      name
    }.toSeq
  }

  test("grep gate: every Window.partitionBy file is in the audited window inventory") {
    // The r12 hot-key audit made every window partition bounded
    // (COVERAGE.md "Window inventory"): doc-bounded frames, per-entity
    // ordered histories, metadata-sized groups, sub-bucketed two-level
    // prefixes, or micro-batch-bounded state. This gate makes the audit
    // STANDING, per site: a file may hold exactly its audited number of
    // partitionBy windows, one reason each. A new window must be added
    // here with its boundedness class, or converted (max_by / TopKRows /
    // groupBy+join-back / two-level) like the thirteen r12 sites.
    val audited = Map(
      // fingerprintFrame doc_id frames (2) + matchSpans (pair, diagonal)
      // islands — doc-bounded
      "Winnow.scala" -> 3,
      // window_running_sum — declared-cut input (≤ 300 keys)
      // window_lag_lead — per-entity ordered history
      // gapfill_locf — locf over the (status × days) spine
      // window_ntile — in-bucket numbering (two-level)
      // q17_small_qty — per-part avg window (opt-r15): per-entity
      //   (l_partkey) frames, bounded by part fan-out; the window replaced
      //   a second fact scan + fact-sized join-back (one exchange serves
      //   avg + predicate)
      // cohort_retention — user over DISTINCT weeks (≤ #weeks rows)
      // scd2_intervals — entity history, declared-capped
      "RelationalKeys.scala" -> 7,
      // length_bucket_batches — in-sub numbering (two-level, 2 windows)
      // vocab_growth_curve — two-level bucket prefix
      // sample_weight_systematic — two-level (2 windows)
      "TextKeys.scala" -> 5,
      // text_tfidf — rank per doc
      // knn_classify — vote rank, ≤ nQueries(64) partitions of ≤ #labels
      //   rows (the post-TopKRows vote rollup)
      "RetrievalKeys.scala" -> 2,
      // cluster_keep_policy — ~256-doc clusters
      "DedupKeys.scala" -> 1,
      // rangePartitionBounds' group-offset window — the only global window
      // runs over the coarse-group subtotal frame (distinctKeys/groupWidth
      // rows)
      "Layout.scala" -> 1,
      // sessionize twin (entity)
      "StreamingUsage.scala" -> 1,
      // as-of running-last (2) — per-key ordered history
      "Temporal.scala" -> 2,
      // packSequences two-level shard prefix (2)
      "TextAnalysis.scala" -> 2)
    val sites = mainSources().map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // strip line comments so prose explaining WHY a window was removed
      // does not count as a site
      f.getName -> src.linesIterator
        .map(l => l.indexOf("//") match { case -1 => l; case i => l.substring(0, i) })
        .map(_.split("Window\\.partitionBy", -1).length - 1).sum
    }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
    val unaudited = sites.filter { case (f, n) => n > audited.getOrElse(f, 0) }
    assert(unaudited.isEmpty, s"unaudited Window.partitionBy sites (file -> count): $unaudited")
    // the inventory must not go stale either — a converted site comes OFF it
    val stale = audited.filter { case (f, n) => sites.getOrElse(f, 0) < n }
    assert(stale.isEmpty, s"stale window-audit entries (file -> audited count): $stale")
  }

  test("grep gate: only graft.streaming.VersionedState lists or deletes streaming state") {
    // the versioned-state rules (fresh-lineage sweep, merge base,
    // retention) live in one file; a listStatus or delete in another
    // streaming file is a new copy of them
    val owner = "VersionedState.scala"
    val dir = new java.io.File("src/main/scala/graft/streaming")
    assume(dir.isDirectory, "run from repo root")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    def uses(f: java.io.File) = {
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      src.contains("listStatus") || src.contains(".delete(")
    }
    val offenders = files.filter(uses).map(_.getName).toSet - owner
    assert(offenders.isEmpty, s"versioned-state rules outside $owner: $offenders")
    assert(files.exists(f => f.getName == owner && uses(f)), s"$owner no longer owns them")
  }

  test("self-hosted advisor: session serves the workload, then advises on it") {
    val recs = graft.pipeline.SelfHosting.adviseFromObservedWorkload(
      spark, sfDir, graft.catalog.TableRegistry.cannedQueries)
      .collect().map(r => r.getAs[String]("view") -> r.getAs[String]("partition_spec")).toMap
    // one row per profiled table, discovered from the session catalog
    assert(recs.keySet == graft.catalog.TableRegistry.profiledTables.toSet, recs.keySet.toString)
    // the workload's hottest table must get a real spec derived from its
    // own observed queries (q0 filters l_shipdate, q1 joins l_orderkey)
    val li = recs("lineitem")
    assert(li != null && li.nonEmpty, "no spec for lineitem")
  }
}
