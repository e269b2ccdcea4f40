package graft

import graft.catalog.TableRegistry
import org.apache.spark.sql.functions._

/** Physical-plan quality assertions (the 100 TB posture, SURVEY §4): filters
  * and projections must reach the parquet scan, small-side joins must
  * broadcast, partitioned writes must enable partition pruning. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown reaches the parquet scan") {
    val df = TableRegistry.table(spark, sfDir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select("l_orderkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), plan)
  }

  test("epoch-nanos time predicate pushes down through the normalizeTs boundary") {
    // normalizeTs makes ts a DERIVED column (unix_micros(cast)·1000), which
    // by itself strands time predicates above the scan — at 100 TB that
    // forfeits row-group pruning on the one column event tables are always
    // filtered by. EpochNanosPushdownRule must rewrite the comparison back
    // onto the raw TIMESTAMP_NTZ column.
    val df = TableRegistry.table(spark, sfDir, "events")
      .where(col("ts") >= lit(1705276800L * 1000000000L))
      .select("event_type")
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(!plan.toLowerCase.contains("unix_micros"), plan)
  }

  test("off-lattice null-safe time equality collapses to an empty relation, not a scan") {
    // ts <=> (non-1000-divisible literal) is constant-false; at pre-CBO
    // PruneFilters has already run, so the rule must do its own collapse
    // or the physical plan keeps a full parquet scan under Filter(false)
    val df = TableRegistry.table(spark, sfDir, "events")
      .where(col("ts") <=> lit(1705276800L * 1000000000L + 1L))
      .select("event_type")
    val plan = planOf(df)
    assert(!plan.contains("FileScan"), plan)
    assert(plan.contains("LocalTableScan") || plan.contains("EmptyRelation"), plan)
    assert(df.count() == 0)
  }

  test("normalizeTs projection does not defeat events column pruning") {
    // ts is a derived column (Project over the scan); a query not touching
    // it must not drag the raw timestamp through the scan
    val df = TableRegistry.table(spark, sfDir, "events").select("event_type")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<event_type:string>"), plan)
  }

  test("column pruning: scan reads only projected columns") {
    val df = TableRegistry.table(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("broadcast join is planned for the explicitly-broadcast dimension") {
    val df = TableRegistry.table(spark, sfDir, "orders")
      .join(broadcast(TableRegistry.table(spark, sfDir, "customer")),
        col("o_custkey") === col("c_custkey"), "left")
    assert(planOf(df).contains("BroadcastHashJoin"), planOf(df))
  }

  test("whole-stage codegen covers the flagship aggregate") {
    val df = Queries.queries("q1_agg")(spark, sfDir)
    df.collect() // AQE only shows codegen spans in the finalized plan
    // codegen'd operators render with the "*(stageId)" prefix
    val plan = planOf(df)
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan)
    assert(plan.contains("*(2) HashAggregate") || plan.contains("*(1) HashAggregate"), plan)
  }

  test("partitioned write enables partition pruning on read (T5 goal)") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    TableRegistry.table(spark, sfDir, "lineitem")
      .withColumn("ship_month", date_trunc("month", col("l_shipdate")).cast("date"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(out)
    val pruned = spark.read.parquet(out).where(col("ship_month") === "1995-03-01")
    val plan = planOf(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(ship_month"), plan)
    // the pruned scan must touch at most one partition directory
    val scanned = pruned.select(input_file_name()).distinct().count()
    assert(scanned <= 1, s"read $scanned files")
  }

  test("bucketed tables join without a shuffle (co-located join path)") {
    TableRegistry.table(spark, sfDir, "lineitem")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    TableRegistry.table(spark, sfDir, "orders")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = planOf(joined)
      // bucketed SMJ: no Exchange below the join (only the final agg may shuffle)
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan)
      assert(!plan.substring(joinIdx).contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // one dominant key: ~50k rows on key 1, a handful elsewhere
      val left = spark.range(0, 50000).select(lit(1L).as("k"), col("id").as("v"))
        .union(spark.range(0, 64).select((col("id") % 8 + 2).as("k"), col("id").as("v")))
      val right = spark.range(0, 10).select(col("id").as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      joined.collect() // run THIS plan so AQE finalizes it
      val plan = planOf(joined)
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("dynamic partition pruning fires on a partitioned fact × filtered dim join") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    TableRegistry.table(spark, sfDir, "lineitem")
      .withColumn("ship_month", date_trunc("month", col("l_shipdate")).cast("date"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(out)
    val fact = spark.read.parquet(out)
    // dim carries the partition key; only after the dim's own filter runs is
    // the partition set known — exactly the DPP shape (prune at runtime via
    // the broadcast result, not statically)
    val dim = fact.select(col("ship_month").as("m")).distinct()
      .withColumn("tag", (month(col("m")) % 7).cast("int"))
    val joined = fact.join(broadcast(dim),
      col("ship_month") === col("m") && col("tag") === 3)
    val plan = planOf(joined)
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    assert(joined.count() > 0)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // fixtures are far below the 10 GiB production threshold — drop it so
      // the rewrite fires here; the injected shape (bloom agg on the filtered
      // build side, might_contain guarding the probe scan) is what matters
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join path
      val li = TableRegistry.table(spark, sfDir, "lineitem")
      val sel = TableRegistry.table(spark, sfDir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        opt.take(3000))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("IVF top-k: probe prunes before cosine, corpus vectors never ride a shuffle") {
    // r14 shape (the literal-centroid projection is retired — verdict item
    // 2): assignment is the shared broadcast-frame argmin, so the plan
    // legitimately contains the BroadcastNestedLoopJoin expansion, a
    // SKINNY (vec_id, min-struct) exchange for the argmin, and a broadcast
    // join of the probe-filtered id set back onto the corpus. What must
    // still hold at 100 TB: the final ranking is TakeOrdered (no corpus
    // window/sort), the probe filter lands BEFORE the cosine projection
    // (pruning 12/16 of the corpus ahead of distance math), and no
    // SHUFFLE exchange ever carries the vector column — vectors move only
    // via broadcast or stay in their scan partition.
    val emb = TableRegistry.table(spark, sfDir, "embeddings")
    val df = graft.ext.SimSearch.ivfTopK(spark, emb, queryVecId = 0, k = 10,
      nCentroids = 16, nProbe = 4)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the probe filter renders as `mc.ci IN (…)` on a fresh build, or as
    // `cluster#N IN (…)` when a prior suite's memoized assignment frame is
    // cache-substituted (CacheManager swaps any matching subtree) — both
    // are the same pre-cosine prune
    assert("""(\.ci|cluster#\d+) IN \(""".r.findFirstIn(plan).isDefined,
      s"probe filter missing:\n$plan")
    // every shuffle exchange's hashpartitioning key set is vec_id-only and
    // its child output carries no vector column (the struct min is (m, ci)
    // doubles — skinny); "v#" appearing in an Exchange line would mean the
    // corpus re-shuffled
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(_.contains("vec_id")), exchanges.mkString("\n"))
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("v#")),
      s"a shuffle carries the vector column:\n$plan")
  }

  test("filtered ANN: the label predicate reaches the parquet scan BEFORE any distance math") {
    // X61's whole point at 100 TB: a pushed label filter means 90% of row
    // groups never decode an embedding. Fresh parquet copy — the suite
    // caches the embeddings scan, and an InMemoryTableScan substitution
    // would hide the PushedFilters line (the assignment-pin remedy).
    val tmp = java.nio.file.Files.createTempDirectory("planspec_femb").toString
    TableRegistry.table(spark, sfDir, "embeddings").write.mode("overwrite").parquet(tmp)
    val emb = spark.read.parquet(tmp)
    val df = graft.ext.SimSearch.filteredTopK(spark, emb, queryVecId = 0,
      k = 10, labelValue = 3)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)")
      || plan.contains("EqualTo(label,3)"), s"label filter not pushed:\n$plan")
    // corpus stage ends in TakeOrdered; the only join is the broadcast of
    // the single query row; nothing shuffles
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("capped exact self-join pushes the id bound into both scan sides") {
    val emb = TableRegistry.table(spark, sfDir, "embeddings")
    val df = graft.ext.SimSearch.exactSelfJoin(spark, emb, threshold = 0.30,
      idCap = Some(500L))
    val plan = planOf(df)
    // the declared-key contract: the cartesian region is bounded BEFORE the
    // join — both scan sides carry the vec_id predicate. Depending on
    // whether another suite left the embeddings scan cached, the pushed
    // bound renders as parquet `PushedFilters: [LessThan(vec_id,500)]` or
    // as an InMemoryTableScan filter `vec_id#NL < 500` — accept either.
    val pushes = "LessThan\\(vec_id,500\\)|vec_id#\\d+L? < 500".r
      .findAllIn(plan).size
    assert(pushes >= 2, s"cap not pushed to both sides ($pushes):\n$plan")
  }

  test("q19's OR-of-ANDs plans as an equi-key hash join, disjunction post-join") {
    // the Q19 trap: a planner that can't extract the common l_partkey =
    // p_partkey equi-key from the disjunction falls back to a nested-loop
    // cross product. No broadcast HINT in the query (part scales with SF);
    // run the query so AQE finalizes, then assert the join family.
    val df = Queries.allSpecs.find(_.name == "q19_disjunctive").get.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // any equi-key join family proves the extraction worked: broadcast/
    // shuffled hash (AQE's picks here) or sort-merge (e.g. under a lower
    // autoBroadcastJoinThreshold) — the trap is only the nested-loop families
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("token_cooccurrence pairs are row-local — no pair join, partial agg in the scan stage") {
    // the bounded-at-scale guarantee, r13 form: pair generation is the
    // WindowPairs.pairs kernel over each row's token array (fan-out k×tokens by
    // construction — the r4 vocabulary² trap cannot re-enter without
    // reintroducing a join), so the ONLY joins in the plan are the small
    // unigram-count/total joins AFTER aggregation, and the pair stream
    // must hit a partial HashAggregate before any Exchange
    val df = Queries.allSpecs.find(_.name == "token_cooccurrence").get.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowPairs.pairs("), s"pair kernel missing:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // no join keyed on doc_id/pos anywhere — pair work never shuffles raw
    assert(!"(?s)Join.{0,200}doc_id#\\d+".r.findFirstIn(plan).isDefined,
      s"a doc-keyed pair join re-entered:\n$plan")
    // partial aggregation combines pairs map-side before the exchange
    assert("(?s)HashAggregate.{0,400}partial_count".r.findFirstIn(plan).isDefined,
      s"no map-side partial aggregation over the pair stream:\n$plan")
  }

  test("decontaminate_embedding broadcasts the eval side — corpus side scans once, no shuffle before the rollup") {
    // the scale contract of the eval-set comparison family (shared with
    // decontaminate_ngram): the tiny held-out side must BROADCAST so the
    // per-pair work rides a single corpus scan; the only Exchanges allowed
    // are the per-vector / per-label aggregations AFTER the pair work
    val df = Queries.allSpecs.find(_.name == "decontaminate_embedding").get.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // no SortMergeJoin/ShuffledHashJoin anywhere: nothing corpus-sized is
    // ever shuffled for the comparison itself
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("declared query key names are unique (Map construction would silently shadow)") {
    val names = Queries.allSpecs.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate key names: $dups")
  }

  test("NO declared query key plans an unbounded CartesianProduct") {
    // the one scale-killer class a declared key must never ship: a cross
    // product where neither side is broadcast. BroadcastNestedLoopJoin over
    // a bounded/1-row side (topK's query vector, capped exact join) is
    // acceptable; CartesianProductExec is not. Sink keys write to tmp dirs
    // during plan construction — that's their normal contract.
    val offenders = Queries.allSpecs.flatMap { spec =>
      try {
        val plan = planOf(spec.fn(spark, sfDir))
        if (plan.contains("CartesianProduct")) Some(spec.name) else None
      } catch {
        case e: Throwable => Some(s"${spec.name} (failed to plan: ${e.getMessage.take(60)})")
      }
    }
    assert(offenders.isEmpty, s"unbounded cross products in: $offenders")
  }

  test("querylog derivation stays a single scan with no shuffle") {
    val df = TableRegistry.queryLog(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan)
  }

  test("epoch-nanos pushdown declines safely through a cached events table") {
    // Caching materializes the derived ts (epoch-nanos long) into the
    // InMemoryRelation's output, so a later filter compares a PLAIN long
    // attribute — no UnixMicros node exists and the rule must no-op (its
    // cheap existence bail), leaving Spark to push the comparison into the
    // InMemoryTableScan's cached-batch stats filter. The 100×-scale shape:
    // a hot events window cached by a long-lived advisor session.
    val cutoff = 1704067200L * 1000000000L
    val base = TableRegistry.table(spark, sfDir, "events")
    val cached = base.cache()
    try {
      cached.count() // materialize
      val filtered = cached.where(col("ts") >= lit(cutoff)).select("event_type")
      val plan = planOf(filtered)
      // the long comparison must be pushed into the in-memory scan's
      // cached-batch stats predicates (the plan string also prints the
      // cache's BUILD plan, so a FileScan appearing under the
      // InMemoryRelation is expected and fine)
      val imtsLine = plan.linesIterator.find(_.contains("InMemoryTableScan")).getOrElse("")
      assert(imtsLine.contains(">= 1704067200000000000"), plan)
      val expect = base.where(col("ts") >= lit(cutoff)).count()
      assert(filtered.count() == expect)
    } finally cached.unpersist()
  }

  test("ngram_topk plans a partial-heap top-k, not a global sort") {
    val df = SparkEntry.queries("ngram_topk")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), plan) // no full sort of the n-gram space
  }

  test("cohort_retention computes the cohort with ONE user_id shuffle and no self-join") {
    val df = SparkEntry.queries("cohort_retention")(spark, sfDir)
    df.collect() // finalize under AQE
    val plan = planOf(df)
    assert(!plan.contains("Join"), plan) // window over user partition, not a join back
    // shuffles: distinct → user_id window → cell rollup → presentation sort.
    // Count only the finalized section — the AQE string repeats the plan
    // under "== Initial Plan ==" and would double every Exchange.
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(finalPlan).size <= 4, plan)
  }

  test("epoch-nanos pushdown survives AQE re-optimization (shuffled agg over a time filter)") {
    // AQE replans physical stages at runtime; the logical rewrite runs once
    // pre-CBO and its pushed predicate must still be on the finalized
    // adaptive plan's parquet scan.
    val cutoff = 1704067200L * 1000000000L
    val df = TableRegistry.table(spark, sfDir, "events")
      .where(col("ts") >= lit(cutoff))
      .groupBy("event_type").count()
    df.collect() // run so AQE finalizes the stages
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(!plan.toLowerCase.contains("unix_micros"), plan)
  }

  test("hard-negative mining broadcasts anchors — corpus never shuffles by value") {
    // the contrastive-miner scale contract (same family as
    // decontaminate_embedding): the 8-anchor side broadcasts, pair work
    // rides a single corpus scan, and the only exchange after it is the
    // bounded-heap TopKRows partial aggregation
    val df = Queries.allSpecs.find(_.name == "mine_hard_negatives").get.fn(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("partial_topkrows"), plan)
  }

  test("semantic dedup pairs through an EQUI join on the cluster id") {
    // SemDeDup's whole point is that pairing is cluster-local: the pair
    // join must key on the cluster id (shuffle/broadcast HASH join), never
    // degenerate to a nested-loop over the corpus. Pinned over a PLANTED-
    // duplicate corpus (the Queries11Spec fixture), NOT the sf fixture:
    // the fixture has zero semantic dups, so over it AQE's empty-relation
    // propagation legitimately deletes the pair join from the final plan
    // once a warmer suite has cached the assignment — an order-dependent
    // false failure of this pin (caught in the r13 full-suite run). With a
    // real dup the join must survive to the final adaptive plan. The
    // ASSIGNMENT build legitimately contains a BroadcastNestedLoopJoin
    // (corpus × broadcast centroid frame — the r13 assignment pin), so the
    // no-nested-loop claim is scoped to the plan ABOVE the pair join's
    // first exchange over the assignment frame.
    import spark.implicits._
    val base = (0 until 23).map { i =>
      (i.toLong, Array.tabulate(23)(j => if (j == i) 1.0f else 0.0f))
    }
    val emb = (base :+ ((23L, base(10)._2))).toDF("vec_id", "embedding")
    val df = graft.ext.SimSearch.semanticDedup(emb, k = 4, threshold = 0.9)
    df.collect()
    val plan = planOf(df)
    // scope to the final adaptive plan when present (the initial plan
    // would show the join even if AQE had deleted it at runtime); split at
    // the TOP-LEVEL marker: the memoized assignment prints as an
    // InMemoryRelation whose own adaptive plan, initial plan included,
    // sits inside the final plan
    val finalPlan = plan.split("(?m)^\\+- == Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // the pair join itself: a hash/merge EQUI join keyed on the cluster id
    assert(finalPlan.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("cluster")), finalPlan)
  }

  test("cluster assignment plans a broadcast centroid join, not a k-literal projection") {
    // r13 scale fix (verdict item 1): with k = n/256, the r12 form unrolled
    // k literal-centroid dot products into the plan — O(k) codegen and a
    // driver-side k×dim collect (~50 GB of plan literals at 100 TB). The
    // assignment must now (a) move centroids as a BROADCAST FRAME (torrent
    // blocks, never plan literals), and (b) keep plan SIZE k-independent:
    // one VectorDot against the joined centroid column, however large k.
    import graft.ext.SimSearch
    // fresh parquet copy: Spark's CacheManager substitutes any plan SUBTREE
    // matching a cached plan, and the suite caches the k=8 assignment over
    // the fixture path — a cache hit would swap in the memoized frame and
    // its embedded build plan (the ReadSchema-pruning corollary in the
    // r11 notes; same remedy)
    val tmp = java.nio.file.Files.createTempDirectory("planspec_emb").toString
    TableRegistry.table(spark, sfDir, "embeddings").write.mode("overwrite").parquet(tmp)
    val emb = spark.read.parquet(tmp)
    val plan = planOf(SimSearch.assignClusters(emb, SimSearch.scaledK(emb)))
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"), plan)
    // k-independence: the old unrolled form mentioned vectordot ~2k times
    // (one per argmin branch), so doubling k doubled the plan. Now the
    // expansion computes ONE dot against the joined centroid column and the
    // count must not move with k at all. (Absolute thresholds are no good:
    // scan-filter mentions and AQE reprints vary with suite order.)
    def dots(k: Int): Int =
      "vectordot".r.findAllIn(planOf(SimSearch.assignClusters(emb, k)).toLowerCase).size
    assert(dots(8) == dots(200),
      s"vectordot count moved with k (${dots(8)} at k=8 vs ${dots(200)} at k=200) — k leaked into plan size")
    // the argmin is a (m, ci) min-struct aggregate with map-side combine
    assert(plan.toLowerCase.contains("partial_min"), plan)
  }

  test("k-means E-step rides the broadcast-frame argmin (r14: the literal path is retired)") {
    // kmeansIterate and kmeansRun now route through the SAME argminAssign
    // as assignClusters — the literal-unrolled nearestCentroid no longer
    // exists as a callable, so this pin is about the surviving callers:
    // the E-step plan must show the broadcast centroid frame and the
    // min-struct partial aggregate, and NO per-centroid literal arrays.
    import graft.ext.SimSearch
    val emb = TableRegistry.table(spark, sfDir, "embeddings")
    val iterPlan = planOf(SimSearch.kmeansIterate(spark, emb, k = 8))
    assert(iterPlan.contains("BroadcastNestedLoopJoin")
      || iterPlan.contains("BroadcastExchange"), iterPlan)
    assert(iterPlan.toLowerCase.contains("partial_min"), iterPlan)
    // the matrix-backed frame (kmeansRun's per-iteration E-step) plans the
    // same shape: broadcast + min-struct, one VectorDot however large k
    val cents = SimSearch.seedCentroids(emb, 8)
    val cf = SimSearch.centroidFrameOf(spark, cents)
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val stepPlan = planOf(
      e.crossJoin(broadcast(cf))
        .select(col("vec_id"), struct(
          (SimSearch.dot(col("v"), col("cv")) * -2.0 + col("c2")).as("m"),
          col("ci")).as("mc"))
        .groupBy("vec_id").agg(min(col("mc")).as("mc")))
    assert(stepPlan.contains("BroadcastNestedLoopJoin")
      || stepPlan.contains("BroadcastExchange"), stepPlan)
    assert(stepPlan.toLowerCase.contains("partial_min"), stepPlan)
  }

  test("dsir scoring scans documents at most twice, totals ride a 1-row broadcast") {
    // two passes by design (vocabulary counts — memoized, so the totals
    // scalar and the weight frame share ONE build; candidate-doc join). A
    // cached frame's plan string embeds its build plan (one scan mention
    // per InMemoryTableScan consumer), so count SCAN OPERATORS, not
    // mentions: FileScan lines referencing documents.
    val df = Queries.allSpecs.find(_.name == "select_dsir").get.fn(spark, sfDir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val scans = plan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(scans <= 2, s"documents scanned $scans times:\n$plan")
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("two-stage retrievers: corpus stage ends in TakeOrdered, query side broadcasts") {
    // simsearch_hamming / simsearch_matryoshka: the only corpus-wide work
    // is one scan joined (broadcast-nested-loop against the ONE query row)
    // and cut by TakeOrderedAndProject on an integer key. A sort-merge join
    // or a global Sort here would mean the candidate stage shuffles the
    // corpus; the exact re-rank may do what it likes — it sees ≤ `cand`
    // rows by construction.
    for (key <- Seq("simsearch_hamming", "simsearch_matryoshka")) {
      val df = Queries.allSpecs.find(_.name == key).get.fn(spark, sfDir)
      df.collect()
      val plan = planOf(df).split("== Initial Plan ==")(0)
      assert(plan.contains("TakeOrderedAndProject"), s"$key:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$key must not shuffle or loop the corpus:\n$plan")
      assert(plan.contains("BroadcastExchange"), s"$key query row must broadcast:\n$plan")
    }
  }

  test("fingerprint_winnowing: text pruned at the scan, no posting window, no posting² join") {
    // The winnowed-index shape: per-doc windows + a grouped min/df pass on
    // the fingerprint + equi-join back. A CartesianProduct or nested-loop
    // pair join would be the posting² trap the key exists to avoid, and the
    // scan must read only (doc_id, text, source), never lang/n_chars.
    // FRESH path, not sfDir: PropertySpec caches the sfDir documents table
    // in the shared session, and a cache-hit swaps the parquet scan for an
    // InMemoryTableScan whose BUILD plan reads every column — the ReadSchema
    // assertions below would then test the other suite's cache, not this
    // key's pruning (suite-order dependent; the known cached-plan pitfall).
    val freshDir = java.nio.file.Files.createTempDirectory("graft_wplan").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      java.nio.file.Paths.get(s"$freshDir/documents.parquet"))
    val df = SparkEntry.queries("fingerprint_winnowing")(spark, freshDir)
    df.collect() // finalize under AQE
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && readSchema.contains("source"), readSchema)
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"), readSchema)
  }

  test("r12 window-audit conversions: no data-proportional window partitions remain") {
    // Converted from whole-partition windows on low-cardinality / hot-able
    // keys (status, returnflag, user_id, stratum) to partial-aggregable
    // groupBy + broadcast join back: no Window operator at all, and the
    // aggregate must combine map-side.
    for ((key, partialFn) <- Seq(
        "cdc_merge_upsert" -> "partial_max_by",
        "transform_zscore" -> "partial_count",
        "window_rank_family" -> "partial_topkrows",
        "window_range_frame" -> "partial_count")) {
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.collect() // finalize under AQE
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(!plan.contains("Window"), s"$key: window survived:\n$plan")
      assert(plan.contains(partialFn), s"$key: no map-side combine ($partialFn):\n$plan")
    }
    // Two-level prefix keys: every remaining window is sub-bucketed (its
    // spec mentions the bucket column), so no frame is corpus-proportional.
    for ((key, bucketCol) <- Seq(
        "sample_weight_systematic" -> "bkt",
        "length_bucket_batches" -> "sub",
        "pack_sequences" -> "_sub",
        // r12 follow-up: ntile is closed-form arithmetic over a two-level
        // rank — the in-bucket row_number windows on bkt, and the only
        // un-partitioned window is the domain-bounded bucket-count prefix
        // (whose spec ALSO orders on bkt, so the same pin covers it)
        "window_ntile" -> "bkt")) {
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.collect()
      val plan = planOf(df).split("== Initial Plan ==").head
      val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toList
      assert(specs.nonEmpty, s"$key: expected sub-bucketed windows:\n$plan")
      specs.foreach(sp =>
        assert(sp.contains(bucketCol), s"$key window not sub-bucketed: $sp"))
    }
    // window_running_sum: the declared-surface cut commutes with the prefix
    // frame and must reach the scan BELOW the window
    val wrs = SparkEntry.queries("window_running_sum")(spark, sfDir)
    assert(planOf(wrs).contains("LessThan(o_orderkey,300)"), planOf(wrs))
    // sample_topk_stratum: heap pick set + broadcast semi-join, no
    // row_number window over the stratum
    val sts = SparkEntry.queries("sample_topk_stratum")(spark, sfDir)
    sts.collect()
    val splan = planOf(sts).split("== Initial Plan ==").head
    assert(!splan.contains("Window"), splan)
    assert(splan.contains("partial_topkrows") && splan.contains("BroadcastHashJoin"), splan)
  }

  test("posting-frequency family: partial aggregate feeds the shuffle, windows only doc-bounded") {
    // fingerprint_winnowing / span_dup_fraction: the global posting-frequency
    // pass must be groupBy(postingKey).agg + join-back — map-side combine
    // collapses a hot boilerplate fingerprint/shingle to one partial row per
    // mapper BEFORE the shuffle, and the join-back is AQE-skew-splittable.
    // The previous Window.partitionBy(fp|shh) form shipped every row of a
    // hot posting to ONE unsplittable task: at 100 TB a boilerplate shingle
    // in 10% of docs makes one data-proportional straggler partition.
    for (key <- Seq("fingerprint_winnowing", "span_dup_fraction")) {
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.collect() // finalize under AQE
      val plan = planOf(df).split("== Initial Plan ==").head
      // map-side combine exists: a partial_count-mode HashAggregate
      assert(plan.contains("partial_count"), s"$key: no map-side combine:\n$plan")
      // any surviving Window partitions by doc_id only (frames bounded by
      // doc length) — never by the data-proportional posting key
      val winKeys = "windowspecdefinition\\(([A-Za-z_]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet
      assert(winKeys.subsetOf(Set("doc_id")), s"$key windows on $winKeys:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$key: unbounded pair join:\n$plan")
    }
  }
}
