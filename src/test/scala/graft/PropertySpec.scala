package graft

import graft.ext.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** ScalaCheck-style invariants over the fixture corpus (SURVEY §5 rule 3). */
class PropertySpec extends SparkSpec {

  private lazy val docs = graft.catalog.TableRegistry.table(spark, sfDir, "documents").cache()

  test("quality score stays in [0, 1]") {
    val mm = docs.select(TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("q"))
      .agg(min("q"), max("q")).collect()(0)
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("ExactMath.ratioRounded equals exact BigDecimal HALF_UP on random ratios") {
    import spark.implicits._
    // include hand-picked boundary cases: exact decimal halves with
    // non-dyadic denominators (the class that diverged live at sf0.1)
    val cases = Seq((9226L, 32000L, 6), (1L, 128L, 6), (7L, 3200L, 6),
      (1L, 2L, 0), (5L, 8L, 2), (1L, 64L, 5))
    def reference(a: Long, b: Long, p: Int): Double =
      (BigDecimal(a) / BigDecimal(b))
        .setScale(p, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def engine(a: Long, b: Long, p: Int): Double =
      Seq((a, b)).toDF("a", "b")
        .select(graft.ext.ExactMath.ratioRounded(col("a"), col("b"), p).as("r"))
        .collect()(0).getDouble(0)
    cases.foreach { case (a, b, p) =>
      assert(engine(a, b, p) == reference(a, b, p), s"case ($a, $b, $p)")
    }
    // randomized sweep runs through one Spark job over a generated frame
    // (per-row jobs would take minutes): generate pairs, evaluate the
    // expression column once, compare against the BigDecimal model
    val rnd = new scala.util.Random(8)
    val rows = Seq.fill(300) {
      (math.abs(rnd.nextLong()) % 4000000000L,
        math.abs(rnd.nextLong()) % 4000000000L + 1, rnd.nextInt(10))
    }
    rows.groupBy(_._3).foreach { case (p, grp) =>
      val got = grp.toDF("a", "b", "p")
        .select(col("a"), col("b"),
          graft.ext.ExactMath.ratioRounded(col("a"), col("b"), p).as("r"))
        .collect()
      got.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(r.getDouble(2) == reference(a, b, p), s"($a, $b, $p)")
      }
    }
  }

  test("poly fingerprint is stable and in [0, p)") {
    val a = docs.select(TextAnalysis.polyFingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0))
    val b = docs.select(TextAnalysis.polyFingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0))
    assert(a.sameElements(b))
    assert(a.forall(f => f >= 0 && f < 1000003L))
  }

  test("workload text-stats are mergeable: stats(A ∪ B) == re-agg(stats(A) ∪ stats(B)) for any split") {
    // the algebraic property the incremental streaming advisor rests on —
    // checked over several arbitrary disjoint splits of the fixture log,
    // including the degenerate empty/full split
    import graft.pipeline.AnalysisPipeline.textStatsOf
    val log = graft.catalog.TableRegistry.queryLog(spark, sfDir).cache()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), Option(r.get(2)), r.getDouble(3))
    val whole = textStatsOf(log).orderBy("query").collect().map(key).toSeq
    assert(whole.nonEmpty)
    for (m <- Seq(2L, 3L, 7L, 1L)) {
      val a = log.where(expr(s"CAST(query_id AS BIGINT) % $m = 0"))
      val b = log.where(expr(s"CAST(query_id AS BIGINT) % $m != 0"))
      val merged = textStatsOf(a).unionByName(textStatsOf(b))
        .groupBy("query")
        .agg(sum("cnt").as("cnt"), sum("sum_exec").as("sum_exec"),
          sum("sum_priority").as("sum_priority"))
        .orderBy("query").collect().map(key).toSeq
      assert(merged == whole, s"split mod $m diverged")
    }
    log.unpersist()
    ()
  }

  test("VectorDot dual-mode matches its reference model on random null-bearing arrays") {
    // eval-level property check of both null contracts against a direct
    // Scala model: skip mode == SUM-over-non-null-pairs; nullAsNull mode ==
    // the aggregate(zip_with) fold (NULL iff lengths differ or any common
    // position is null). Seeded RNG — failures reproduce.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(20260814L)
    def arr(): Array[Any] = Array.fill[Any](rnd.nextInt(6)) {
      if (rnd.nextInt(5) == 0) null else rnd.nextInt(100) / 10.0
    }
    val tpe = ArrayType(DoubleType, containsNull = true)
    (1 to 500).foreach { _ =>
      val (a, b) = (arr(), arr())
      val skipGot = graft.functions.VectorDot(
        Literal.create(a, tpe), Literal.create(b, tpe)).eval(null)
      val foldGot = graft.functions.VectorDot(
        Literal.create(a, tpe), Literal.create(b, tpe), nullAsNull = true).eval(null)
      val n = math.min(a.length, b.length)
      val pairs = (0 until n).map(i => (a(i), b(i)))
      val skipExp: Any = pairs.collect {
        case (x: Double, y: Double) => x * y
      }.foldLeft(0.0)(_ + _)
      val foldExp: Any =
        if (a.length != b.length || pairs.exists(p => p._1 == null || p._2 == null)) null
        else skipExp
      assert(skipGot == skipExp, s"skip: ${a.toSeq} · ${b.toSeq}")
      assert(foldGot == foldExp, s"fold: ${a.toSeq} · ${b.toSeq}")
    }
  }

  test("dedup_exact is idempotent (X1 property)") {
    val once = Dedup.exact(docs).cache()
    // feed the survivors back through: every group is now singleton
    val again = once.join(docs, Seq("doc_id")).select("doc_id", "text")
    val redup = Dedup.exact(again)
    assert(redup.where(col("dup_count") > 1).count() == 0)
    assert(redup.count() == once.count())
  }

  test("topk_rows == window top-k over randomized data / k / partitioning") {
    import graft.functions.TopKRows.topKRows
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val k = 1 + rng.nextInt(6)
      val nGroups = 1 + rng.nextInt(4)
      val nParts = 1 + rng.nextInt(11)
      // duplicate scores force tie-break paths; duplicate (score,id) rows
      // force full-equality comparisons in the heap
      val rows = Seq.fill(500)(
        (rng.nextInt(nGroups).toLong, rng.nextInt(20).toDouble, rng.nextInt(50).toLong))
      val df = spark.sparkContext.parallelize(rows, nParts).toDF("g", "score", "id")
      val viaAgg = df.groupBy("g")
        .agg(topKRows(struct(col("score"), col("id")), k).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), col("pos"), col("col.score"), col("col.id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
      val viaWindow = df
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(desc("score"), asc("id"))))
        .where(col("rn") <= k)
        .select(col("g"), (col("rn") - 1).as("pos"), col("score"), col("id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSet
      assert(viaAgg == viaWindow, s"trial=$trial k=$k groups=$nGroups parts=$nParts")
    }
  }

  test("approx percentile stays within tolerance band of exact (A4 rule)") {
    val li = graft.catalog.TableRegistry.table(spark, sfDir, "lineitem")
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.5D)").as("exact"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx"))
      .collect()(0)
    val (ex, ap) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(ap - ex) <= math.max(1.0, ex * 0.01), s"approx $ap vs exact $ex")
  }

  test("embedding near-dedup keeps at most all rows and survivors are stable") {
    val emb = graft.catalog.TableRegistry.table(spark, sfDir, "embeddings")
    val survivors = Dedup.embeddingNearDups(spark, emb, threshold = 0.9, idCap = 500)
    val n = survivors.count()
    assert(n > 0 && n <= emb.where(col("vec_id") < 500).count())
  }

  test("session-3 keys are pure functions of the data: invariant under input partitioning") {
    // the determinism property every hash-compared key rests on — run each
    // new operator over a repartitioned clone of its input and require
    // row-identical output
    def rowsOf(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq
    val baseline = Seq("inverted_index", "ngram_topk", "cohort_retention",
      "anomaly_mad", "cdc_merge_upsert", "q13_custdist", "q15_top_supplier",
      "partition_size_report")
      .map(k => k -> rowsOf(k))
    // perturb partitioning via a conf nudge (shuffle partitions) and rerun
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try baseline.foreach { case (k, want) =>
      assert(rowsOf(k) == want, s"$k diverged under a different partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("cohort_retention cells conserve the distinct (user, week) population") {
    // Σ n_users over all cells == |distinct (user, week)| — the matrix is a
    // partition of the distinct-pair population, nothing dropped or doubled
    val cells = SparkEntry.queries("cohort_retention")(spark, sfDir)
    val total = cells.agg(sum("n_users")).collect()(0).getLong(0)
    val pairs = graft.catalog.TableRegistry.table(spark, sfDir, "events")
      .selectExpr("user_id", "ts div 604800000000000 AS wk").distinct().count()
    assert(total == pairs, s"cells sum $total vs distinct pairs $pairs")
  }

  test("inverted_index postings are consistent: df counts match postings-head arithmetic") {
    val idx = SparkEntry.queries("inverted_index")(spark, sfDir).collect()
    idx.foreach { r =>
      val df = r.getAs[Long]("df")
      val head = r.getAs[String]("postings_head").split(",").filter(_.nonEmpty)
      // head is the first min(df, 16) ids, sorted strictly ascending
      assert(head.length == math.min(df, 16L), r.toString)
      val ids = head.map(_.toLong)
      assert(ids.sorted.sameElements(ids) && ids.distinct.length == ids.length, r.toString)
      assert(df >= 3, r.toString) // the emitted slice respects its own predicate
    }
  }

  test("trinoToSpark never touches string-literal content (mask round-trip invariant)") {
    // Adversarial literal contents: every trigger token the shim rewrites,
    // quote escapes, placeholder-shaped text, unicode. Embedded as a SQL
    // literal, each must come through the full rewrite pipeline VERBATIM —
    // and since nothing outside the literal is Trino-shaped, the whole text
    // must be the identity.
    val contents = Seq(
      "ARRAY[1, 2, 3]", "FETCH FIRST 10 ROWS ONLY", "CAST(x AS JSON)",
      "TABLESAMPLE BERNOULLI(10)", "  7  ", "' 3 '", "it''s",
      "TIMESTAMP WITH TIME ZONE", "CROSS JOIN UNNEST(a) AS t(c)",
      "\"quoted\"", "日本語 ARRAY[ mixed", "",
      "nested '' doubled '' quotes", "back`tick` and $dollar")
    contents.foreach { c =>
      val esc = c.replace("'", "''")
      val sql = s"SELECT col_a FROM some_table WHERE note = '$esc' AND x > 1"
      val out = graft.introspect.QueryIntrospector.trinoToSpark(sql)
      assert(out == sql, s"literal content mangled:\n in  $sql\n out $out")
    }
    // randomized sweep: arbitrary printable content round-trips
    val rnd = new scala.util.Random(17)
    val alphabet = "abc '[](),\"` 123ARRAYFETCH日".toCharArray
    (1 to 200).foreach { _ =>
      val c = Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val esc = c.replace("'", "''")
      val sql = s"SELECT a FROM t WHERE s = '$esc'"
      val out = graft.introspect.QueryIntrospector.trinoToSpark(sql)
      assert(out == sql, s"random literal mangled:\n in  $sql\n out $out")
    }
    // and rewrites OUTSIDE literals still fire with hostile literals nearby
    val mixed = graft.introspect.QueryIntrospector.trinoToSpark(
      "SELECT a FROM t WHERE s = 'ARRAY[9]' AND contains(ARRAY[1], b) FETCH FIRST 2 ROWS ONLY")
    assert(mixed == "SELECT a FROM t WHERE s = 'ARRAY[9]' AND contains(array(1), b) LIMIT 2",
      mixed)
  }

  test("SignPack matches a reference bit fold on random vectors (incl. signed zero)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(300) {
      Array.fill(rnd.nextInt(70)) {
        rnd.nextInt(5) match {
          case 0 => 0.0
          case 1 => -0.0
          case _ => rnd.nextGaussian()
        }
      }
    }
    def reference(v: Array[Double]): Long = {
      var code = 0L
      v.take(64).zipWithIndex.foreach { case (x, i) =>
        if (x >= 0.0) code |= (1L << i) // -0.0 >= 0.0 is true, like the SQL compare
      }
      code
    }
    val got = rows.toDF("v")
      .select(graft.ext.SimSearch.signCode(col("v")).as("c"))
      .collect().map(_.getLong(0))
    rows.zip(got).foreach { case (v, c) =>
      assert(c == reference(v), s"vector ${v.mkString(",")}")
    }
  }

  test("NfcNormalize is idempotent and equals java.text.Normalizer on random text") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // mix ASCII, precomposed/decomposed accents, CJK and bare combining marks
    val alphabet = ("abc XY9 \u00e9\u00c5" + "e\u0301A\u030a\u4e2d\u6587" + "\u0301").toCharArray
    val rows = Seq.fill(300)(
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val out = rows.toDF("t")
      .select(col("t"), graft.ext.TextAnalysis.nfc(col("t")).as("n1"))
      .withColumn("n2", graft.ext.TextAnalysis.nfc(col("n1")))
      .collect()
    out.foreach { r =>
      val (t, n1, n2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(n1 == java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC),
        s"engine NFC diverged from the JDK on ${t.map(_.toInt).mkString(",")}")
      assert(n2 == n1, s"NFC must be idempotent: ${t.map(_.toInt).mkString(",")}")
    }
  }

  test("winnowing guarantee holds on random corpora: every >=7-token shared run shares a fingerprint") {
    // Randomized sweep of the Schleimer et al. guarantee over the ENGINE
    // path (ext.Winnow, the fingerprint_winnowing core): 15 pairs with a
    // planted shared run of random length 7..12 spliced at random offsets
    // into otherwise-unique token streams, plus 10 fully unique docs.
    // Model side is brute force over the token arrays: for EVERY doc pair,
    // does a >=7-token shared run exist / does ANY 4-token shingle
    // coincide. Fixed seed -> deterministic, not flaky.
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    var uid = 0
    def freshToks(n: Int): Seq[String] =
      Seq.fill(n) { uid += 1; f"u$uid%05d${rnd.nextInt(100)}%02d" }
    val docs = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
    var id = 0L
    (0 until 15).foreach { p =>
      val run = (0 until 7 + rnd.nextInt(6)).map(j => f"run$p%02d_$j%02d")
      def host(): Seq[String] = {
        val (pre, post) = (freshToks(3 + rnd.nextInt(15)), freshToks(3 + rnd.nextInt(15)))
        pre ++ run ++ post
      }
      docs += ((id, host())); id += 1
      docs += ((id, host())); id += 1
    }
    (0 until 10).foreach { _ => docs += ((id, freshToks(8 + rnd.nextInt(30)))); id += 1 }

    val fps = graft.ext.Winnow.fingerprintFrame(
        docs.toSeq.map { case (d, ts) => (d, ts.mkString(" "), "src") }
          .toDF("doc_id", "text", "source"))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(_.getLong(2)).toSet }

    def sharedRun7(a: Seq[String], b: Seq[String]): Boolean = {
      val bset = b.sliding(7).filter(_.size == 7).toSet
      a.sliding(7).exists(w => w.size == 7 && bset.contains(w))
    }
    def sharedShingle(a: Seq[String], b: Seq[String]): Boolean = {
      val bset = b.sliding(4).filter(_.size == 4).toSet
      a.sliding(4).exists(w => w.size == 4 && bset.contains(w))
    }
    val all = docs.toSeq
    var positives = 0
    for (i <- all.indices; j <- (i + 1) until all.size) {
      val (da, ta) = all(i); val (db, tb) = all(j)
      val overlap = fps(da).intersect(fps(db)).nonEmpty
      if (sharedRun7(ta, tb)) {
        positives += 1
        assert(overlap, s"docs $da/$db share a >=7-token run but no fingerprint")
      } else if (!sharedShingle(ta, tb)) {
        // no common 4-shingle -> no common fingerprint is POSSIBLE except a
        // polyhash collision; with this fixed seed none occurs
        assert(!overlap, s"docs $da/$db share no 4-shingle yet share a fingerprint")
      }
    }
    assert(positives >= 15, s"sweep degenerate: only $positives guaranteed pairs")
  }
}
