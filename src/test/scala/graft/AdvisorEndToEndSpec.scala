package graft

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.recommend.SpecParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The advisor loop closed end to end: recommendation text → SpecParser →
  * partitionBy write → partition-pruned scan of the recommended layout.
  * This is the outcome the reference only ever *emitted DDL for*. */
class AdvisorEndToEndSpec extends SparkSpec {

  test("orders recommendation materializes and prunes") {
    // 1. advisor recommends (deterministic: year(o_orderdate) is in the spec)
    val rec = AnalysisPipeline.run(spark, sfDir)
      .where(col("view") === "orders").collect()(0)
    val specs = rec.getAs[String]("partition_spec").split(",\n").map(_.trim)
    val dateSpec = specs.find(_.startsWith("year(")).getOrElse(fail(s"no date spec in ${specs.toSeq}"))

    // 2. spec text drives the physical layout
    val orders = TableRegistry.table(spark, sfDir, "orders")
    val (srcCol, partCol) = SpecParser.toColumn(dateSpec, orders)
    assert(srcCol == "o_orderdate")
    val out = java.nio.file.Files.createTempDirectory("graft_advisor_e2e").toString
    orders.withColumn("p", partCol)
      .repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(out)

    // 3. the recommended layout prunes: a one-year predicate touches only
    // that year's partition
    val years = spark.read.parquet(out)
      .select(year(col("p")).as("y")).distinct().collect().map(_.getInt(0)).sorted
    assert(years.length > 1, s"need multiple year partitions, got ${years.toSeq}")
    val target = years(years.length / 2)
    val pruned = spark.read.parquet(out).where(year(col("p")) === target)
    val filesRead = pruned.select(input_file_name()).distinct().count()
    val totalFiles = spark.read.parquet(out).select(input_file_name()).distinct().count()
    assert(filesRead < totalFiles, s"pruning read $filesRead of $totalFiles files")
    // and the data is intact
    val cnt = pruned.count()
    val expect = orders.where(year(col("o_orderdate")) === target).count()
    assert(cnt == expect)
  }

  test("catalog discovery: advisor runs on registered temp views, no fixture registry") {
    // a user's "warehouse": two tables registered in the session catalog
    // under names the fixture registry does NOT know
    spark.read.parquet(s"$sfDir/orders.parquet").createOrReplaceTempView("cat_orders")
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("cat_customer")
    val mine = Set("cat_orders", "cat_customer")

    // discovery sees exactly the registered views, with their real columns
    val metas = TableRegistry.fromCatalog(spark, nameFilter = mine)
    assert(metas.map(_.view).toSet == mine)
    assert(metas.find(_.view == "cat_orders").get.columns.contains("o_orderdate"))

    // a workload over those names (same schema as the engine query log)
    val log = TableRegistry.queryLog(spark, sfDir).withColumn("query",
      when(col("query").isNotNull,
        lit("SELECT o_orderkey FROM cat_orders JOIN cat_customer ON o_custkey = c_custkey WHERE o_totalprice > 150000.0")))

    val recs = AnalysisPipeline.runFromCatalog(spark, log, nameFilter = mine)
      .collect().map(r => r.getAs[String]("view") -> r.getAs[String]("partition_spec")).toMap
    assert(recs.keySet == mine)
    // the advisor must produce a real spec whose every candidate is an
    // actual column of the discovered table (the workload steers WHICH
    // columns win; discovery guarantees they exist)
    val ordersSpec = recs("cat_orders")
    assert(ordersSpec != null && ordersSpec.nonEmpty, "no spec recommended for cat_orders")
    val orderCols = metas.find(_.view == "cat_orders").get.columns
    val specCols = ordersSpec.split(",\n").map(_.trim)
    assert(specCols.nonEmpty)
    specCols.foreach { s =>
      assert(orderCols.exists(s.contains), s"spec entry '$s' references no cat_orders column")
    }
    // and the workload's hot join key made the cut
    assert(ordersSpec.contains("o_custkey"), s"expected workload-driven o_custkey, got: $ordersSpec")
  }

  test("advisor degrades gracefully on an empty table (no rows, real schema)") {
    spark.read.parquet(s"$sfDir/orders.parquet").where(lit(false))
      .createOrReplaceTempView("empty_orders")
    val log = TableRegistry.queryLog(spark, sfDir).withColumn("query",
      when(col("query").isNotNull, lit("SELECT * FROM empty_orders WHERE o_totalprice > 0")))
    // must not throw (empty aggregates/percentiles are null-tolerant);
    // recommendations fall back to workload-derived weights
    val recs = AnalysisPipeline.runFromCatalog(spark, log, nameFilter = Set("empty_orders"))
      .collect()
    assert(recs.length == 1 && recs(0).getAs[String]("view") == "empty_orders")
  }

  test("balance vetting demotes a skewed candidate and keeps a balanced one") {
    import graft.recommend.Balance
    // 10k rows: hot_col concentrates 99% of rows on one value (the skew the
    // what-if check exists to catch); good_col is uniform over 16 values
    val df = spark.range(10000).select(
      when(col("id") % 100 =!= 0, lit("hot"))
        .otherwise(concat(lit("c"), col("id") % 37)).as("hot_col"),
      (col("id") % 16).as("good_col"))
    val vetted = Balance.vet(Seq(
      ("t", "hot_col", 1L, "hot_col"),
      ("t", "good_col", 2L, "good_col")), _ => df, maxSkew = 8.0)
    val byCol = vetted.map(v => v.column -> v).toMap
    assert(!byCol("hot_col").accepted, s"skewed candidate survived: ${byCol("hot_col")}")
    assert(byCol("hot_col").reason.contains("skew"))
    assert(byCol("hot_col").skew > 8.0)
    assert(byCol("good_col").accepted)
    assert(byCol("good_col").skew == 1.0) // 16 × 625 exactly
    // a constant column = single partition: no pruning value, demoted
    val const = Balance.vet(Seq(("t", "c", 1L, "c")),
      _ => spark.range(10).select(lit("x").as("c")), maxSkew = 8.0)
    assert(!const.head.accepted && const.head.reason.contains("single partition"))
    // an empty table vacuously accepts (nothing to balance)
    val empty = Balance.vet(Seq(("t", "c", 1L, "c")),
      _ => spark.range(10).select(lit("x").as("c")).where(lit(false)), maxSkew = 8.0)
    assert(empty.head.accepted && empty.head.nRows == 0L)
  }

  test("vet batches all of one view's fragments into a single pass (r9 #3)") {
    import graft.recommend.Balance
    // equivalence first: the grouping-sets pass must reproduce the
    // one-at-a-time stats exactly, across fragment SHAPES (bare column,
    // bucket(n, c), month(c)) and including a null-valued partition column
    val withNulls = spark.range(20000).select(
      when(col("id") % 100 === 0, lit(null)).otherwise(col("id") % 16).as("a"),
      (col("id") % 7).as("b"),
      timestamp_seconds(col("id") * 86400 % 63072000).as("ts"))
    val frags = Seq("a", "b", "bucket(8, b)", "month(ts)")
    val all = Balance.evidenceAll(withNulls, frags)
    frags.foreach { f =>
      val one = {
        val (_, pv) = SpecParser.toColumn(f, withNulls)
        val g = withNulls.groupBy(pv.as("pv")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)), sum("n"), max("n")).collect()(0)
        (g.getLong(0), g.getLong(1), g.getLong(2))
      }
      assert((all(f).nPartitions, all(f).nRows, all(f).maxRows) == one,
        s"batched evidence for '$f' diverged: ${all(f)} vs $one")
    }
    // job shape: 4 candidates on ONE view must cost ONE SQL execution
    // (single scan + grouping-sets aggregate), not one job per candidate
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ => ()
        }
    }
    // deterministic delivery: drain the listener bus before reading the
    // counter on either side (quiescence-polling flakes under host load —
    // the ListenerSpec lesson)
    def drained(): Int = {
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      execs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = drained() // flush stragglers from earlier actions
      val vetted = Balance.vet(
        frags.zipWithIndex.map { case (f, i) => ("t", f, (i + 1).toLong, f) },
        _ => withNulls, maxSkew = 1e9)
      assert(vetted.size == 4 && vetted.forall(_.accepted))
      val after = drained()
      assert(after - before == 1,
        s"4 candidates on one view cost ${after - before} SQL executions, want 1")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runVetted: every recommendation flows through its own balance evidence") {
    val (recs, evidence) = AnalysisPipeline.runVetted(spark, sfDir, maxSkew = 8.0)
    val ev = evidence.collect()
    assert(ev.nonEmpty, "no candidates vetted")
    // evidence is well-formed: skew is max/mean, so >= 1 on any non-empty table
    ev.foreach { r =>
      assert(r.getAs[Double]("skew") >= 1.0, r.toString)
      assert(r.getAs[Long]("nRows") >= r.getAs[Long]("maxRows"))
    }
    // the final scripts contain exactly the ACCEPTED fragments, per view
    val recMap = recs.collect()
      .map(r => r.getAs[String]("view") ->
        Option(r.getAs[String]("partition_spec")).getOrElse("")).toMap
    ev.foreach { r =>
      val frags = recMap(r.getAs[String]("view")).split(",\n").map(_.trim).toSet
      val frag = r.getAs[String]("fragment")
      if (r.getAs[Boolean]("accepted"))
        assert(frags.contains(frag), s"accepted '$frag' missing from ${frags}")
      else
        assert(!frags.contains(frag), s"demoted '$frag' still in ${frags}")
    }
    // the vet must not empty the advisor: at least one view keeps a real spec
    assert(recMap.values.exists(_.nonEmpty), "all recommendations demoted")
  }

  test("self-hosting parity: the self-captured log and an identical external log advise the same") {
    import graft.pipeline.SelfHosting
    // a workload with a clear frequency signal: 5× o_custkey join, 3×
    // o_orderdate range, 1× o_totalprice filter
    val workload =
      Seq.fill(5)("SELECT o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey") ++
      Seq.fill(3)("SELECT count(*) FROM orders WHERE o_orderdate >= DATE '1996-01-01'") ++
      Seq("SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0")
    // PATH A (self-hosting): execute the workload, let the session observe
    // itself, and advise from its own captured log — the reference's
    // system.runtime.queries loop fully native
    val captured = SelfHosting.observedQueryLog(spark, sfDir, workload)
      .collect() // 9 rows — the workload, not data
    val fromListener = AnalysisPipeline.runFromCatalog(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(captured.toSeq),
        SelfHosting.observedQueryLog(spark, sfDir, Nil).schema),
      nameFilter = TableRegistry.profiledTables.toSet)
      .collect().map(r => r.getAs[String]("view") ->
        Option(r.getAs[String]("partition_spec"))).toMap
    // PATH B (registry-driven): the SAME log CONTENT arrives as an external
    // query log — shuffled row order, re-minted query ids, shifted create
    // times. The advisor must be a pure function of log content: identical
    // recommendation, full spec string, every table. (Exec durations stay
    // as measured: duration weighting is a feature, so parity is only
    // meaningful with the durations held equal.)
    import spark.implicits._
    val external = scala.util.Random.shuffle(captured.toSeq.zipWithIndex.map { case (r, i) =>
      (s"ext-$i", r.getAs[String]("query"),
        new java.sql.Timestamp(r.getAs[java.sql.Timestamp]("create_time").getTime + 3600000L),
        r.getAs[Long]("execution_time_ms"), r.getAs[Long]("cpu_time_ms"),
        r.getAs[Long]("scheduled_time_ms"), 0L, 0L, 0L)
    }).toDF("query_id", "query", "create_time",
      "execution_time_ms", "cpu_time_ms", "scheduled_time_ms",
      "input_bytes", "peak_memory_bytes", "peak_total_memory_bytes")
    val fromRegistry = AnalysisPipeline.runFromCatalog(spark, external,
      nameFilter = TableRegistry.profiledTables.toSet)
      .collect().map(r => r.getAs[String]("view") ->
        Option(r.getAs[String]("partition_spec"))).toMap
    assert(fromListener == fromRegistry,
      s"listener $fromListener vs registry $fromRegistry")
    // and the workload's hot join key won the orders recommendation
    def top1(spec: Option[String]): Option[String] =
      spec.map(s => graft.catalog.IcebergMeta.splitFragments(s).head)
    assert(top1(fromListener("orders")).contains("o_custkey"),
      s"expected o_custkey to win: ${fromListener("orders")}")
  }

  test("tables rewritten under the same path are re-profiled, re-scored and re-vetted") {
    // `dir` is advised before and after every rewrite; the oracle for each
    // step is the same call on a never-advised copy of `dir`
    import java.nio.file.{Files, Paths}
    val dir = copyFixtures("graft_stale")
    def rewrite(name: String)(f: DataFrame => DataFrame): Unit = {
      val p = Paths.get(TableRegistry.path(dir, name))
      val staged = s"$p.staged"
      f(spark.read.parquet(p.toString)).coalesce(1).write.parquet(staged)
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      Files.move(Paths.get(staged), p)
    }
    def fresh(): String = {
      val src = Paths.get(dir)
      val out = Files.createTempDirectory("graft_stale_fresh")
      Files.walk(src).forEach { f =>
        val to = out.resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
      }
      out.toString
    }
    def profiles(d: String) =
      AnalysisPipeline.profilesFor(spark, d, approxCardinality = false).filter(_.view == "lineitem")
    def advice(df: DataFrame) = df.collect()
      .map(r => r.getAs[String]("view") -> Option(r.getAs[String]("partition_spec"))).toMap
    // the workload-derived score terms: usage frequency, exec-time weight,
    // view priority
    def workload(d: String) = AnalysisPipeline.scores(spark, d)
      .select("view", "column", "weighted_frequency", "weight", "avg_priority").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (2 to 4).map(i => Option(r.get(i)))).toMap
    def vetted(d: String) = {
      val stats = AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, d))
      val (recs, evidence) = AnalysisPipeline.runVettedFromStats(spark, d, stats)
      (advice(recs), evidence.collect().map(_.toString).toSet)
    }

    // 1. advise the original tables
    val profiles0 = profiles(dir)
    val advice0 = advice(AnalysisPipeline.run(spark, dir))
    val workload0 = workload(dir)

    // 2. lineitem rewritten: fewer rows, a different distribution
    rewrite("lineitem")(_.where(col("l_orderkey") % 3 === 0)
      .withColumn("l_quantity", col("l_orderkey").cast("double")))
    val profiles1 = profiles(dir)
    assert(profiles1.map(_.totalCount).max < profiles0.map(_.totalCount).max)
    assert(profiles1 == profiles(fresh()))
    val advice1 = advice(AnalysisPipeline.run(spark, dir))
    assert(advice1 != advice0)
    assert(advice1 == advice(AnalysisPipeline.run(spark, fresh())))

    // 3. events rewritten: one canned query text left in the workload
    rewrite("events")(_.where(col("event_id") % 5 === 1))
    val workload2 = workload(dir)
    assert(workload2 != workload0)
    assert(workload2 == workload(fresh()))

    // 4. the drift re-analysis path (runVettedFromStats) sees the profile
    // of one more lineitem rewrite
    val vetted2 = vetted(dir)
    rewrite("lineitem")(_.withColumn("l_quantity", lit(1.0)))
    val vetted3 = vetted(dir)
    assert(vetted3 != vetted2)
    assert(vetted3 == vetted(fresh()))
  }

  test("catalog discovery resolves tables of a NON-current database") {
    // tables live in advdb while the session stays on default — profiling
    // must go through the fully-qualified name (a bare spark.table would
    // throw or hit a same-named temp view)
    spark.sql("CREATE DATABASE IF NOT EXISTS advdb")
    spark.sql("DROP TABLE IF EXISTS advdb.adv_supplier")
    // the in-memory catalog forgets tables between JVMs but their managed
    // locations survive on disk — clear the leftover (recursively: an
    // interrupted run can leave nested _temporary dirs) so CTAS can recreate
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    rmTree(new java.io.File("spark-warehouse/advdb.db/adv_supplier"))
    try {
      spark.read.parquet(s"$sfDir/supplier.parquet")
        .write.mode("overwrite").saveAsTable("advdb.adv_supplier")
      val log = TableRegistry.queryLog(spark, sfDir).withColumn("query",
        when(col("query").isNotNull,
          lit("SELECT s_name FROM adv_supplier WHERE s_acctbal > 0")))
      val recs = AnalysisPipeline.runFromCatalog(spark, log, db = Some("advdb"),
        nameFilter = Set("adv_supplier"))
        .collect().map(r => r.getAs[String]("view") -> r.getAs[String]("script")).toMap
      // recommendations carry the FULLY-QUALIFIED name: the emitted ALTER
      // TABLE must target advdb even from a session on another database
      assert(recs.keySet == Set("advdb.adv_supplier"), recs.keySet.toString)
      assert(recs("advdb.adv_supplier").contains("ALTER TABLE advdb.adv_supplier"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS advdb.adv_supplier")
      spark.sql("DROP DATABASE IF EXISTS advdb")
    }
  }

  test("a second advise of an unchanged fixture launches no Spark job") {
    // profiles and workload statistics are memoized; score, rank, transform
    // choice and scripts are plain Scala over them
    val dir = copyFixtures("graft_rerun")
    val first = AnalysisPipeline.run(spark, dir).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val again = AnalysisPipeline.run(spark, dir).collect()
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      assert(jobs.get == 0, s"re-advising an unchanged fixture ran ${jobs.get} Spark jobs")
      assert(again.toSeq == first.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A fixture copy whose lineitem top candidate, l_quantity, is 1.0 on
    * ~99% of rows: still ranked first (its cardinality band and workload
    * weight are unchanged), but its identity partitions are grossly
    * unbalanced, so balance vetting demotes it. */
  private def skewedQuantityFixture(prefix: String): String = {
    val dir = copyFixtures(prefix)
    val li = TableRegistry.path(dir, "lineitem")
    java.nio.file.Files.delete(java.nio.file.Paths.get(li))
    spark.read.parquet(TableRegistry.path(sfDir, "lineitem"))
      .withColumn("l_quantity", when(col("l_orderkey") % 100 =!= 0, lit(1.0))
        .otherwise((col("l_partkey") % 40).cast("double")))
      .write.parquet(li)
    dir
  }

  private def firstFragment(spec: String) = graft.catalog.IcebergMeta.splitFragments(spec).head

  test("Main prints and applies only balance-vetted advice") {
    val dir = skewedQuantityFixture("graft_main_vet")
    val unvetted = AnalysisPipeline.run(spark, dir).where(col("view") === "lineitem")
      .head().getAs[String]("partition_spec")
    assert(firstFragment(unvetted) == "l_quantity", unvetted)

    val out = java.nio.file.Files.createTempDirectory("graft_main_vet_out").toString
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed) {
      Main.advise(spark, dir, out, timeFilter = None, execute = true, catalog = None,
        namespace = "default")
    }
    val text = printed.toString("UTF-8")
    assert(text.contains("ALTER TABLE lineitem"), text)
    assert(!text.contains("l_quantity"), s"the demoted candidate was printed:\n$text")
    val layout = new java.io.File(s"$out/partitioned/lineitem").list().toSeq
    assert(layout.nonEmpty && !layout.exists(_.startsWith("__p_l_quantity=")),
      s"the demoted candidate was applied: $layout")
  }

  test("Main exports the balance-vetted advice it prints") {
    val dir = skewedQuantityFixture("graft_main_vet_export")
    val out = java.nio.file.Files.createTempDirectory("graft_main_vet_export_out").toString
    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed) {
      Main.advise(spark, dir, out, timeFilter = None, execute = false, catalog = None,
        namespace = "default")
    }
    val exported = spark.read.json(s"$out/recommendations").collect()
      .map(r => r.getAs[String]("view") -> r.getAs[String]("script")).toMap
    assert(printed.toString("UTF-8").contains(exported("lineitem")))
    val spec = spark.read.json(s"$out/recommendations").where(col("view") === "lineitem")
      .head().getAs[String]("partition_spec")
    assert(firstFragment(spec) != "l_quantity", s"the demoted candidate was exported: $spec")
  }

  test("concurrent profiling equals serial Profiler.profile per view, in view order") {
    val dir = copyFixtures("graft_profile_order")
    val serial = AnalysisPipeline.views(spark, dir).flatMap(v =>
      graft.profile.Profiler.profile(spark, v.view, TableRegistry.table(spark, dir, v.view)))
    assert(AnalysisPipeline.profilesFor(spark, dir, approxCardinality = false) == serial)
  }

  test("a cold advise pass launches at most 33 Spark jobs") {
    // 46 jobs, at this fixture's scale as in the sf0.01 benchmark pass,
    // while the workload weights came from three broadcast joins over the
    // cached per-text state; 33 since they are plain Scala over the
    // collected heavy-hitter rows
    val dir = copyFixtures("graft_cold_jobs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      AnalysisPipeline.run(spark, dir).collect()
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      assert(jobs.get <= 33, s"a cold advise pass ran ${jobs.get} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
