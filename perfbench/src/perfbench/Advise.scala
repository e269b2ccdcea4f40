package perfbench

import graft.catalog.{IcebergMeta, TableRegistry}
import graft.pipeline.AnalysisPipeline
import graft.recommend.SpecParser
import graft.report.ReportExporter
import org.apache.spark.sql.{Row, SparkSession}

/** Workload `advise`: the advisor, `AnalysisPipeline.run` (discover →
  * profile → usage → parse → score → scripts), pass after pass in one
  * process over parquet fixtures.
  *
  * Pass 0 advises the generated fixture itself and is the cold pass; every
  * later pass advises its own byte-identical copy, made at set-up, so the
  * path-keyed memos work inside a pass as they do in `graft.Main` but never
  * answer a later pass. Every pass must give pass 0's (view,
  * partition_spec). The rest of Main's `--execute` path (report export,
  * balance vetting, the partitioned write) runs in traced runs only. */
object Advise {
  // warm-pass cost on a 4-core host: a run makes as many warm passes after
  // the cold one as fit in --seconds at this cost, at least one, a count
  // that does not depend on how loaded the host is
  private val WarmPassS = 8.8

  def apply(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    // traced runs make two traced warm passes, compared counter by counter
    val warm = if (r.trace) 2 else math.max(1, (r.seconds / WarmPassS).toInt)
    val (dirs, prepareS) = Run.timed {
      r.fixture +: (1 to warm).map(i => Run.copyDir(r.fixture, s"${r.work}/copy$i"))
    }
    r.metric("prepare_s", prepareS, "s")

    def pass(p: Int, dir: String): Seq[(String, String)] = t.span(s"pass$p") {
      t.span("pipeline.run")(Layers.recsOf(AnalysisPipeline.run(spark, dir).collect()))
    }

    var reference = Seq.empty[(String, String)]
    val seconds = collection.mutable.ArrayBuffer[Double]()
    val heap = collection.mutable.ArrayBuffer[Double]()
    var gc = Map.empty[Int, Double]
    dirs.zipWithIndex.foreach { case (dir, p) =>
      t.tracing = r.trace && p > 0
      val gc0 = r.gcSeconds()
      try {
        val (recs, s, jobs) = r.measured(pass(p, dir))
        if (p == 0) reference = recs
        seconds += s
        r.op(jobs > 0 && recs == reference && recs.size == TableRegistry.profiledTables.size,
          if (jobs == 0) s"advise pass $p ran zero Spark jobs (answered by a memo)"
          else s"advise pass $p advised $recs, pass 0 advised $reference")
        r.log(f"advise pass $p: $s%.3f s, $jobs jobs")
      } catch { case scala.util.control.NonFatal(e) =>
        r.op(ok = false, s"advise pass $p failed: $e")
      }
      gc += p -> (r.gcSeconds() - gc0)
      heap += r.liveHeapMb()
    }
    t.tracing = false
    r.note("pass_samples_s", seconds.mkString("[", ", ", "]"))
    r.note("live_heap_samples_mb", heap.mkString("[", ", ", "]"))
    if (seconds.size == dirs.size) {
      r.metric("cold_pass_s", seconds.head, "s")
      r.metric("pass_s", Run.median(seconds.tail.toSeq), "s")
      r.metric("peak_live_heap_mb", heap.max, "MB")
    }
    if (r.trace) traced(r, reference, gc)
  }

  /** Main's `--execute` branch for parquet fixtures: materialize each
    * recommendation's first partition key as a partitioned layout. Repeated
    * here because `Main.main` builds and stops its own session. */
  def materialize(spark: SparkSession, dir: String, out: String, recs: Array[Row]): Unit =
    recs.filter(_.getAs[String]("partition_spec") != null).foreach { rec =>
      val view = rec.getAs[String]("view")
      if (!IcebergMeta.isIcebergTable(spark, s"$dir/$view")) {
        val firstSpec = IcebergMeta.splitFragments(rec.getAs[String]("partition_spec")).head
        val df = TableRegistry.table(spark, dir, view)
        val (colName, partCol) = SpecParser.toColumn(firstSpec, df)
        df.withColumn(s"__p_$colName", partCol)
          .write.mode("overwrite").partitionBy(s"__p_$colName")
          .parquet(s"$out/partitioned/$view")
      }
    }

  /** Per-layer metrics: a decomposed pass on a fresh copy gives the layers
    * inside `AnalysisPipeline.runVetted`; Main's path on another copy gives
    * its four public calls; the traced passes 1 and 2 give the Spark totals
    * of a pass and the counter comparison. */
  private def traced(r: Run, reference: Seq[(String, String)], gc: Map[Int, Double]): Unit = {
    val spark = r.spark
    val t = r.tracer
    val dir = Run.copyDir(r.fixture, s"${r.work}/decomposed")
    t.tracing = true
    val advice = try {
      val a = t.span("advise.decomposed") {
        val vs = t.span("catalog.discover")(AnalysisPipeline.views(spark, dir))
        val a = Layers.advise(t, spark, vs, TableRegistry.table(spark, dir, _),
          AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, dir)), vet = true)
        r.metric("catalog.tables", vs.size, "count")
        r.metric("catalog.columns", vs.map(_.columns.size).sum, "count")
        a
      }
      r.op(a.recs == reference, s"decomposed advice ${a.recs} differs from pass 0's $reference")
      Some(a)
    } catch { case scala.util.control.NonFatal(e) =>
      r.op(ok = false, s"decomposed advise pass failed: $e"); None
    }
    // Main's --execute path, once, on its own copy: the advice, the report
    // export, the balance-vetted advice and the partitioned write
    val mainDir = Run.copyDir(r.fixture, s"${r.work}/main")
    try t.span("main") {
      val recs = t.span("pipeline.run")(AnalysisPipeline.run(spark, mainDir).collect())
      t.span("report.export")(ReportExporter.export(spark, mainDir, s"${r.work}/main_out/report", None))
      val vetted = t.span("pipeline.vetted") {
        val (v, evidence) = AnalysisPipeline.runVetted(spark, mainDir)
        evidence.collect()
        v.collect()
      }
      t.span("main.materialize")(materialize(spark, mainDir, s"${r.work}/main_out", recs))
      r.op(Layers.recsOf(recs) == reference, s"Main's path advised ${Layers.recsOf(recs)}, the passes $reference")
      r.op(Layers.recsOf(vetted) == reference,
        s"balance vetting advised ${Layers.recsOf(vetted)}, the passes $reference")
    } catch { case scala.util.control.NonFatal(e) =>
      r.op(ok = false, s"Main's path failed: $e")
    }
    t.tracing = false
    val distinct = AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, dir)).count()
    val logRows = TableRegistry.queryLog(spark, dir).count()
    val rows = TableRegistry.profiledTables.map(TableRegistry.table(spark, dir, _).count()).sum

    val (self, _) = t.attribute()
    val m = Metrics(r, t, self)
    val root = t.spans.find(_.name == "advise.decomposed")
    def s(name: String) = root.map(m.seconds(_, name)).getOrElse(0.0)
    def w(name: String) = root.map(m.work(_, name)).getOrElse(Work())
    r.metric("catalog.discover_s", s("catalog.discover"), "s")
    r.metric("profile.s", s("profile"), "s")
    r.metric("profile.lineitem_s", s("profile.lineitem"), "s")
    r.metric("profile.jobs", w("profile").jobs, "count")
    r.metric("profile.tasks", w("profile").tasks, "count")
    r.metric("profile.input_bytes", w("profile").inputBytes, "bytes")
    r.metric("profile.shuffle_write_bytes", w("profile").shuffleWriteBytes, "bytes")
    r.metric("profile.rows_per_s", rows / s("profile"), "rows/s")
    r.metric("usage.textstats_s", s("usage.textstats"), "s")
    r.metric("usage.weighted_frequency_s", s("usage.weighted_frequency"), "s")
    r.metric("usage.log_rows", logRows, "count")
    r.metric("usage.texts_distinct", distinct, "count")
    r.metric("usage.texts_dropped", math.max(0L, distinct - AnalysisPipeline.maxWorkloadTexts), "count")
    val texts = advice.map(_.texts).getOrElse(0)
    r.metric("introspect.parse_s", s("introspect.parse"), "s")
    r.metric("introspect.texts", texts, "count")
    r.metric("introspect.us_per_text", s("introspect.parse") * 1e6 / math.max(texts, 1), "us")
    r.metric("introspect.parsed_ratio", advice.map(_.parsed.toDouble / math.max(texts, 1)).getOrElse(0.0), "ratio")
    r.metric("score.s", s("score"), "s")
    r.metric("score.jobs", w("score").jobs, "count")
    r.metric("recommend.scripts_s", s("recommend.scripts"), "s")
    r.metric("recommend.balance_s", s("recommend.balance"), "s")
    r.metric("recommend.balance_jobs", w("recommend.balance").jobs, "count")
    r.metric("recommend.accepted_ratio",
      advice.map(a => a.accepted.toDouble / math.max(a.vetted, 1)).getOrElse(0.0), "ratio")
    val decomposedS = root.map(_.seconds).getOrElse(0.0)
    r.metric("advise.decomposed_s", decomposedS, "s")
    r.metric("advise.profile_share", s("profile") / decomposedS, "ratio")

    // Main's tail, and the two traced warm passes
    val main = t.spans.find(_.name == "main")
    def tail(name: String) = main.map(m.seconds(_, name)).getOrElse(0.0)
    def tailWork(name: String) = main.map(m.work(_, name)).getOrElse(Work())
    r.metric("report.export_s", tail("report.export"), "s")
    r.metric("report.jobs", tailWork("report.export").jobs, "count")
    r.metric("report.bytes_written", tailWork("report.export").outputBytes, "bytes")
    r.metric("main.materialize_s", tail("main.materialize"), "s")
    r.metric("main.bytes_written", tailWork("main.materialize").outputBytes, "bytes")
    r.metric("pipeline.run_s", tail("pipeline.run"), "s")
    r.metric("pipeline.self_s", tail("pipeline.run") -
      Seq("catalog.discover", "profile", "usage.textstats", "introspect.parse",
        "usage.weighted_frequency", "score", "recommend.scripts").map(s).sum, "s")
    r.metric("pipeline.vetted_s", tail("pipeline.vetted"), "s")
    val tracedPasses = Seq(1, 2).flatMap(p => t.spans.find(_.name == s"pass$p"))
    m.passTotals(tracedPasses, gc)
    m.write(s"advise-seed${r.seed}")
  }
}
