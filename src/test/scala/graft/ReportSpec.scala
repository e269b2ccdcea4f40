package graft

import graft.report.ReportExporter
import org.apache.spark.sql.functions._

/** C11 artifact-set export: all eight artifacts written and readable back. */
class ReportSpec extends SparkSpec {

  test("export writes the full artifact set, readable back with content") {
    val out = java.nio.file.Files.createTempDirectory("graft_report").toString
    ReportExporter.export(spark, sfDir, out)

    val gs = spark.read.option("header", "true").csv(s"$out/global_stats")
    assert(gs.columns.toSeq == Seq("name", "weighted_frequency"))
    assert(gs.count() > 0)

    Seq("view_data", "column_scores", "cardinality_stats",
      "recommendations", "resource_metrics", "query_metrics",
      "anomaly_metrics").foreach { a =>
      val df = spark.read.json(s"$out/$a")
      assert(df.count() > 0, s"$a empty")
    }

    val recs = spark.read.json(s"$out/recommendations")
    assert(recs.columns.contains("partition_spec") && recs.columns.contains("script"))
    assert(recs.where(col("view") === "orders").count() == 1)

    // the anomaly screen is the SKETCH-path default: one row per event
    // type, med/mad within the anomaly_mad_approx key's asserted bands of
    // the exact twin (here just pinned non-degenerate and well-formed)
    val am = spark.read.json(s"$out/anomaly_metrics")
    assert(am.columns.sorted.toSeq == Seq("event_type", "mad", "med", "n_outliers"))
    assert(am.where(col("mad") > 0).count() > 0, "anomaly screen degenerate")
  }

  test("madScreenApprox tolerates input frames that already carry med/mad columns") {
    // "a reusable three-pass plan over ANY (group, value) frame" includes
    // frames whose other columns collide with the helper's own stat names
    // — the pre-fix form joined raw-df-with-med onto a stats frame named
    // med and hit AMBIGUOUS_REFERENCE (r11 self-review)
    import graft.catalog.TableRegistry
    val ev = TableRegistry.table(spark, sfDir, "events").select("event_type", "value")
    val clean = graft.ext.Anomaly.madScreenApprox(ev, "event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
    val collisions = ev.withColumn("med", lit(-1.0)).withColumn("mad", lit(-2.0))
    val got = graft.ext.Anomaly.madScreenApprox(collisions, "event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == clean, "colliding caller columns must not change the screen")
  }

  test("time filter restricts the log-derived artifacts") {
    val out = java.nio.file.Files.createTempDirectory("graft_report_tf").toString
    ReportExporter.export(spark, sfDir, out,
      timeFilter = Some("execution_time_ms > 15000"))
    val qm = spark.read.json(s"$out/query_metrics")
    assert(qm.count() > 0)
    assert(qm.agg(min("execution_time_ms")).collect()(0).getLong(0) > 15000)
  }

  test("time filter scopes the exported recommendations like the printed ones") {
    import graft.pipeline.AnalysisPipeline
    val f = "execution_time_ms > 15000"
    def recs(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("view"), r.getAs[String]("partition_spec"), r.getAs[String]("script"))).toSet
    val want = recs(AnalysisPipeline.run(spark, sfDir, timeFilter = Some(f)).collect())
    // the filter must move the advice for this to tell anything
    assert(want != recs(AnalysisPipeline.run(spark, sfDir).collect()))
    val out = java.nio.file.Files.createTempDirectory("graft_report_tf_recs").toString
    ReportExporter.export(spark, sfDir, out, timeFilter = Some(f))
    assert(recs(spark.read.json(s"$out/recommendations").collect()) == want)
  }
}
