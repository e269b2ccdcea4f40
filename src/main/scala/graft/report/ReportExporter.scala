package graft.report

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.recommend.Recommender
import graft.score.Scoring
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** C11/S9/S10: the dashboard artifact set, same shape as the reference's
  * save_analysis_results (ui/generate_ui_data.py:7-94) — global usage CSV +
  * JSON artifacts for views, recommendations, column scores, cardinality,
  * resource metrics, query metrics and the per-type anomaly screen.
  * Artifacts are small (metadata-sized):
  * coalesce(1) keeps them single-file like the reference's outputs; the
  * heavy computation behind them stays distributed.
  *
  * Note (intended vs actual reference semantics, SURVEY §0): the reference's
  * UI export swaps ddl/query_count in view_data and always emits empty
  * partition_keys; we export the *intended* fields.
  */
object ReportExporter {

  /** The artifact set with the (unvetted) advice of `sfDir` under
    * `timeFilter`. */
  def `export`(spark: SparkSession, sfDir: String, outDir: String,
      timeFilter: Option[String] = None): Unit =
    `export`(spark, sfDir, outDir,
      AnalysisPipeline.adviceFor(spark, sfDir, timeFilter = timeFilter), timeFilter)

  /** The artifact set with `advice` — which the caller derived under the
    * same `timeFilter`, so every log-derived artifact covers one window —
    * as its usage, scores and recommendations. */
  def `export`(spark: SparkSession, sfDir: String, outDir: String,
      advice: AnalysisPipeline.Advice, timeFilter: Option[String]): Unit = {
    import spark.implicits._

    val vs = AnalysisPipeline.views(spark, sfDir)
    val log0 = TableRegistry.queryLog(spark, sfDir)
    val log = timeFilter.fold(log0)(f => log0.where(expr(f))).cache()
    try {
    // global_stats.csv — A1 weighted frequency, the advice's own
    advice.workload.usage.toDF("name", "weighted_frequency")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/global_stats")

    // view_data.json — (view, columns, query_count, ddl), intended order
    vs.toDF()
      .coalesce(1).write.mode("overwrite").json(s"$outDir/view_data")

    // column_scores.json + cardinality_stats.json — from the scored profiles
    val scores = Scoring.scoresFrame(spark, advice.scored)
    scores.select(col("view"), col("column"), round(col("score"), 6).as("score"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/column_scores")
    scores.select(col("view"), col("column"), col("cardinality"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/cardinality_stats")

    // recommendations.json — scripts + real partition keys (not the
    // reference's always-empty extraction)
    Recommender.frame(spark, advice.recommendations)
      .coalesce(1).write.mode("overwrite").json(s"$outDir/recommendations")

    // resource_metrics.json — C5 per-query scores
    Scoring.resourceScores(log)
      .select(col("query_id"), round(col("resource_score"), 6).as("resource_score"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/resource_metrics")

    // query_metrics.json — C7 classification + raw metrics
    Scoring.queryTypes(log)
      .select(col("query_id"), col("is_interactive"), col("partition_priority"),
        col("execution_time_ms"), col("cpu_time_ms"),
        col("input_bytes"), col("peak_memory_bytes"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/query_metrics")

    // anomaly_metrics.json — robust per-type outlier screen over the event
    // stream, SKETCH-path default (approx_percentile — fixed-size agg
    // buffers; the exact-percentile twin exists only as the anomaly_mad
    // oracle key, where the DuckDB compare must be bit-exact)
    graft.ext.Anomaly.madScreenApprox(
      TableRegistry.table(spark, sfDir, "events").select("event_type", "value"),
      "event_type", "value")
      .select(col("event_type"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), col("n_outliers"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/anomaly_metrics")
    } finally {
      // release the export-scoped caches even when a write fails, so a
      // long-lived session (repeated exports, different time filters)
      // doesn't accumulate block storage
      log.unpersist()
    }
  }
}
