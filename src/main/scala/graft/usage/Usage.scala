package graft.usage

import graft.catalog.ViewMeta
import graft.introspect.QueryIntrospector
import graft.score.Scoring
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Weighted column-usage aggregation — the reference's
  * `aggregate_column_usage` (partitioning.py:68-100): one Counter over
  *   (a) every view column replicated ×query_count,
  *   (b) JOIN-condition columns parsed from each view's DDL,
  *   (c) table names parsed from each query-log text.
  * Names of columns and tables share one namespace, faithfully to the
  * reference.
  *
  * Scale posture: SQL texts are parsed once per *distinct* text on the
  * driver (workload-proportional, never data-proportional); the log itself
  * is only scanned, grouped and summed distributively, and only the state
  * rows of the parsed texts reach the driver.
  */
object Usage {

  /** (name, weight) contributions from view metadata — columns ×query_count
    * plus DDL join-column counts (partitioning.py:79-86). Driver-side: the
    * registry is metadata, O(views×columns). */
  def viewContributions(spark: SparkSession, views: Seq[ViewMeta]): Seq[(String, Long)] =
    views.flatMap { v =>
      val fromCols = v.columns.map(_ -> v.queryCount)
      val fromDdl = QueryIntrospector.parseDdl(spark, v.ddl).toSeq.flatMap { refs =>
        refs.joinColumns.toSeq.map { case (c, n) => c -> n.toLong }
      }
      fromCols ++ fromDdl
    }

  /** A1 weighted frequency over per-text aggregate state, as
    * [[graft.score.Scoring.workloadFrom]] computes it: the view
    * contributions plus, per parsed text q, cnt(q) for each table q
    * references. `textStats` rows are (query, cnt, sum_exec, sum_priority)
    * — see [[graft.pipeline.AnalysisPipeline.textStatsOf]]; `parsed` is the
    * (text → refs) map of the texts kept for parsing, and only their state
    * rows are collected (a broadcast semi-join). A local frame (name string,
    * weighted_frequency bigint), weighted_frequency desc, name asc. */
  def weightedFrequencyFromStats(
      spark: SparkSession,
      views: Seq[ViewMeta],
      textStats: DataFrame,
      parsed: Seq[(String, Option[QueryIntrospector.SqlRefs])]): DataFrame =
    Scoring.localFrame(spark, "name STRING, weighted_frequency BIGINT",
      Scoring.workloadFrom(Scoring.statsOf(textStats, parsed.map(_._1)), parsed,
        viewContributions(spark, views))._1.usage)
}
