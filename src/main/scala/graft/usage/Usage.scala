package graft.usage

import graft.catalog.ViewMeta
import graft.introspect.QueryIntrospector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted column-usage aggregation — the reference's
  * `aggregate_column_usage` (partitioning.py:68-100): one Counter over
  *   (a) every view column replicated ×query_count,
  *   (b) JOIN-condition columns parsed from each view's DDL,
  *   (c) table names parsed from each query-log text.
  * Names of columns and tables share one namespace, faithfully to the
  * reference.
  *
  * Scale posture: SQL texts are parsed once per *distinct* text on the
  * driver (workload-proportional, never data-proportional), then joined back
  * to the per-text state as a broadcast map — the log itself is only
  * scanned, grouped and summed distributively.
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

  /** A1 weighted frequency over per-text aggregate state: union of all
    * three contribution sources → groupBy(name) sum(weight) → sorted.
    * `textStats` rows are (query, cnt, …) — see
    * [[graft.pipeline.AnalysisPipeline.textStatsOf]]; `parsed` is the
    * (text → refs) map of the texts kept for parsing. Each log row with
    * text q contributes 1 per referenced-table occurrence, so the total is
    * Σ_texts cnt(q)·multiplicity — linear in the per-text counts, which is
    * what lets the streaming advisor maintain only the per-text state
    * between batches. Output schema: (name string, weighted_frequency
    * bigint). */
  def weightedFrequencyFromStats(
      spark: SparkSession,
      views: Seq[ViewMeta],
      textStats: DataFrame,
      parsed: Seq[(String, Option[QueryIntrospector.SqlRefs])]): DataFrame = {
    import spark.implicits._
    val metaDf = viewContributions(spark, views).toDF("name", "weight")
    val refs = parsed.flatMap { case (q, r) =>
      r.map(_.tables).getOrElse(Seq.empty).map(q -> _)
    }
    val refsDf = refs.toDF("query", "ref_table")
    // broadcast: the parsed workload texts are few by construction
    val logDf = textStats.join(broadcast(refsDf), Seq("query"))
      .select(col("ref_table").as("name"), col("cnt").as("weight"))
    metaDf.unionByName(logDf)
      .groupBy("name").agg(sum("weight").as("weighted_frequency"))
      .orderBy(desc("weighted_frequency"), asc("name"))
  }
}
