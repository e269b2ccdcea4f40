package graft

import graft.surface._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator: its key, its Spark implementation and (where
  * SQL-expressible) the DuckDB oracle twin over the same parquet. */
final case class QSpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The operator surface, assembled from the domain modules of
  * [[graft.surface]] — the one place that lists them. Determinism rules
  * for the oracles: see the [[graft.surface]] package object. */
object Queries {

  def allSpecs: Seq[QSpec] = Seq(
    AdvisorKeys.specs, RelationalKeys.specs, LayoutKeys.specs, DedupKeys.specs,
    RetrievalKeys.specs, TextKeys.specs, MultimodalKeys.specs, StreamKeys.specs).flatten

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    allSpecs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
