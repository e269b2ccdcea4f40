package graft

import graft.catalog.TableRegistry
import graft.ext.Multimodal
import org.apache.spark.sql.{Dataset, SparkSession}

/** Helpers only the specs call: typed and batch views over program
  * surfaces that no program path needs. */
object TestOps {

  /** Typed row of [[TableRegistry.queryLog]] (schema per reference
    * trino_client.py:43-52). */
  final case class QueryLogRow(
      query_id: String, query: String, create_time: java.sql.Timestamp,
      execution_time_ms: Long, cpu_time_ms: Long, scheduled_time_ms: Long,
      input_bytes: Long, peak_memory_bytes: Long, peak_total_memory_bytes: Long)

  /** Typed Dataset view of the query log. */
  def queryLogDs(spark: SparkSession, sfDir: String): Dataset[QueryLogRow] = {
    import spark.implicits._
    TableRegistry.queryLog(spark, sfDir).as[QueryLogRow]
  }

  /** Batch resize over the corpus: the mapPartitions shape of
    * [[Multimodal.extractFeatures]]. */
  def resizeAll(media: Dataset[Multimodal.MediaRecord], w: Int, h: Int)
      : Dataset[Multimodal.Thumbnail] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(Multimodal.resizeStub(_, w, h)))
  }
}
