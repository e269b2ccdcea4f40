package graft.pipeline

import graft.catalog.TableRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The self-hosting loop (SURVEY §4's optional addition, made whole): run a
  * workload through `spark.sql`, log each text with its wall duration in the
  * reference's query-log schema, and feed that log through the same
  * `textStatsOf` → `Scoring.workloadFrom` derivation every advisor entry
  * point scores from — no external query-log system required. This replaces
  * the reference's dependency on Trino's `system.runtime.queries`
  * (trino_client.py:38-63) with the engine observing itself.
  */
object SelfHosting {

  /** Register the fixture tables as temp views named like the canned
    * workload expects. */
  private def registerViews(spark: SparkSession, sfDir: String): Unit =
    TableRegistry.tableNames.foreach { n =>
      TableRegistry.table(spark, sfDir, n).createOrReplaceTempView(n)
    }

  /** Force full execution of a query WITHOUT materializing its result on
    * the driver: rows are consumed (and discarded) on the executors. The
    * observed workload is arbitrary user SQL — a `SELECT * FROM lineitem`
    * must not OOM the advisor's driver the way a driver-side collect would, while
    * the run is still complete and timed. */
  private def forceExecute(spark: SparkSession, sql: String): Unit =
    spark.sql(sql).foreach(_ => ())

  /** The self-hosting loop closed END TO END: execute the workload texts
    * through `spark.sql` (measuring wall duration per text), synthesize the
    * engine's OWN query log from those runs in the reference's log schema,
    * and hand it to the catalog-discovery advisor — the session profiles
    * and advises on exactly the workload it just served, with no external
    * query-log system (the reference needs Trino's `system.runtime.queries`
    * for this; trino_client.py:38-63).
    *
    * Failed texts are logged with a null query (parse-degrade semantics,
    * same as the reference's warn-and-skip). Returns one recommendation row
    * per profiled table. */
  def adviseFromObservedWorkload(spark: SparkSession, sfDir: String,
      workload: Seq[String], topN: Int = 3): DataFrame =
    AnalysisPipeline.runFromCatalog(spark,
      observedQueryLog(spark, sfDir, workload),
      nameFilter = TableRegistry.profiledTables.toSet, topN = topN)

  /** Execute the workload texts and synthesize the engine's OWN query log
    * from the runs, in the reference's log schema — the capture half of
    * [[adviseFromObservedWorkload]], exposed so the captured log is a
    * first-class artifact (it can be persisted, merged with external logs,
    * or handed to any advisor entry point; the parity spec feeds the SAME
    * content back as an "external" log and must get the identical
    * recommendation). Failed texts are logged with a null query
    * (parse-degrade semantics, same as the reference's warn-and-skip). */
  def observedQueryLog(spark: SparkSession, sfDir: String,
      workload: Seq[String]): DataFrame = {
    registerViews(spark, sfDir)
    import spark.implicits._
    val runs = workload.zipWithIndex.map { case (sql, i) =>
      val startedAt = System.currentTimeMillis() // wall clock — nanoTime has an arbitrary origin
      val t0 = System.nanoTime()
      val ok = try { forceExecute(spark, sql); true } catch { case _: Exception => false }
      val ms = (System.nanoTime() - t0) / 1000000L
      (i.toString, if (ok) sql else null, new java.sql.Timestamp(startedAt),
        ms, ms, ms, 0L, 0L, 0L)
    }
    runs.toDF("query_id", "query", "create_time",
      "execution_time_ms", "cpu_time_ms", "scheduled_time_ms",
      "input_bytes", "peak_memory_bytes", "peak_total_memory_bytes")
  }
}
