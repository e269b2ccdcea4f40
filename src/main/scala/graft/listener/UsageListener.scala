package graft.listener

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Self-hosting usage capture (SURVEY §4 optional addition): a
  * QueryExecutionListener that records, for every query this session
  * executes, the plan-derived (table, join-column, filter-column) references
  * plus duration — the Spark-native replacement for scraping Trino's
  * `system.runtime.queries` (reference trino_client.py:38-63). Feeding these
  * rows back through Usage/Scoring makes the advisor self-hosting: it
  * profiles the very workload it runs on.
  *
  * State is BOUNDED: references aggregate in place into a per-(kind, name)
  * (count, total-duration) map capped at `stateCap` distinct keys — the same
  * shape Usage/Scoring consumes, and the same bounding discipline as
  * StreamingAdvisor's `stateCap`. A long-lived session observing millions of
  * queries holds at most `stateCap` entries on the driver; references to
  * keys beyond the cap are counted in `droppedRefs` rather than stored, so
  * saturation is observable instead of silent.
  */
object UsageListener {

  /** Aggregated usage for one (kind, name) reference.
    * kind ∈ {table, join_col, where_col}; `count` = number of references
    * across all observed queries; `totalDurationNs` = summed duration of the
    * queries that produced them (a query referencing a name twice
    * contributes its duration twice, preserving the reference-weighted
    * semantics of the previous one-row-per-reference log). */
  final case class UsageStat(
      kind: String,
      name: String,
      count: Long,
      totalDurationNs: Long)

  private final class Cell {
    val count = new AtomicLong(0L)
    val totalNs = new AtomicLong(0L)
  }

  final class Recorder(val stateCap: Int = 4096) extends QueryExecutionListener {
    private val stats = new ConcurrentHashMap[(String, String), Cell]()
    private val dropped = new AtomicLong(0L)

    /** References dropped because the distinct-key cap was reached. */
    def droppedRefs: Long = dropped.get()

    private def refs(plan: LogicalPlan): Seq[(String, String)] = {
      // table names: catalog tables directly; temp views surface as
      // SubqueryAlias wrappers in the analyzed plan
      val tables = (plan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.catalogTable.isDefined =>
          r.catalogTable.get.identifier.table
      } ++ plan.collect {
        // ONLY the alias directly wrapping a View is a table reference
        // (that is how temp views resolve). An unconditional SubqueryAlias
        // match also swept up table aliases (`FROM lineitem l` emitted a
        // phantom table `l`), derived-table aliases and CTE names —
        // fictitious rows that burned stateCap slots and polluted the
        // usage stats the advisor scores from.
        case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
            if s.child.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.View] =>
          s.alias
      }).map("table" -> _)
      val joinCols = plan.collect { case j: Join =>
        j.condition.toSeq.flatMap(_.collect { case a: AttributeReference => a.name })
      }.flatten.map("join_col" -> _)
      val whereCols = plan.collect { case f: Filter =>
        f.condition.collect { case a: AttributeReference => a.name }
      }.flatten.map("where_col" -> _)
      tables ++ joinCols ++ whereCols
    }

    /** Aggregate one reference in place; bounded by `stateCap` distinct
      * (kind, name) keys. Exposed for direct bounded-state testing. */
    private[graft] def record(kind: String, name: String, durationNs: Long): Unit = {
      val key = (kind, name)
      // racy size check: a burst may briefly admit a few keys past the cap,
      // but the map stays O(stateCap) — never O(queries observed)
      val cell =
        if (stats.containsKey(key) || stats.size < stateCap)
          stats.computeIfAbsent(key, _ => new Cell)
        else null
      if (cell == null) { dropped.incrementAndGet(); () }
      else {
        cell.count.incrementAndGet()
        cell.totalNs.addAndGet(durationNs)
      }
    }

    private val completions = new AtomicLong(0L)

    /** Listener callbacks delivered so far (success or failure) — the
      * quiescence signal observeWorkload waits on: each successfully
      * launched action produces exactly one callback, so waiting for
      * "first ref + fixed sleep" (the old shape) silently dropped every
      * late callback from the returned usage frame. */
    def completedQueries: Long = completions.get()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      refs(qe.analyzed).foreach { case (k, n) => record(k, n, durationNs) }
      completions.incrementAndGet(); ()
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      completions.incrementAndGet(); ()
    }

    def snapshot: Seq[UsageStat] =
      stats.entrySet().asScala.iterator.map { e =>
        val (k, n) = e.getKey
        UsageStat(k, n, e.getValue.count.get(), e.getValue.totalNs.get())
      }.toSeq
  }

  /** Install a recorder on the session; returns it for snapshotting. */
  def install(spark: SparkSession, stateCap: Int = 4096): Recorder = {
    val r = new Recorder(stateCap)
    spark.listenerManager.register(r)
    r
  }
}
