package graft

import graft.catalog.TableRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared operator surface, one module per domain. [[graft.Queries]]
  * assembles the modules' `specs` into the driver's key → query and
  * key → oracle maps; no other layer reads a surface module.
  *
  * A module's `specs` reads only its own members and the helpers below
  * while it initializes, so the modules can initialize in any order.
  *
  * Oracle-determinism rules (SURVEY §5): explicit ORDER BY over keys that
  * make the row multiset deterministic; money sums via DECIMAL(18,2) then
  * cast to double (exact on both engines); DuckDB aggregates CAST to
  * Spark's natural result types (count/sum(bigint)→BIGINT, floor→BIGINT);
  * raw nanosecond timestamps never emitted (Spark reads them
  * µs-truncated).
  */
package object surface {

  private[surface] def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  /** ns→ms with integer division: epoch-nano longs exceed 2^53, a double
    * quotient would corrupt low bits. DuckDB twin: epoch_ns(ts)//1000000. */
  private[surface] final val tsMs = "ts div 1000000"
}
