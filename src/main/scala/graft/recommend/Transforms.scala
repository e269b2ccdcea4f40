package graft.recommend

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-style partition transforms as a Scala ADT, both renderable to
  * partition-spec DDL text and evaluable as Catalyst columns — the native
  * counterpart of iceberg_utils.py:1-46.
  */
sealed trait PartitionTransform {
  /** Iceberg partition-spec fragment, e.g. `month(l_shipdate)`. */
  def render(column: String): String
  /** Evaluable partition value for a data column (used by partitioned
    * writes, T5). Note: bucket uses Spark's Murmur3 `hash`, which is *our*
    * engine's bucketing, not byte-compatible with Iceberg's bucket spec. */
  def apply(c: Column): Column
}

case object IdentityTransform extends PartitionTransform {
  def render(column: String): String = column
  def apply(c: Column): Column = c
}

/** unit ∈ {hour, day, month, year} — partition-value semantics via
  * date_trunc. `hour` keeps the truncated TIMESTAMP (a DateType cast would
  * collapse it back to the day); the advisor never RECOMMENDS hour, but
  * real Iceberg tables partition by it and their specs must round-trip. */
final case class DateTransform(unit: String) extends PartitionTransform {
  require(Set("hour", "day", "month", "year")(unit), s"bad unit $unit")
  def render(column: String): String = s"$unit($column)"
  def apply(c: Column): Column =
    if (unit == "hour") date_trunc(unit, c)
    else date_trunc(unit, c).cast(DateType)
}

final case class BucketTransform(n: Int) extends PartitionTransform {
  def render(column: String): String = s"bucket($n, $column)"
  /** Byte-compatible with the Iceberg bucket spec via the custom
    * [[graft.functions.IcebergBucket]] codegen expression (falls back to
    * Spark murmur for types outside the Iceberg bucket domain). */
  def apply(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.IcebergBucket(
      org.apache.spark.sql.catalyst.expressions.Literal(n),
      GraftColumnBridge.expression(c)))
  }
}

/** Iceberg integer truncate-width semantics: floor(c/w)*w, computed as
  * `c - pmod(c, w)` — EXACT integer arithmetic. The floor(c/w)*w form goes
  * through double division, which rounds at 2^53: a snowflake-scale bigint
  * would land in the WRONG partition (off by up to ~128 at 1.2e18), and
  * disagree with Iceberg's exact truncate. Identical values wherever the
  * double form was exact. */
final case class TruncateTransform(width: Int) extends PartitionTransform {
  def render(column: String): String = s"truncate($column, $width)"
  def apply(c: Column): Column = c - pmod(c, lit(width))
}

object Transforms {

  /** Stats consumed by transform selection (subset of a ColumnProfile). */
  final case class ColStats(
      cardinality: Long,
      valueRange: Option[Double],
      dateGranularity: Option[String])

  /** T4: transform-selection rules, branch-for-branch with
    * iceberg_utils.py:1-46, keyed on the type name the profiler records
    * (`DataType.simpleString`):
    *   date/timestamp → granularity-driven day|month|year (default month)
    *   string         → bucket(16) if cardinality > 10000 else identity
    *   int/bigint     → bucket(clamp(card/500, 4, 32)) if card > 1000;
    *                    else truncate(100) if range > 10000; else identity
    *   anything else  → identity
    */
  def select(dataType: String, stats: ColStats): PartitionTransform = dataType match {
    case "date" | "timestamp" | "timestamp_ntz" =>
      DateTransform(stats.dateGranularity.getOrElse("month"))
    case "string" =>
      if (stats.cardinality > 10000) BucketTransform(16) else IdentityTransform
    case "int" | "bigint" =>
      if (stats.cardinality > 1000) {
        // clamp on LONG before narrowing: (card/500).toInt wraps negative
        // past card ~ 1.07e12, silently selecting bucket(4) instead of the
        // intended clamp-to-32
        val n = math.min(math.max(stats.cardinality / 500L, 4L), 32L).toInt
        BucketTransform(n)
      } else if (stats.valueRange.exists(_ > 10000)) TruncateTransform(100)
      else IdentityTransform
    case _ => IdentityTransform
  }
}
