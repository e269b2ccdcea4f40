package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as built-ins: as-of join and
  * interval (range) join. Both appear constantly in training-data and
  * event-log pipelines (attach the most recent profile snapshot to each
  * event; slice events into maintenance/experiment windows); the reference
  * engine has no counterpart (SURVEY §2.3 notes no theta/as-of joins), so
  * these extend the north-star operator family (SURVEY §2.13).
  *
  * Scale design:
  *  - asofJoin is ONE shuffle (hash partition by key) + ONE sort per
  *    partition — the union-then-window formulation. The naive alternatives
  *    (theta join `l.t >= r.t` = BroadcastNestedLoop O(|L|·|R|), or a lateral
  *    per-row top-1 subquery) are both unusable at 100 TB. Window state is
  *    O(1) per row (running `last`), so partitions stream through without
  *    materializing the full group.
  *  - rangeJoin buckets both sides on a fixed time grid, turning the range
  *    predicate into an equi-join on the bucket id plus a residual filter.
  *    Each interval expands to (span/bucketWidth + 1) bucket rows, so the
  *    shuffle carries O(|intervals| · avgSpan/width + |events|) rows instead
  *    of the O(|L|·|R|) nested-loop. Pick bucketWidth ≈ median interval
  *    span; AQE handles residual bucket skew (hot buckets split).
  */
object Temporal {

  /** As-of join: for every left row, attach `carryCols` from the latest
    * right row with the same `keyCols` and right.`tsCol` <= left.`tsCol`
    * (inclusive). Carried columns come back as `asof_<name>`, null when no
    * right row precedes the left row (left-outer semantics).
    *
    * Right rows sort before left rows at equal timestamps, so a tie is a
    * match — same as DuckDB `ASOF JOIN ... ON l.t >= r.t` (the oracle twin).
    *
    * Semantics hardening (post-review):
    *  - ALL carried columns come from ONE right row, carried as a single
    *    struct. The per-column `last(…, ignoreNulls)` formulation silently
    *    substituted an OLDER row's value when the latest right row held a
    *    legitimate NULL — and could stitch different carry columns from
    *    different right rows into a combination existing in no input row.
    *    A NULL in the latest matching row now comes through as NULL,
    *    exactly like the DuckDB twin.
    *  - Right rows with a NULL timestamp are dropped up front: the as-of
    *    predicate `l.t >= r.t` is never true for them, but ascending sort
    *    puts NULLs FIRST, so they would otherwise be carried into every
    *    left row before the first real right row.
    *  - Right rows with a NULL in ANY key column are dropped up front for
    *    the same reason: the join equality `l.k = r.k` is never true for
    *    them, but `Window.partitionBy` groups NULL keys TOGETHER, so they
    *    would otherwise be carried into NULL-keyed left rows — which the
    *    DuckDB twin leaves unmatched (NULL carry), never joined.
    *  - Right rows tied on (key, ts) are resolved deterministically (max
    *    carried struct wins — the window tie-breaks by the struct itself),
    *    so results are stable across partitionings and re-runs. DuckDB's
    *    ASOF picks an arbitrary tied row; the oracle fixture carries the
    *    timestamp itself, where tied rows are value-identical.
    *
    * Contract: every `carryCols` type must be ORDERABLE (the tie-break
    * orders the window by the carried struct) — atomic types, and
    * structs/arrays of them, qualify; a MapType carry column fails at
    * analysis time. To carry a map, wrap it (e.g. `map_entries` it into an
    * array<struct> and rebuild after the join).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, carryCols: Seq[String]): DataFrame = {
    val leftPayload = left.columns.filterNot(c => keyCols.contains(c) || c == tsCol).toSeq
    val reserved = Seq("_side", "_asof") ++ carryCols.map(c => s"asof_$c")
    reserved.foreach { r =>
      require(!left.columns.contains(r),
        s"asofJoin reserves column name '$r'; rename it on the left input")
    }
    val rightSchema = right.schema
    val asofType = org.apache.spark.sql.types.StructType(
      carryCols.map(c => rightSchema(c).copy(name = c)))
    // Common union schema: keys ++ ts ++ left payload (null on right rows)
    // ++ side tag ++ ONE struct of the carried right columns (null on left).
    val lSide = left.select(
      (keyCols :+ tsCol).map(col) ++
        leftPayload.map(col) :+
        lit(1).as("_side") :+
        lit(null).cast(asofType).as("_asof"): _*)
    val rSide = right
      .where(keyCols.map(col(_).isNotNull).foldLeft(col(tsCol).isNotNull)(_ && _))
      .select(
      (keyCols :+ tsCol).map(col) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        lit(0).as("_side") :+
        struct(carryCols.map(col): _*).as("_asof"): _*)
    // O(1) running-last state per row; `_asof` in the ordering makes tied
    // right rows deterministic (left rows all carry NULL there — inert)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, col("_asof").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("_asof", last(col("_asof"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select((keyCols :+ tsCol).map(col) ++
        leftPayload.map(col) ++
        carryCols.map(c => col("_asof").getField(c).as(s"asof_$c")): _*)
  }

  /** Interval (range) join: rows of `fact` whose `tsCol` falls inside
    * [loCol, hiCol] of an `intervals` row, via grid bucketing. Returns the
    * joined rows (all fact columns + all interval columns); callers
    * aggregate. Inclusive on both bounds, matching a plain
    * `t BETWEEN lo AND hi` theta join (the oracle twin).
    */
  def rangeJoin(fact: DataFrame, intervals: DataFrame, tsCol: String,
      loCol: String, hiCol: String, bucketWidth: Long): DataFrame = {
    // width 0 would make the non-ANSI integer divide yield NULL bucket ids
    // and the join silently return EMPTY ("no events in any window") —
    // refuse instead of lying
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(!fact.columns.contains("_bkt") && !intervals.columns.contains("_bkt"),
      "rangeJoin reserves column name '_bkt'; rename it on the inputs")
    // disjoint column names, validated HERE with an actionable message: a
    // shared name would otherwise surface as an opaque AMBIGUOUS_REFERENCE
    // from the post-join residual filter (same up-front discipline as
    // asofJoin's reserved-name checks)
    val shared = fact.columns.toSet intersect intervals.columns.toSet
    require(shared.isEmpty,
      s"rangeJoin needs disjoint column names; shared: ${shared.toSeq.sorted.mkString(", ")} " +
        "— rename them on one input before joining")
    // integer division (div), NOT `/`: epoch-nano longs exceed 2^53, so a
    // double-typed quotient would lose the low bits of the bucket id.
    // Identifiers are quoted so names with spaces/dots/reserved words parse.
    def bkt(name: String): Column =
      expr(s"${graft.catalog.TableRegistry.quote(name)} div $bucketWidth")
    val bucketed = fact.withColumn("_bkt", bkt(tsCol))
    val expanded = intervals.withColumn("_bkt",
      explode(sequence(bkt(loCol), bkt(hiCol))))
    bucketed.join(expanded, Seq("_bkt"))
      .where(col(tsCol) >= col(loCol) && col(tsCol) <= col(hiCol))
      .drop("_bkt")
  }
}
