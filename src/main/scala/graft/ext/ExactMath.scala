package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Integer-exact decimal rounding of integer ratios — the determinism
  * backbone for every oracle-compared ratio column.
  *
  * Why: `round(a/b, p)` on doubles is engine-ambiguous exactly when the
  * true rational a/b sits on the decimal half-boundary (…5 at place p+1):
  * Spark rounds the shortest decimal repr of the nearest double HALF_UP,
  * DuckDB multiplies by 10^p and rounds — and the two can disagree by one
  * final digit on the SAME input double (found live at sf0.1: a quality
  * score of exactly 0.2883125). Integer ratios hit such boundaries for
  * real data (any denominator with a 2^(p+1) factor); irrational values
  * (cosines, stddevs) effectively never do.
  *
  * Contract: a ≥ 0, b > 0 (callers guard empty groups themselves — SQL
  * aggregates yield NULL there, and so should the caller's expression).
  * Arithmetic runs in decimal(38,0), so `scale·a` has ~10^38 headroom —
  * far past any Long input — and the quotient (≤ 10^p after division)
  * casts back to long loss-free.
  */
object ExactMath {

  /** Integer division (`div`) as a Column — IntegralDivide isn't in the
    * functions API. */
  private[graft] def ldiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** round(a/b, places) with HALF_UP semantics computed in exact integer
    * arithmetic: (2·10^places·a + b) div (2·b), then one float division by
    * 10^places (an identical IEEE op on every engine — the only float in
    * the chain). */
  def ratioRounded(a: Column, b: Column, places: Int): Column = {
    require(places >= 0 && places <= 18, s"places out of range: $places")
    val scale = math.pow(10, places).toLong
    val d = "decimal(38,0)"
    val units = ldiv(
      lit(2L * scale).cast(d) * a.cast(d) + b.cast(d),
      lit(2L).cast(d) * b.cast(d))
    units.cast("double") / scale.toDouble
  }

  /** Truncating integer division lifted to decimal(38,0) — for quotients
    * whose intermediate products overflow Long (same contract as
    * [[ratioRounded]]: a ≥ 0, b > 0, so truncation = floor and the result
    * matches DuckDB `//` on every engine). Returns LongType. */
  def intDiv(a: Column, b: Column): Column = {
    val d = "decimal(38,0)"
    ldiv(a.cast(d), b.cast(d))
  }

  /** The DuckDB twin of [[ratioRounded]] as oracle-SQL text. HUGEINT keeps
    * the 2·10^places·a product exact for any BIGINT inputs. */
  def ratioRoundedSql(a: String, b: String, places: Int): String = {
    val scale = math.pow(10, places).toLong
    s"(CAST(((${2L * scale}::HUGEINT * ($a) + ($b)) // (2::HUGEINT * ($b))) AS DOUBLE) / $scale)"
  }

  /** murmur3_x86_32 of a BIGINT column replayed in pure DuckDB SQL: the
    * value's two little-endian 32-bit blocks through the standard mix
    * (k*c1, rotl15, k*c2, h^=k, rotl13, h*5+e6546b64) and final avalanche,
    * all mod 2^32 via HUGEINT multiplies. Seed 0 = the Iceberg spec hash
    * (vector: 34 → 2017239379); seed 42 = Spark's `hash()` for LongType.
    * Exposes `v` (input) and `sh` (signed int32 hash) in CTE `msigned`. */
  private[graft] def murmurCte(table: String, colExpr: String, seed: Int): String =
    s"""WITH mbase AS (SELECT $colExpr AS v FROM $table),
       |mblk AS (SELECT v, v & 4294967295 AS b0, (v >> 32) & 4294967295 AS b1 FROM mbase),
       |m1 AS (SELECT v, b1, CAST((CAST(b0 AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM mblk),
       |m2 AS (SELECT v, b1, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM m1),
       |m3 AS (SELECT v, b1, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM m2),
       |m4 AS (SELECT v, b1, xor(CAST($seed AS BIGINT), k) AS h FROM m3),
       |m5 AS (SELECT v, b1, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM m4),
       |m6 AS (SELECT v, b1, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM m5),
       |m7 AS (SELECT v, h, CAST((CAST(b1 AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT) AS k FROM m6),
       |m8 AS (SELECT v, h, ((k << 15) | (k >> 17)) & 4294967295 AS k FROM m7),
       |m9 AS (SELECT v, h, CAST((CAST(k AS HUGEINT) * 461845907) % 4294967296 AS BIGINT) AS k FROM m8),
       |m10 AS (SELECT v, xor(h, k) AS h FROM m9),
       |m11 AS (SELECT v, ((h << 13) | (h >> 19)) & 4294967295 AS h FROM m10),
       |m12 AS (SELECT v, CAST((CAST(h AS HUGEINT) * 5 + 3864292196) % 4294967296 AS BIGINT) AS h FROM m11),
       |mf0 AS (SELECT v, xor(h, 8) AS h FROM m12),
       |mf1 AS (SELECT v, xor(h, h >> 16) AS h FROM mf0),
       |mf2 AS (SELECT v, CAST((CAST(h AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS h FROM mf1),
       |mf3 AS (SELECT v, xor(h, h >> 13) AS h FROM mf2),
       |mf4 AS (SELECT v, CAST((CAST(h AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS h FROM mf3),
       |mf5 AS (SELECT v, xor(h, h >> 16) AS h FROM mf4),
       |msigned AS (SELECT v, CASE WHEN h >= 2147483648 THEN h - 4294967296 ELSE h END AS sh FROM mf5)
       |""".stripMargin
}
