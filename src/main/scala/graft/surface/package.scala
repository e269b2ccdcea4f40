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
  *
  * An oracle fragment that two modules repeat lives below as one definition
  * (one a single module repeats is a private member of that module);
  * sharing may never change the emitted SQL, byte for byte, whitespace
  * included (`scripts/oracle_sql_diff.py` compares two dumps).
  */
package object surface {

  private[surface] def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  /** ns→ms with integer division: epoch-nano longs exceed 2^53, a double
    * quotient would corrupt low bits. DuckDB twin: epoch_ns(ts)//1000000. */
  private[surface] final val tsMs = "ts div 1000000"

  /** Oracle expression: the 6-place rounded cosine `cos` of the embedding
    * lists `a.v` and `b.v` (SimSearch's dot / (norm · norm)). Its second
    * line carries its own indentation. */
  private[surface] val cosineAB: String =
    """ROUND(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) /
      |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos""".stripMargin

  /** Oracle CTE `p`: the [[cosineAB]] of every pair a_id < b_id of a CTE
    * `e` (vec_id, v). */
  private[surface] val cosinePairCte: String =
    s"""p AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    $cosineAB
       |  FROM e a, e b WHERE a.vec_id < b.vec_id)""".stripMargin

  /** Oracle select items of the Gopher rule counts over a token list `sp`
    * and `n_chars` (TextAnalysis.gopherRules): tokens `n`, token chars
    * `ch`, stopwords `st`, bigrams `tbi` and distinct bigrams `dbi`. Lines
    * after the first carry their own indentation. */
  private[surface] val gopherCounts: String =
    """CAST(len(sp) AS BIGINT) AS n,
      |    CAST(n_chars - (len(sp) - 1) AS BIGINT) AS ch,
      |    CAST(len(list_filter(sp, t -> t = 'the' OR t = 'a')) AS BIGINT) AS st,
      |    CAST(CASE WHEN len(sp) >= 2 THEN len(sp) - 1 ELSE 0 END AS BIGINT) AS tbi,
      |    CAST(CASE WHEN len(sp) >= 2 THEN len(list_distinct(
      |        list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])))
      |      ELSE 0 END AS BIGINT) AS dbi""".stripMargin
}
