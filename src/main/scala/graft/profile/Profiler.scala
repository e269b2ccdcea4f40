package graft.profile

import graft.catalog.TableRegistry
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-pass-per-table column profiler — the native replacement for the
  * reference's per-(view,column) Trino queries:
  *   - cardinality `approx_distinct` (partitioning.py:108-120)
  *   - distribution `approx_percentile + count(distinct) + count(*)`
  *     (partitioning.py:247-292) with skew/density derivation
  *   - `MIN/MAX` value range (partitioning.py:368-375)
  *   - two-level date granularity (partitioning.py:380-408)
  *
  * The reference issues one query per column statistic (O(columns) cluster
  * round trips); here all statistics for a table are computed in a single
  * aggregate pass over the data (one job, one scan), which is the 100 TB
  * posture: profiling cost is one table scan regardless of column count.
  */
object Profiler {

  /** Per-column statistics; -1/None-like sentinels avoided in favor of
    * nullable fields so downstream `when` logic stays honest. */
  final case class ColumnProfile(
      view: String,
      column: String,
      dataType: String,
      cardinality: Long,
      totalCount: Long,
      minValue: Option[Double],
      maxValue: Option[Double],
      valueRange: Option[Double],
      p10: Option[Double],
      p50: Option[Double],
      p90: Option[Double],
      skewRatio: Option[Double],
      density: Option[Double],
      dayCount: Option[Long],
      monthCount: Option[Long],
      yearCount: Option[Long],
      dateGranularity: Option[String])

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: DoubleType | _: FloatType | _: ShortType => true
    case _ => false
  }

  private def isDateLike(dt: DataType): Boolean = dt match {
    // parquet naive timestamps surface as TIMESTAMP_NTZ in Spark 4
    case _: DateType | _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  /** A column reference that takes `name` literally, so a profiled user
    * table's `unit price`, `a.b` or ANSI-reserved column resolves instead
    * of failing to parse. */
  private def column(name: String): Column = col(TableRegistry.quote(name))

  /** Profile every column of `df`: one plain aggregate and one distinct
    * count pass per table, collected together.
    *
    * The distinct counts (each column's, plus the day, month and year of
    * each date column; on the approx path only the date levels) run as ONE
    * fixed-order plan, [[distinctCounts]], not as a
    * multi-`countDistinct` aggregate: Spark's `RewriteDistinctAggregates`
    * lays out its Expand in an order that follows expression-id hashes, so
    * every fresh read of a table generated different Java and recompiled
    * it — 43–55 Janino compilations per warm advise pass on perfbench's
    * seed-1 fixture (SCALE.md). The fixed order makes a byte-identical table compile
    * nothing new (ProfilerSpec pins the `CodegenMetrics` count), and
    * tables with the same column type set share the aggregate classes.
    * The plain aggregate's one row is unioned onto the per-expression
    * counts, so a table is one `collect`.
    *
    * @param approxCardinality use HLL `approx_count_distinct` (the engine /
    *   100 TB path, matching the reference's approx_distinct) instead of the
    *   exact distinct used by the deterministic verification path.
    * @param distributionCap   distribution stats (percentiles → skew/density)
    *   are computed for the first min(cap, n) *numeric* columns only,
    *   mirroring the reference's sampling cap (partitioning.py:250).
    */
  def profile(
      spark: SparkSession,
      view: String,
      df: DataFrame,
      approxCardinality: Boolean = false,
      distributionCap: Int = 5): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    // Reference caps distribution profiling at the first 5 columns
    // (numeric-only: Trino approx_percentile on varchar throws and is
    // skipped, partitioning.py:289-291). Semantics: the NUMERIC columns
    // AMONG the first `distributionCap` schema positions — a table whose
    // early columns are strings gets fewer than cap distribution profiles,
    // exactly like the reference's positional LIMIT.
    val distCols: Set[String] =
      fields.take(distributionCap).filter(f => isNumeric(f.dataType)).map(_.name).toSet

    // rsd 0.02, not the 0.05 default: rsd is ONE sigma (measured error on
    // the fixtures reaches 6.4% at the default), and the cardinality bands
    // (10/100/1k/10k) misband within ~rsd of a boundary — 0.02 costs ~4 KB
    // of sketch state per column and keeps banding errors to the boundary's
    // immediate neighborhood. (the agg_approx_distinct key runs its sketch
    // even tighter, rsd 0.01, because its within-5% band is HASH-asserted;
    // here 0.02 suffices for banding and halves the per-column state.)
    def hll(c: String): Column = approx_count_distinct(column(c), 0.02)

    // Distinct counts and everything else are separate passes. Mixing
    // distinct counting (which expands every row once per counted
    // expression) with imperative percentile buffers in ONE aggregate makes
    // every buffer update pay the expand factor — measured 25× slower at
    // sf0.1. Exact percentiles keep the verification path deterministic
    // (the reference used approx_percentile — the approx twin is exposed
    // via percentile_approx in the agg_percentile key). The plain
    // aggregate's outputs are aliased by position (`_p<i>`, read back
    // through `plainAt`), so no alias is built from a user column name.
    val plainAggs = scala.collection.mutable.ArrayBuffer[(String, Column)](
      "_total" -> count(lit(1)))
    fields.foreach { f =>
      val c = f.name
      if (isNumeric(f.dataType)) {
        plainAggs += s"${c}__min" -> min(column(c)).cast("double")
        plainAggs += s"${c}__max" -> max(column(c)).cast("double")
        if (distCols(c)) {
          plainAggs += s"${c}__pct" -> expr(
            s"percentile(${TableRegistry.quote(c)}, array(0.1D, 0.5D, 0.9D))")
        }
      }
    }
    val dateFields = fields.filter(f => isDateLike(f.dataType)).map(_.name)
    // two-level date-granularity aggregation (partitioning.py:380-408):
    // count(distinct day-of-month / month / year values). Trino's day()
    // IS day-of-month, so distinct "days" caps at 31 and the reference's
    // `day_count > month_count * 20` verdict is reachable only for data
    // inside a single calendar month — faithfully reproduced here, quirk
    // included (the oracle and third-engine twins replay it).
    def dateLevels(c: String): Seq[Column] =
      Seq(dayofmonth(column(c)), month(column(c)), year(column(c)))
    def plain(extra: Seq[Column]): DataFrame = {
      val aggs = (plainAggs.map(_._2) ++ extra).zipWithIndex.map { case (a, i) => a.as(s"_p$i") }
      df.agg(aggs.head, aggs.tail.toSeq: _*)
    }

    // exact: every column's distinct count goes through the fixed-order
    // plan; approx: the HLL sketches are plain aggregates, and only the
    // date levels need exact distinct counts
    val hlls = if (approxCardinality) fields.map(f => hll(f.name)) else Nil
    val cols = if (approxCardinality) Nil else fields.map(f => column(f.name) -> f.dataType)
    val counted = cols ++ dateFields.flatMap(c => dateLevels(c).map(_ -> (IntegerType: DataType)))
    val plainDf = plain(hlls).withColumn("_g", lit(-1))
    val rows = (if (counted.isEmpty) plainDf
      else plainDf.unionByName(distinctCounts(df, counted), allowMissingColumns = true))
      .collect()
    val gAt = plainAggs.size + hlls.size
    val (plainRows, countRows) = rows.partition(_.getInt(gAt) < 0)
    // an expression whose values are all null has no row: it counts 0
    val n = countRows.map(r => r.getInt(gAt) -> r.getLong(gAt + 1)).toMap.withDefaultValue(0L)
    val plainRow = plainRows.head
    val d0 = cols.size
    val cardMap = fields.zipWithIndex.map { case (f, i) =>
      f.name -> (if (approxCardinality) plainRow.getLong(plainAggs.size + i) else n(i))
    }.toMap
    val dateMap = dateFields.zipWithIndex.map { case (c, j) =>
      c -> (n(d0 + 3 * j), n(d0 + 3 * j + 1), n(d0 + 3 * j + 2))
    }.toMap

    val plainAt = plainAggs.map(_._1).zipWithIndex.toMap
    def get[T](key: String): Option[T] =
      plainAt.get(key).filterNot(plainRow.isNullAt).map(plainRow.get(_).asInstanceOf[T])
    val total = get[Long]("_total").getOrElse(0L)

    fields.map { f =>
      val c = f.name
      val cardV = cardMap.getOrElse(c, 0L)
      val minV = get[Double](s"${c}__min")
      val maxV = get[Double](s"${c}__max")
      val pct = get[scala.collection.Seq[Double]](s"${c}__pct").map(_.toSeq)
      val (p10, p50, p90) = pct match {
        case Some(Seq(a, b, cc)) => (Some(a), Some(b), Some(cc))
        case _ => (None, None, None)
      }
      // skew: p90/p10 when p10 ∉ {p90, 0} else 1.0 (intended semantics of
      // partitioning.py:270-276); density: distinct/total (py:279).
      val skew = pct.map { _ =>
        (p10, p90) match {
          case (Some(lo), Some(hi)) if lo != hi && lo != 0.0 => hi / lo
          case _ => 1.0
        }
      }
      val density = pct.map(_ => if (total > 0) cardV.toDouble / total else 0.0)
      val (dCnt, mCnt, yCnt) = dateMap.get(c) match {
        case Some((d, m, y)) => (Some(d), Some(m), Some(y))
        case None => (None, None, None)
      }
      // granularity thresholds per partitioning.py:399-406.
      val gran = (dCnt, mCnt, yCnt) match {
        case (Some(d), Some(m), Some(y)) =>
          Some(if (d > m * 20) "day" else if (m > y * 8) "month" else "year")
        case _ => None
      }
      ColumnProfile(
        view = view, column = c, dataType = f.dataType.simpleString,
        cardinality = cardV, totalCount = total,
        minValue = minV, maxValue = maxV,
        valueRange = for (a <- minV; b <- maxV) yield b - a,
        p10 = p10, p50 = p50, p90 = p90,
        skewRatio = skew, density = density,
        dayCount = dCnt, monthCount = mCnt, yearCount = yCnt,
        dateGranularity = gran)
    }
  }

  /** `count(DISTINCT e)` for every `(e, type)` of `counted`, as one plan
    * built in a fixed order: each row of `df` becomes one long row
    * `(_g, s0 … sk)` per expression — `_g` is the expression's position and
    * the value sits in the one slot of its type (one slot per data type,
    * sorted by type name; the others are null) — rows whose value is null
    * are dropped (`count(DISTINCT)` ignores nulls), then `distinct` and a
    * count per `_g`. Returns `(_g, _n)`, with no row for an expression that
    * is null everywhere. The generated code depends only on the
    * expressions and their order, so the same schema always compiles to
    * the same classes; `distinct` normalises NaN and −0.0 like any
    * grouping key, as `countDistinct` does. */
  private def distinctCounts(df: DataFrame, counted: Seq[(Column, DataType)]): DataFrame = {
    val types = counted.map(_._2).distinct.sortBy(_.catalogString)
    val slots = types.indices.map(i => s"s$i")
    val long = counted.zipWithIndex.map { case ((e, t), g) =>
      struct(lit(g).as("_g") +: types.zip(slots).map { case (u, s) =>
        (if (u == t) e else lit(null).cast(u)).as(s)
      }: _*)
    }
    df.select(explode(array(long: _*)).as("r")).select("r.*")
      .where(slots.map(col(_).isNotNull).reduce(_ || _))
      .distinct()
      .groupBy("_g").agg(count(lit(1)).as("_n"))
  }

}
