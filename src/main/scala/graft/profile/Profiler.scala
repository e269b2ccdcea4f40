package graft.profile

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

  /** Profile every column of `df` in one aggregate pass.
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
    def card(c: String): Column =
      if (approxCardinality) approx_count_distinct(col(c), 0.02) else countDistinct(col(c))

    // Distinct counts and everything else are separate passes. Mixing
    // multi-DISTINCT aggregates (which plan as Expand ×(groups+1)) with
    // imperative percentile buffers in ONE aggregate makes every buffer
    // update pay the expand factor — measured 25× slower at sf0.1. Exact
    // percentiles keep the verification path deterministic (the reference
    // used approx_percentile — the approx twin is exposed via
    // percentile_approx in the agg_percentile key).
    val plainAggs = scala.collection.mutable.ArrayBuffer[Column](count(lit(1)).as("_total"))
    fields.foreach { f =>
      val c = f.name
      if (isNumeric(f.dataType)) {
        plainAggs += min(col(c)).cast("double").as(s"${c}__min")
        plainAggs += max(col(c)).cast("double").as(s"${c}__max")
        if (distCols(c)) {
          // backtick-quote (escaping embedded backticks): runFromCatalog
          // profiles arbitrary user tables, and a column named 'unit price'
          // or an ANSI-reserved word would otherwise kill the whole run at
          // parse time — every other aggregate here goes through col(c)
          plainAggs += expr(
            s"percentile(`${c.replace("`", "``")}`, array(0.1D, 0.5D, 0.9D))")
            .as(s"${c}__pct")
        }
      }
    }
    val dateFields = fields.filter(f => isDateLike(f.dataType)).map(_.name)
    def dateAggs(c: String): Seq[Column] = Seq(
      // two-level date-granularity aggregation (partitioning.py:380-408):
      // count(distinct day-of-month / month / year values). Trino's day()
      // IS day-of-month, so distinct "days" caps at 31 and the reference's
      // `day_count > month_count * 20` verdict is reachable only for data
      // inside a single calendar month — faithfully reproduced here,
      // quirk included (the oracle and third-engine twins replay it).
      countDistinct(dayofmonth(col(c))).as(s"${c}__days"),
      countDistinct(month(col(c))).as(s"${c}__months"),
      countDistinct(year(col(c))).as(s"${c}__years"))

    // With spare scheduler slots (≥16), each distinct count runs as its own
    // concurrent job: a per-column HashAggregate dedupes map-side BEFORE the
    // shuffle, vs the combined form's Expand ×(columns+date-levels) pushing
    // |rows|×groups through one partial aggregate (measured 3.4 s vs 0.7 s
    // on sf0.1 lineitem). Column pruning makes each job read only its own
    // parquet column, so total I/O matches the one-pass form. On small
    // executors the jobs would queue — keep the single Expand pass there.
    val (plainRow, cardMap, dateMap) =
      if (spark.sparkContext.defaultParallelism >= 16) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        // capped like AnalysisPipeline's table pool (r8): one thread per
        // column is a driver-thread bomb on wide warehouse tables — 32
        // in-flight jobs already saturate the scheduler, the rest queue
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, fields.size + dateFields.size + 1))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try {
          val plainF = Future(df.agg(plainAggs.head, plainAggs.tail.toSeq: _*).collect()(0))
          val cardFs = fields.map(f => Future(
            f.name -> df.agg(card(f.name)).collect()(0).getLong(0)))
          val dateFs = dateFields.map { c =>
            Future {
              val as = dateAggs(c)
              val r = df.agg(as.head, as.tail: _*).collect()(0)
              c -> (r.getLong(0), r.getLong(1), r.getLong(2))
            }
          }
          (Await.result(plainF, Duration.Inf),
            Await.result(Future.sequence(cardFs), Duration.Inf).toMap,
            Await.result(Future.sequence(dateFs), Duration.Inf).toMap)
        } finally pool.shutdown()
      } else {
        val distinctAggs = fields.map(f => card(f.name).as(s"${f.name}__card")) ++
          dateFields.flatMap(dateAggs)
        val row = df.agg(plainAggs.head, plainAggs.tail.toSeq: _*)
          .crossJoin(df.agg(distinctAggs.head, distinctAggs.tail: _*))
          .collect()(0)
        def lng(name: String): Long = {
          val i = row.schema.fieldNames.indexOf(name)
          row.getLong(i)
        }
        (row,
          fields.map(f => f.name -> lng(s"${f.name}__card")).toMap,
          dateFields.map(c =>
            c -> (lng(s"${c}__days"), lng(s"${c}__months"), lng(s"${c}__years"))).toMap)
      }

    def get[T](name: String): Option[T] = {
      val names = plainRow.schema.fieldNames
      val i = names.indexOf(name)
      if (i < 0 || plainRow.isNullAt(i)) None else Some(plainRow.get(i).asInstanceOf[T])
    }
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

}
