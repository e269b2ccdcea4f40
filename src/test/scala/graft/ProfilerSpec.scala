package graft

import graft.catalog.TableRegistry
import graft.profile.Profiler
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A2-A7/C6 profiler invariants on the sf0.001 fixtures. */
class ProfilerSpec extends SparkSpec {

  private lazy val profiles =
    Profiler.profile(spark, "lineitem", TableRegistry.table(spark, sfDir, "lineitem"))

  private def p(c: String) = profiles.find(_.column == c).get

  test("profiles one row per column with total count") {
    assert(profiles.map(_.column).toSet == TableRegistry.profiledColumns("lineitem").toSet)
    assert(profiles.forall(_.totalCount == profiles.head.totalCount))
    assert(profiles.head.totalCount > 0)
  }

  test("low-cardinality string column profiled correctly") {
    val f = p("l_returnflag")
    assert(f.cardinality == 3)
    assert(f.minValue.isEmpty && f.p10.isEmpty) // non-numeric: no range/percentiles
  }

  test("date column gets granularity counts and a year/month/day decision") {
    val d = p("l_shipdate")
    assert(d.dayCount.contains(31L))
    assert(d.monthCount.contains(12L))
    assert(d.yearCount.exists(_ >= 2))
    // multi-year daily data: day_count(31) < month_count*20 and
    // month_count(12) < year_count*8 → 'year' per partitioning.py:399-406
    assert(d.dateGranularity.contains("year"))
  }

  test("distribution stats only for first-5 numeric columns (C6 cap)") {
    assert(p("l_quantity").skewRatio.isDefined)   // 5th column, numeric
    assert(p("l_extendedprice").skewRatio.isEmpty) // 6th column: capped out
    assert(p("l_orderkey").density.exists(d => d > 0 && d <= 1))
  }

  test("skew guard: p10 ∈ {0, p90} → ratio 1.0") {
    // l_linenumber ∈ [1,7]: p10=1, p90=6ish — plain ratio; synthetic check of
    // the guard uses l_discount-like low-distinct col if p10==p90.
    val ln = p("l_linenumber")
    assert(ln.skewRatio.exists(_ >= 1.0))
  }

  test("approx cardinality path stays within 10% of exact (HLL rsd=5% is 1σ)") {
    val approx = Profiler.profile(spark, "lineitem",
      TableRegistry.table(spark, sfDir, "lineitem"), approxCardinality = true)
    approx.foreach { ap =>
      val ex = p(ap.column).cardinality.toDouble
      assert(math.abs(ap.cardinality - ex) <= math.max(2.0, ex * 0.10),
        s"${ap.column}: approx ${ap.cardinality} vs exact $ex")
    }
  }

  /** A generated table with the shapes that break naive profiling: an
    * all-null column, NaN / 0.0 / −0.0 doubles, column names with a space,
    * a backtick and a dot, and date, timestamp and timestamp_ntz columns
    * with nulls. `rows = 0` gives the same schema empty. */
  private def awkward(rows: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("unit price", DoubleType),
      StructField("we`ird", StringType),
      StructField("a.b", LongType),
      StructField("nothing", IntegerType),
      StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType)))
    val doubles = Seq(Double.NaN, 0.0, -0.0, 1.5, -2.5, null)
    val data = (0 until rows).map { i =>
      val day = java.time.LocalDate.of(2020 + i % 3, 1 + i % 12, 1 + i % 28)
      val t = day.atTime(i % 24, i % 60)
      Row(i, doubles(i % doubles.size), if (i % 5 == 0) null else s"w${i % 7}",
        (i % 11).toLong, null,
        if (i % 9 == 0) null else java.sql.Date.valueOf(day),
        if (i % 4 == 0) null else java.sql.Timestamp.valueOf(t),
        if (i % 6 == 0) null else t)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => x == y || (x.isNaN && y.isNaN)
    case _ => a == b
  }

  /** Every profiled distinct count, min and max against a per-column
    * reference computed one aggregate at a time. */
  private def assertMatchesReference(df: DataFrame, approx: Boolean): Unit = {
    val profiles = Profiler.profile(spark, "awkward", df, approxCardinality = approx)
    assert(profiles.map(_.column) == df.columns.toSeq)
    val total = df.count()
    def one(c: Column): Any = df.agg(c).collect()(0).get(0)
    profiles.zip(df.schema.fields).foreach { case (p, f) =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      val card = one(if (approx) approx_count_distinct(c, 0.02) else countDistinct(c))
      assert(p.totalCount == total, p.toString)
      assert(p.cardinality == card, s"${f.name}: cardinality ${p.cardinality} vs $card")
      f.dataType match {
        case IntegerType | LongType | DoubleType =>
          val lo = Option(one(min(c).cast("double"))).map(_.asInstanceOf[Double])
          val hi = Option(one(max(c).cast("double"))).map(_.asInstanceOf[Double])
          assert(same(p.minValue, lo) && same(p.maxValue, hi),
            s"${f.name}: [${p.minValue}, ${p.maxValue}] vs [$lo, $hi]")
        case _ => assert(p.minValue.isEmpty && p.maxValue.isEmpty, p.toString)
      }
      f.dataType match {
        case DateType | TimestampType | TimestampNTZType =>
          val levels = Seq(dayofmonth(c), month(c), year(c)).map(e => one(countDistinct(e)))
          assert(Seq(p.dayCount, p.monthCount, p.yearCount).map(_.get) == levels,
            s"${f.name}: ${p.dayCount}/${p.monthCount}/${p.yearCount} vs $levels")
        case _ => assert(p.dayCount.isEmpty && p.dateGranularity.isEmpty, p.toString)
      }
    }
  }

  test("exact and approx profiles equal a per-column reference on awkward data") {
    val df = awkward(240).cache()
    try {
      // the fixture really has the shapes it claims
      assert(df.agg(countDistinct(col("`unit price`"))).collect()(0).getLong(0) == 4L)
      Seq(false, true).foreach(assertMatchesReference(df, _))
      val nothing = Profiler.profile(spark, "awkward", df).find(_.column == "nothing").get
      assert(nothing.cardinality == 0L && nothing.minValue.isEmpty, nothing.toString)
    } finally df.unpersist()
  }

  test("an empty table profiles to zero counts on both paths") {
    val empty = awkward(0)
    Seq(false, true).foreach { approx =>
      assertMatchesReference(empty, approx)
      assert(Profiler.profile(spark, "empty", empty, approxCardinality = approx)
        .forall(p => p.totalCount == 0L && p.cardinality == 0L))
    }
  }

  test("profiling a byte-identical copy of a table compiles no new code") {
    val orig = java.nio.file.Files.createTempDirectory("profile_codegen")
    val copy = java.nio.file.Files.createTempDirectory("profile_codegen_copy")
    Seq(orig, copy).foreach(d => java.nio.file.Files.copy(
      java.nio.file.Paths.get(TableRegistry.path(sfDir, "lineitem")), d.resolve("t.parquet")))
    def read(d: java.nio.file.Path) = spark.read.parquet(d.resolve("t.parquet").toString)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq(false, true).foreach { approx =>
      val first = Profiler.profile(spark, "t", read(orig), approxCardinality = approx)
      val c0 = compiles
      val second = Profiler.profile(spark, "t", read(copy), approxCardinality = approx)
      assert(compiles - c0 == 0L,
        s"approx=$approx: the copy compiled ${compiles - c0} new classes")
      assert(second == first)
    }
  }
}
