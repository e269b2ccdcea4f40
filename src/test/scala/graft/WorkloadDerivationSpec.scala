package graft

import graft.catalog.TableRegistry
import graft.introspect.QueryIntrospector
import graft.pipeline.AnalysisPipeline
import graft.score.Scoring
import graft.usage.Usage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The plain-Scala workload derivation ([[Scoring.workloadFrom]] over the
  * collected heavy-hitter rows) against the Spark join formulation it
  * replaced, kept here as the oracle: usage, column weights, table totals
  * and view priorities must be exactly equal. */
class WorkloadDerivationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  /** The sf0.01 log plus texts the canned workload never exercises. */
  private lazy val stats: DataFrame = {
    import spark.implicits._
    val extra = Seq[(String, Option[Long])](
      // every row's execution time NULL → sum_exec NULL
      ("SELECT o_orderkey FROM orders WHERE o_totalprice > 10", None),
      ("SELECT o_orderkey FROM orders WHERE o_totalprice > 10", None),
      // one table named twice
      ("SELECT a.l_orderkey FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey WHERE a.l_quantity > 1", Some(20000L)),
      ("SELECT a.l_orderkey FROM lineitem a JOIN lineitem b " +
        "ON a.l_orderkey = b.l_orderkey WHERE a.l_quantity > 1", Some(7L)),
      ("SELEKT nope FROM", Some(5L)),
      (surface.AdvisorKeys.trinoDialectTexts(1)._2, Some(12000L)),
      (surface.AdvisorKeys.trinoDialectTexts(2)._2, None),
      (surface.AdvisorKeys.trinoDialectTexts(2)._2, Some(3L))
    ).toDF("query", "execution_time_ms")
    AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, dir)
      .select("query", "execution_time_ms").unionByName(extra)).cache()
  }

  private lazy val parsed = AnalysisPipeline.parsedWorkload(spark, stats)
  private lazy val contributions = Usage.viewContributions(spark, AnalysisPipeline.views(spark, dir))

  /** The join formulation: usage, column weights, table totals, priorities. */
  private lazy val oracle = {
    import spark.implicits._
    val refs = Scoring.parsedRefsFrom(spark, parsed)
    val tableRefs = parsed.flatMap { case (q, r) => r.toSeq.flatMap(_.tables).map(q -> _) }
      .toDF("query", "ref_table")
    val usage = contributions.toDF("name", "weight")
      .unionByName(stats.join(broadcast(tableRefs), Seq("query"))
        .select(col("ref_table").as("name"), col("cnt").as("weight")))
      .groupBy("name").agg(sum("weight").as("weighted_frequency"))
      .orderBy(desc("weighted_frequency"), asc("name"))
      .as[(String, Long)].collect().toSeq
    val joined = stats.join(broadcast(refs), Seq("query"))
    val totals = joined.where(col("ref_column").isNull)
      .groupBy(col("ref_table").as("table"))
      .agg(coalesce(sum("sum_exec"), lit(0L)), sum("cnt"))
      .as[(String, Long, Long)].collect().toSet
    val weights = joined.where(col("ref_column").isNotNull)
      .groupBy(col("ref_table").as("table"), col("ref_column").as("column"))
      .agg(coalesce(sum(col("sum_exec") * col("col_count")), lit(0L)))
      .as[(String, String, Long)].collect().toSet
    val priorities = joined.where(col("ref_column").isNull)
      .groupBy(col("ref_table").as("table"))
      .agg(sum("sum_priority") / sum("cnt"))
      .as[(String, Double)].collect().toSet
    (usage, weights, totals, priorities)
  }

  test("the added texts reach the derivation as intended") {
    val byText = parsed.toMap
    val selfJoin = byText.collectFirst { case (q, Some(r)) if q.contains("lineitem a JOIN") => r }
    assert(selfJoin.exists(_.tables == Seq("lineitem", "lineitem")), selfJoin.toString)
    assert(byText("SELEKT nope FROM").isEmpty)
    assert(byText(surface.AdvisorKeys.trinoDialectTexts(1)._2).isDefined)
    val nullExec = stats.where(col("query").startsWith("SELECT o_orderkey FROM orders WHERE"))
      .select("sum_exec").collect()
    assert(nullExec.length == 1 && nullExec(0).isNullAt(0))
  }

  test("workloadFrom over the heavy-hitter rows equals the join formulation exactly") {
    val rows = QueryIntrospector.topRowsByCount(
      stats.select(Scoring.TextStats.columns.map(col): _*)).map(Scoring.TextStats.of)
    val (w, totals) = Scoring.workloadFrom(rows, parsed, contributions)
    val (usage, weights, totals0, priorities) = oracle
    assert(w.usage == usage)
    assert(w.weights.toSet == weights && w.weights.size == weights.size)
    assert(totals.toSet == totals0 && totals.size == totals0.size)
    assert(w.priorities.toSet == priorities && w.priorities.size == priorities.size)
  }

  test("the *FromStats adapters are the same derivation") {
    val (usage, weights, totals, priorities) = oracle
    val refs = Scoring.parsedRefsFrom(spark, parsed)
    val wf = Usage.weightedFrequencyFromStats(spark, AnalysisPipeline.views(spark, dir), stats, parsed)
    assert(wf.columns.toSeq == Seq("name", "weighted_frequency"))
    assert(wf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == usage)
    val (t, cw) = Scoring.performanceMetricsFromStats(stats, refs)
    assert(t.columns.toSeq == Seq("table", "execution_time", "query_count"))
    assert(t.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == totals)
    assert(cw.columns.toSeq == Seq("table", "column", "weight"))
    assert(cw.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet == weights)
    val vp = Scoring.viewPrioritiesFromStats(stats, refs)
    assert(vp.columns.toSeq == Seq("table", "avg_priority"))
    assert(vp.collect().map(r => (r.getString(0), r.getDouble(1))).toSet == priorities)
  }

  test("a long overflow raises, as Spark's ANSI sum does") {
    val refs = Some(QueryIntrospector.SqlRefs(Seq("t"), Map.empty, Map.empty, Map("c" -> 2)))
    val parsed = Seq("a" -> refs, "b" -> refs)
    def derive(a: Scoring.TextStats, b: Scoring.TextStats) =
      Scoring.workloadFrom(Seq(a, b), parsed, Nil)
    intercept[ArithmeticException](derive(Scoring.TextStats("a", Long.MaxValue, None, 1.0),
      Scoring.TextStats("b", 1L, None, 1.0)))
    intercept[ArithmeticException](derive(Scoring.TextStats("a", 1L, Some(Long.MaxValue / 2 + 1), 1.0),
      Scoring.TextStats("b", 1L, None, 1.0)))
    // in range: the NULL sum_exec adds 0
    val (w, totals) = derive(Scoring.TextStats("a", 1L, Some(5L), 2.0),
      Scoring.TextStats("b", 3L, None, 3.0))
    assert(w.weights == Seq(("t", "c", 10L)) && totals == Seq(("t", 5L, 4L)))
    assert(w.priorities == Seq("t" -> 1.25))
  }
}
