package graft

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.score.Scoring
import org.apache.spark.sql.functions._

/** C5/C7/E5 — resource weighting, interactive classification, band edges. */
class ScoringSpec extends SparkSpec {

  private lazy val log = TableRegistry.queryLog(spark, sfDir).cache()

  test("typed Dataset[QueryLogRow] round-trips the log schema") {
    val ds = TestOps.queryLogDs(spark, sfDir)
    val first = ds.orderBy("query_id").head()
    assert(first.query != null && first.execution_time_ms >= 0)
    assert(ds.count() == log.count())
  }

  test("resource score is bounded (0,100] and the max-metric query scores 100-ish") {
    val scored = Scoring.resourceScores(log)
    val mm = scored.agg(min("resource_score"), max("resource_score")).collect()(0)
    assert(mm.getDouble(0) > 0.0)
    assert(mm.getDouble(1) <= 100.0 + 1e-9)
    // our querylog derives all four metrics from `value`, so one row attains
    // every max simultaneously → its score is exactly 40+30+15+15.
    assert(math.abs(mm.getDouble(1) - 100.0) < 1e-9)
  }

  test("classification: LIMIT or exec<10000 → interactive, priority 2.0") {
    val types = Scoring.queryTypes(log)
    val bad = types.where(
      (upper(col("query")).contains("LIMIT") || col("execution_time_ms") < 10000) =!=
        col("is_interactive")).count()
    assert(bad == 0)
    val pr = types.where(col("is_interactive") =!= (col("partition_priority") === 2.0)).count()
    assert(pr == 0)
    // both classes must exist in the fixture workload for the test to mean anything
    assert(types.where(col("is_interactive")).count() > 0)
    assert(types.where(!col("is_interactive")).count() > 0)
  }

  test("cardinality banding edges 10/100/1000/10000 (E5)") {
    val got = Seq(9L, 10L, 99L, 100L, 999L, 1000L, 9999L, 10000L).map(Scoring.cardinalityBand)
    assert(got == Seq(5.0, 10.0, 10.0, 8.0, 8.0, 5.0, 5.0, 1.0))
  }

  test("performance metrics: weights follow exec-time × column multiplicity") {
    val stats = AnalysisPipeline.textStatsOf(log)
    val (totals, weights) = Scoring.performanceMetricsFromStats(stats,
      Scoring.parsedRefsFrom(spark, AnalysisPipeline.parsedWorkload(spark, stats)))
    // every canned-workload table present
    assert(totals.select("table").collect().map(_.getString(0)).toSet ==
      Set("lineitem", "orders", "customer", "supplier", "nation"))
    // o_orderkey appears twice in q1 → its weight on `orders` is exactly 2×
    // the l_orderkey weight (multiplicity 1) for the same query set.
    val w = weights.where(col("table") === "orders").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(w("o_orderkey") == 2 * w("l_orderkey"))
  }
}
