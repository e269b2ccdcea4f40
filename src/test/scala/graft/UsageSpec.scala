package graft

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.usage.Usage

/** A1 assembly semantics at the unit level (the oracle checks end-to-end;
  * these pin the per-source contributions). */
class UsageSpec extends SparkSpec {

  test("view contributions = columns ×query_count + DDL join columns") {
    val vs = AnalysisPipeline.views(spark, sfDir)
    val contrib = Usage.viewContributions(spark, vs)
    val byName = contrib.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // every profiled column contributes exactly its view's query_count (1)
    TableRegistry.profiledColumns("part").foreach { c =>
      assert(byName(c) == 1L, s"$c -> ${byName.get(c)}")
    }
    // n_nationkey appears in two view DDL joins (customer, supplier), in no
    // profiled column list
    assert(byName("n_nationkey") == 2L)
    // l_orderkey: column of lineitem (1) + lineitem DDL join (1)
    assert(byName("l_orderkey") == 2L)
  }

  test("unparseable query texts contribute no table references") {
    import spark.implicits._
    val log = Seq(("1", "SELEKT nope", 5L), ("2", "SELECT 1 FROM lineitem", 5L))
      .toDF("query_id", "query", "execution_time_ms")
    val stats = AnalysisPipeline.textStatsOf(log)
    val parsed = AnalysisPipeline.parsedWorkload(spark, stats)
    val refs = parsed.toMap.map { case (t, r) => t -> r.map(_.tables).getOrElse(Seq.empty) }
    assert(refs("SELEKT nope").isEmpty)
    assert(refs("SELECT 1 FROM lineitem") == Seq("lineitem"))
    // and the usage counter sees only the parsed reference
    val wf = Usage.weightedFrequencyFromStats(spark, Nil, stats, parsed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wf == Map("lineitem" -> 1L))
  }

  test("weighted frequency ranks log-referenced tables above single-view columns") {
    val vs = AnalysisPipeline.views(spark, sfDir)
    val stats = AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, sfDir))
    val wf = Usage.weightedFrequencyFromStats(spark, vs, stats,
        AnalysisPipeline.parsedWorkload(spark, stats))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lineitem is referenced by 2 of 5 canned texts → weight ≈ 2/5 of the
    // log size, far above any metadata-only column weight
    assert(wf("lineitem") > wf("p_brand"))
    assert(wf("lineitem") >= wf("customer")) // 2 query shapes vs 1
  }
}
