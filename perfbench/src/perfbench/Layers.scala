package perfbench

import graft.catalog.ViewMeta
import graft.introspect.QueryIntrospector
import graft.pipeline.AnalysisPipeline
import graft.profile.Profiler
import graft.recommend.{Balance, Recommender}
import graft.score.Scoring
import graft.usage.Usage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The advisor composed from each layer's public functions, in the order
  * `AnalysisPipeline` runs them, with every layer call in its own span.
  * Lazily built frames are forced inside the span of the layer that built
  * them, so each layer is charged with its own jobs. Unlike
  * `AnalysisPipeline.scores`, profiling and the workload side run one after
  * the other here, so the layer times add up to the pass. */
object Layers {

  final case class Advice(recs: Seq[(String, String)], texts: Int, parsed: Int,
      vetted: Int, accepted: Int)

  def recsOf(rows: Array[org.apache.spark.sql.Row]): Seq[(String, String)] =
    rows.map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec")))
      .toSeq.sortBy(_._1)

  def advise(t: Tracer, spark: SparkSession, vs: Seq[ViewMeta],
      tableFor: String => DataFrame, textStats: DataFrame, vet: Boolean): Advice = {
    import spark.implicits._
    val profiles = t.span("profile") {
      vs.flatMap(v => t.span(s"profile.${v.view}")(Profiler.profile(spark, v.view, tableFor(v.view))))
    }
    val stats = textStats.cache()
    try {
      val texts = t.span("usage.textstats") {
        QueryIntrospector.topTextsByCount(stats, AnalysisPipeline.maxWorkloadTexts)
      }
      val parsed = t.span("introspect.parse")(QueryIntrospector.parseAll(spark, texts))
      val usage = t.span("usage.weighted_frequency") {
        Usage.weightedFrequencyFromStats(spark, vs, stats, parsed).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      val ranked = t.span("score") {
        val refs = Scoring.parsedRefsFrom(spark, parsed).cache()
        try {
          val weights = Scoring.performanceMetricsFromStats(stats, refs)._2.collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
          val priorities = Scoring.viewPrioritiesFromStats(stats, refs).collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
          val scores = Scoring.partitionScores(profiles.toDF(),
            usage.toDF("name", "weighted_frequency"),
            weights.toDF("table", "column", "weight"),
            priorities.toDF("table", "avg_priority"))
          val rk = Scoring.topNPerView(scores, 3).cache()
          rk.count()
          rk
        } finally refs.unpersist()
      }
      try {
        val recs = t.span("recommend.scripts") {
          recsOf(Recommender.scripts(spark, ranked, vs.map(_.view)).collect())
        }
        val vetted = if (!vet) Seq.empty else t.span("recommend.balance") {
          val candidates = Recommender.withSelectedSpec(ranked)
            .select(col("view"), col("column"), col("rank").cast("long"), col("spec"))
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
          Balance.vet(candidates, tableFor, maxSkew = 8.0)
        }
        Advice(recs, texts.size, parsed.count(_._2.isDefined), vetted.size,
          vetted.count(_.accepted))
      } finally ranked.unpersist()
    } finally stats.unpersist()
  }
}
