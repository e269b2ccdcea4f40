package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for the training-data pipeline: benchmark
  * decontamination and sequential-funnel analysis. Both are declarative
  * plans; the test-time helpers exist so hand-built corpora with known
  * answers can drive them (CurationSpec) while the declared query keys run
  * them over the fixtures with DuckDB oracle twins (`decontaminate_ngram`
  * in surface.DedupKeys, `funnel_stages` in surface.RelationalKeys).
  */
object Curation {

  /** Doc ids from `docs` matching `trainPred` that share at least one
    * w-token shingle with the `benchPred` (eval) subset — where an eval
    * doc SHORTER than w tokens counts as one whole-text shingle, and the
    * training side is additionally shingled at those short lengths so a
    * short benchmark prompt embedded verbatim in a long training doc IS
    * found (w-shingles alone can never equal a sub-w eval phrase — the
    * exact case decontamination exists for).
    *
    * Scale shape: eval sets are tiny by construction, so the distinct
    * eval-shingle set broadcasts and contamination is a broadcast LEFT SEMI
    * against one scan of the training corpus per required shingle length
    * (1 + distinct short eval lengths, bounded by w-1 and typically 0
    * extra) — no shuffle grows with training-set size (contrast dedup,
    * where both sides are corpus-sized and LSH banding is required).
    * Collecting the short lengths is a driver-side metadata read of the
    * same tiny eval set that broadcasts anyway. */
  def contaminatedDocIds(docs: DataFrame, benchPred: Column, trainPred: Column,
      w: Int): DataFrame = {
    val bench = docs.where(benchPred)
    val benchSh = bench
      .select(explode(Dedup.shingles(col("text"), w)).as("sh")).distinct()
    val shortLens = bench
      .select(size(split(col("text"), " ")).as("n"))
      .where(col("n") > 0 && col("n") < w)
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val train = docs.where(trainPred)
    val trainSh = (w +: shortLens).distinct
      .map(len => train.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), len)).as("sh")))
      .reduce(_ unionAll _)
    trainSh
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Sequential conversion funnel: for each user, the first `stages(0)`
    * event, then the first `stages(1)` strictly after it, and so on.
    * Returns (stage: 1-based index, users: count surviving that stage) —
    * with EVERY declared stage present, users = 0 when nobody survives it
    * (an absent tail row silently truncates the funnel for any consumer
    * that renders or joins on the declared stages).
    *
    * `ev` needs (user_id, event_type, ms). Each stage is a per-user MIN
    * joined to the previous stage's per-user row — the data-proportional
    * work is one filtered scan per stage; the joined state is user-sized. */
  def funnelStages(ev: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val perStage = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (tpe, _)) =>
        val cur = ev.where(col("event_type") === tpe)
          .select(col("user_id"), col("ms"))
        val gated = prev match {
          case None => cur
          case Some(p) =>
            cur.join(p.select(col("user_id"), col("t").as("t_prev")), "user_id")
              .where(col("ms") > col("t_prev"))
        }
        Some(gated.groupBy("user_id").agg(min("ms").as("t")))
    }.flatten
    val counts = perStage.zipWithIndex
      .map { case (df, i) => df.select(lit(i + 1).as("stage"), col("user_id")) }
      .reduce(_ unionAll _)
      .groupBy("stage").agg(count(lit(1)).as("users"))
    import ev.sparkSession.implicits._
    val declared = stages.indices.map(i => i + 1).toDF("stage")
    declared.join(counts, Seq("stage"), "left_outer")
      .select(col("stage"), coalesce(col("users"), lit(0L)).as("users"))
      .orderBy("stage")
  }
}
