package graft.ext

import graft.Memo
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distilled quality classifier — the "fastText-style quality filter" shape
  * of an LLM data pipeline (cf. reference scoring.py's heuristic band
  * scores): train a linear model on CHEAP per-doc features to reproduce the
  * verdict of the EXPENSIVE quality heuristic, so the filter can run at
  * ingest speed. Here the teacher is the engine's own integer-exact
  * [[TextAnalysis.qualityMicros]] composite; a production pipeline swaps in
  * human labels or a large-model judge without touching the trainer.
  *
  * Scale design: full-batch logistic regression by deterministic gradient
  * descent. Each step is ONE scan computing 4 partial-aggregated means
  * (map-side combine; exactly 4 doubles reach the driver), so a trained
  * model costs `steps` scans regardless of corpus size — no per-row driver
  * state, no external library, no RNG (w₀ = 0). Cross-row double sums
  * commute at ~1e-15; every oracle-compared surface downstream rounds
  * through 6 decimals (9 orders coarser — the embedding_pca_power
  * contract), and classification thresholds on the ROUNDED margin so a
  * label can only flip if a true margin sits within that jitter of a
  * 1e-6 boundary (the embedding_abtt rounded-order trick).
  */
object QualityModel {

  /** Teacher-label threshold in quality-micros: docs scoring ≥ this are the
    * positive class. 0.40 sits near the corpus median at every fixture SF
    * (42–46% positive), so the learned boundary is never degenerate. */
  val labelThresholdMicros = 400000L

  /** Canonical training schedule for the declared surface keys (and their
    * oracle replays): 12 steps at η=4 reaches 0.976 training accuracy and
    * spreads predictions across 4 of 5 calibration bins at sf0.01. Float
    * audit: per-step jitter amplification ≤ ~2×, so the ~1e-15 cross-engine
    * seed grows to at most ~4e-12 over 12 steps — still 6 orders below the
    * round(6) surfaces. */
  val trainSteps = 12
  val trainEta = 4.0

  /** Feature frame: (doc_id, y, x0..x3) — bias, capped token count,
    * stopword ratio, capped average token length: the same three signals
    * the teacher composites (so the linear model can actually learn it —
    * 0.976 training accuracy at sf0.01 vs 0.58 for length/density
    * features), which is exactly a distillation's job. Per-row exact:
    * every feature is a fixed chain of IEEE ops on integers, identical on
    * every engine (x3's two divisions are sequenced sum/n then /10 — the
    * replays MUST keep that order, a fused sum/(10n) rounds differently).
    * One scan, no shuffle. */
  def features(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = greatest(size(toks), lit(1)).cast("double")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    docs.select(
      col("doc_id"),
      when(TextAnalysis.qualityMicros(col("text"), Seq("the", "a")) >=
        labelThresholdMicros, 1.0d).otherwise(0.0d).as("y"),
      lit(1.0d).as("x0"),
      (least(size(toks), lit(100)).cast("double") / 100.0d).as("x1"),
      (size(filter(toks, t => t.isin("the", "a"))).cast("double") / nTok).as("x2"),
      least(sumLen.cast("double") / nTok / lit(10.0d), lit(1.0d)).as("x3"))
  }

  /** The margin w·x as a column over a [[features]] frame. */
  def margin(w: Array[Double]): org.apache.spark.sql.Column = {
    require(w.length == 4, s"expected 4 weights, got ${w.length}")
    col("x0") * w(0) + col("x1") * w(1) + col("x2") * w(2) + col("x3") * w(3)
  }

  /** [[train]] memoized per (feature frame, schedule) — the two declared
    * surface keys (doc_quality_logreg, quality_calibration) share one model
    * per corpus, so the 12-job gradient descent runs once, not once per
    * key ([[Memo]]). */
  def trainCached(feat: DataFrame, steps: Int, eta: Double): Array[Double] =
    Memo.of(s"logreg:$steps:$eta", feat)(train(feat, steps, eta))

  /** Train `steps` full-batch gradient steps at rate `eta` from w = 0:
    * wⱼ += η · avg((y − σ(w·x)) · xⱼ). Deterministic given the corpus. */
  def train(feat: DataFrame, steps: Int, eta: Double): Array[Double] = {
    var w = Array(0.0d, 0.0d, 0.0d, 0.0d)
    var k = 0
    while (k < steps) {
      val resid = col("y") - lit(1.0d) / (lit(1.0d) + exp(-margin(w)))
      val g: Row = feat.agg(
        avg(resid * col("x0")).as("g0"), avg(resid * col("x1")).as("g1"),
        avg(resid * col("x2")).as("g2"), avg(resid * col("x3")).as("g3")).head()
      w = Array.tabulate(4)(j => w(j) + eta * g.getDouble(j))
      k += 1
    }
    w
  }
}
