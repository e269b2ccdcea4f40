package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the `drift_psi` key (X19): monitor a live candidate
  * corpus slice for distribution drift against a STATIC reference
  * histogram, emitting the population stability index after every
  * micro-batch.
  *
  * Scale design: the only state is the candidate bucket histogram — 13
  * longs, metadata-sized at any stream length — merged additively per
  * batch (each batch contributes one O(buckets) grouped count; the doc
  * stream itself is never retained).
  *
  * Durability: the histogram is persisted as a 13-line text file per
  * batch id beside the checkpoint (13 longs never justify a Spark write
  * job), under the rules of [[VersionedState]].
  *
  * PSI math is bucket-ordered and Laplace-smoothed exactly like the batch
  * key: buckets present in NEITHER slice are excluded from the bucket
  * count nb, +0.5 smoothing keeps one-sided-empty buckets finite, and the
  * ordered driver-side summation lands within float jitter of the batch
  * plan's aggregate (both round(6)-stable).
  */
object StreamingDrift {

  /** The drift_psi binning: width-50 char buckets capped at 12. */
  def bucketOf: Column = least(expr("n_chars div 50"), lit(12L)).cast("int")

  /** Batch helper: bucket histogram of a (…, n_chars) frame —
    * O(buckets) rows collect. Null n_chars rows are excluded (a null
    * bucket would NPE the collect, and a length-less doc carries no
    * length signal) — the textStatsOf null-guard discipline. */
  def histogram(docs: DataFrame): Map[Int, Long] =
    docs.where(col("n_chars").isNotNull)
      .select(bucketOf.as("bucket")).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Laplace-smoothed PSI between two histograms, bucket-ordered sum. */
  def psi(ref: Map[Int, Long], cand: Map[Int, Long]): Double = {
    val buckets = (ref.keySet ++ cand.keySet).toSeq.sorted
    val nb = buckets.size.toDouble
    val ta = ref.values.sum.toDouble
    val tb = cand.values.sum.toDouble
    buckets.map { b =>
      val p = (ref.getOrElse(b, 0L) + 0.5) / (ta + 0.5 * nb)
      val q = (cand.getOrElse(b, 0L) + 0.5) / (tb + 0.5 * nb)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** Start the monitor over a streaming (…, n_chars) frame: per
    * micro-batch, merge the batch's bucket counts into the persisted
    * candidate histogram (versioned at `<checkpoint>_state/v<batchId>`)
    * and invoke `onBatch(batchId, psiSoFar)`. */
  def monitor(docs: DataFrame, ref: Map[Int, Long], checkpoint: String)(
      onBatch: (Long, Double) => Unit): StreamingQuery =
    monitorWithPrev(docs, ref, checkpoint)((id, _, p) => onBatch(id, p))

  /** [[monitor]], with the callback ALSO receiving the PSI of the state
    * BEFORE this batch (None when no prior state exists — batch 0 or a
    * fresh lineage). The prior PSI derives from the persisted version the
    * batch merges from, NOT from driver memory, so a REPLAYED batch sees
    * the identical (prev, current) pair and reaches the identical
    * decision — the property [[DriftReanalysis]]'s edge-triggering needs
    * to stay exactly-once under replay. */
  def monitorWithPrev(docs: DataFrame, ref: Map[Int, Long], checkpoint: String)(
      onBatch: (Long, Option[Double], Double) => Unit): StreamingQuery =
    VersionedState.textLoop[Map[Int, Long]](docs, checkpoint)(
      _.map { l => val Array(b, c) = l.split(" ", 2); b.toInt -> c.toLong }.toMap,
      _.toSeq.sorted.map { case (b, c) => s"$b $c" }) { (baseOpt, batch) =>
      val base = baseOpt.getOrElse(Map.empty[Int, Long])
      // histogram's null-guard: one null n_chars row would otherwise NPE
      // the collect and kill the monitor query PERMANENTLY
      val delta = histogram(batch)
      (base.keySet ++ delta.keySet).iterator
        .map(b => b -> (base.getOrElse(b, 0L) + delta.getOrElse(b, 0L)))
        .toMap
    } { (id, base, merged) => onBatch(id, base.map(psi(ref, _)), psi(ref, merged)) }
}
