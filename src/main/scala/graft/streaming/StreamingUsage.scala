package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X5: the advisor's "continuous re-analysis" as Structured Streaming —
  * usage counts over tumbling event-time windows with a watermark, plus the
  * batch twin used for verification (streaming semantics have no reference
  * ground truth — SURVEY §2.11).
  */
object StreamingUsage {

  /** THE event-time prologue: epoch-nanos `ts` -> a micros TIMESTAMP
    * `event_time`, optionally watermarked at the engine-wide 10-minute
    * lateness bound. Factored once — five streaming operators used to
    * hand-copy this conversion, and an edit that missed one would silently
    * desynchronize an operator from its batch twin. */
  private[streaming] def withEventTime(df: DataFrame, watermark: Boolean): DataFrame = {
    val t = df.withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    if (watermark) t.withWatermark("event_time", "10 minutes") else t
  }

  /** Shared transformation: events (with an epoch-nanos `ts` long) →
    * 1-hour tumbling window counts per event_type. Works on both batch and
    * streaming inputs; the watermark is applied only when streaming. */
  def windowedCounts(events: DataFrame, withWatermarkCol: Boolean): DataFrame =
    // tumbling = sliding with slide == window; one implementation, not two
    // hand-synchronized copies of the same agg
    counts(events, withWatermarkCol, slide = "1 hour")

  /** Batch twin (oracle-checkable). */
  def batchTwin(events: DataFrame): DataFrame =
    windowedCounts(events, withWatermarkCol = false)
      .orderBy("window_start", "event_type")

  /** Sliding-window counts (1 h window, 15 min slide): each event lands in
    * window/slide = 4 overlapping windows — Spark's window() generates the
    * replicas; state per (window, type) is still bounded by the watermark
    * when streaming. The oracle twin replays the replication as an explicit
    * slide-index cross join. */
  def slidingCounts(events: DataFrame, withWatermarkCol: Boolean): DataFrame =
    counts(events, withWatermarkCol, slide = "15 minutes")

  private def counts(events: DataFrame, withWatermarkCol: Boolean,
      slide: String): DataFrame = {
    val src = withEventTime(events, watermark = withWatermarkCol)
    src.groupBy(window(col("event_time"), "1 hour", slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("cnt"))
  }

  /** Batch twin of [[slidingCounts]] (oracle-checkable). */
  def slidingBatchTwin(events: DataFrame): DataFrame =
    slidingCounts(events, withWatermarkCol = false)
      .orderBy("window_start", "event_type")

  /** Windowed approximate distinct users via MERGEABLE Datasketches HLL —
    * the streaming face of `agg_hll_mergeable` (X51). Each micro-batch's
    * partial sketches merge into the state-store buffer exactly like
    * per-shard sketches merge in the batch key, so the stream keeps
    * O(windows × types) sketch BYTES of state — never a distinct-user set,
    * which is the difference between bounded state and an unbounded
    * keyspace at stream scale. Register-max merging is order-independent,
    * so the sketch STATE is identical however the input is micro-batched;
    * the ESTIMATE is too while every sketch stays in coupon (sparse) mode,
    * where it is an exact count (StreamingSpec proves bit-equality with the
    * batch twin across a 3-batch split at fixture scale). Past the
    * sparse→HLL promotion (~k/4 distincts — 4096 at lgK=14) datasketches'
    * HIP estimator is re-seeded at the promotion point and then accumulates
    * per register-changing update, so the estimate becomes merge-TREE
    * dependent: micro-batched and one-pass runs land within the sketch's
    * error band of each other (and of the truth) but are not bit-identical
    * — the sf1 stress gate (graft.StreamStress) measured ≤0.6% relative
    * divergence over 150 dense-mode groups with COUNTS exactly equal. The
    * one-pass batch twin's own estimate is equally non-canonical (it
    * depends on the scan partitioning); treat dense-mode estimates as the
    * ±rse band the sketch contracts, nothing tighter.
    * Works on both batch and streaming inputs (the windowedCounts twin
    * discipline).
    *
    * `windowWidth` sizes the tumbling window (default the engine-wide
    * 1 hour). Wider windows concentrate more distinct users per sketch —
    * the sf1 streaming stress gate uses "1 day" to push each sketch past
    * the datasketches sparse→HLL promotion (~k/4 coupons at lgK=14) and
    * prove the state stays sketch-BYTES-sized in dense mode. */
  def windowedDistinctUsers(events: DataFrame, withWatermarkCol: Boolean,
      windowWidth: String = "1 hour"): DataFrame = {
    val src = withEventTime(events, watermark = withWatermarkCol)
    src.groupBy(window(col("event_time"), windowWidth), col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("approx_users"),
        count(lit(1)).as("cnt"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("approx_users"), col("cnt"))
  }

  /** Batch sessionization: split each user's events into sessions separated
    * by gaps > gapMinutes (lag → gap-break flag → running sum as session
    * index → group). Input ts is epoch-nanos bigint. Output
    * (user_id, session_start, session_end, n_events) with start/end as epoch
    * seconds. The oracle twin expresses the same three-window chain in
    * DuckDB. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // µs precision: DuckDB reads parquet ns-timestamps µs-truncated, so the
    // shared semantics (and the oracle) are defined over epoch-µs.
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    events
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tus"))
      .withColumn("prev_ts", lag("tus", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("tus") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        expr("min(tus) div 1000000").as("session_start"),
        expr("max(tus) div 1000000").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
  }

  /** Streaming exact dedup: watermarked `dropDuplicates` over the key
    * columns — the streaming face of `dedup_exact`. Emits each key once,
    * projected to the key columns so the result is order/arrival agnostic.
    * Batch twin: [[batchDedupTwin]]. Input needs an epoch-nanos `ts` long.
    *
    * STATE CONTRACT (be honest about it): with `withinWatermark = false`
    * (exact global dedup, equal to the batch twin) Spark keeps one state
    * entry per distinct key EVER SEEN — the watermark does NOT evict
    * dropDuplicates state unless the event-time column is part of the key.
    * That is fine when key cardinality is bounded (content hashes of a
    * governed corpus), and unbounded-state suicide on an open-domain key
    * stream. For the latter set `withinWatermark = true`:
    * `dropDuplicatesWithinWatermark` guarantees dedup only for duplicates
    * arriving within the watermark delay of each other and EVICTS state as
    * the watermark advances — state ∝ keys per horizon, the 100 TB
    * posture, at the cost of re-emitting a key that recurs later than the
    * delay (no longer equal to the batch twin). */
  def streamingDedupKeys(events: DataFrame, keyCols: Seq[String],
      withinWatermark: Boolean = false): DataFrame = {
    val withTime = withEventTime(events, watermark = true)
    val deduped =
      if (withinWatermark) withTime.dropDuplicatesWithinWatermark(keyCols)
      else withTime.dropDuplicates(keyCols)
    deduped.select(keyCols.map(col): _*)
  }

  /** Batch twin of [[streamingDedupKeys]] with first-seen time (the
    * oracle-checkable face): one row per key, min event time in epoch-µs. */
  def batchDedupTwin(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.groupBy(keyCols.map(col): _*)
      .agg(expr("min(ts div 1000)").as("first_us"))
      .orderBy(keyCols.map(col): _*)

  /** Watermarked stream-stream interval join: clicks joined to the same
    * user's purchases within ±`windowMinutes` of event time. Both sides
    * carry watermarks and the join predicate bounds event-time distance, so
    * each side's state store holds only rows inside
    * watermark + window horizon — the condition Spark requires to ever
    * evict stream-stream join state (unbounded otherwise; the 100 TB
    * posture is exactly this: state ∝ rate × horizon, not stream length).
    * Emits raw pairs; the per-user summary (and the DuckDB oracle) lives in
    * the batch twin `event_pair_join` in surface.StreamKeys. Input: two streams each
    * with (user_id long, ts long epoch-nanos). */
  def pairJoinStream(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int): DataFrame = {
    val win = expr(s"interval $windowMinutes minutes")
    val c = clicks
      .withColumn("c_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("c_time", "10 minutes")
      .select(col("user_id"), col("c_time"))
    val p = purchases
      .withColumn("p_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("p_time", "10 minutes")
      .select(col("user_id").as("p_user"), col("p_time"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("p_time") >= col("c_time") - win &&
        col("p_time") <= col("c_time") + win)
      .select(col("user_id"),
        (unix_micros(col("c_time")) / 1000L).cast("long").as("c_ms"),
        (unix_micros(col("p_time")) / 1000L).cast("long").as("p_ms"))
  }

  final case class BucketVerdict(doc_id: Long, band: Int, flagged: Boolean)

  /** Streaming MinHash near-dup flagging — the NEAR-dup complement of
    * [[streamingDedupKeys]]'s exact streaming dedup: each arriving doc is
    * flagged iff any of its LSH band buckets already holds a smaller-id
    * doc (seen in an earlier micro-batch, via the state store, or earlier
    * in this one). Banding reuses THE batch rule
    * ([[graft.ext.Dedup.bandedBuckets]] over
    * [[graft.ext.Dedup.signatureFrame]]), so stream == batch twin by
    * construction, proven in StreamingSpec.
    *
    * Shape: flatMapGroupsWithState keyed by (band, bucket) with O(1) state
    * per key — the min doc_id ever seen in that bucket. State size is the
    * number of DISTINCT occupied buckets (sketch-sized, not corpus-sized);
    * per-row work is one comparison. Docs are assumed to arrive in id
    * order (the online-dedup contract: a doc is judged against what has
    * already arrived; an out-of-order smaller id flags only later docs).
    * Emits one verdict per (doc, band); the per-doc flag is the OR over
    * its bands — left to the consumer so the operator itself stays a
    * single stateful stage. */
  def nearDupBucketVerdicts(docs: DataFrame, shingleW: Int = 3, k: Int = 20,
      rows: Int = 4): org.apache.spark.sql.Dataset[BucketVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    graft.ext.Dedup.bandedBuckets(
        graft.ext.Dedup.signatureFrame(docs, shingleW, k), k, rows)
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[Long, BucketVerdict](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((band, _), rowsIt, state) =>
          val ids = rowsIt.map(_._1).toArray.sorted
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = ids.map { id =>
            val f = minSeen < id
            if (id < minSeen) minSeen = id
            BucketVerdict(id, band, f)
          }
          state.update(minSeen)
          out.iterator
      }
  }
}
