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
  private def withEventTime(df: DataFrame, watermark: Boolean): DataFrame = {
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

  /** Batch twin of [[windowedDistinctUsers]]. */
  def windowedDistinctUsersBatchTwin(events: DataFrame,
      windowWidth: String = "1 hour"): DataFrame =
    windowedDistinctUsers(events, withWatermarkCol = false, windowWidth)
      .orderBy("window_start", "event_type")

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

  /** Open-session accumulator for streaming sessionization — start/end are
    * epoch MICROSECONDS (`tus`), not ms: only the GroupState timeout API
    * below speaks ms. */
  final case class SessionAcc(start: Long, end: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState + event-time
    * timeout: in-batch gaps close sessions immediately; the trailing open
    * session closes when the watermark passes its end + gap. Semantics match
    * [[sessionizeBatch]] on the same data once all sessions have closed.
    * Input columns: (user_id long, ts long epoch-nanos). */
  def sessionizeStream(events: DataFrame, gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // gap math in MICROSECONDS on the raw ts, not Timestamp.getTime (which
    // truncates to ms): the batch twin compares at µs resolution, and a
    // boundary event within 1 ms of the gap would split differently
    val gapUs = gapMinutes * 60L * 1000000L
    val withTime = withEventTime(events, watermark = true)
    // event_time stays in the projection (unused in the lambda) — the
    // watermark rides on that column, and EventTimeTimeout needs it
    withTime.select(col("user_id"), expr("ts div 1000").as("tus"), col("event_time"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start / 1000000, s.end / 1000000, s.n))
          } else {
            val times = rows.map(_._2).toArray.sorted // epoch µs
            var acc = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            times.foreach { t =>
              acc match {
                case null => acc = SessionAcc(t, t, 1)
                case a if t - a.end > gapUs =>
                  closed += SessionOut(uid, a.start / 1000000, a.end / 1000000, a.n)
                  acc = SessionAcc(t, t, 1)
                // min(): an in-watermark late event EARLIER than the open
                // session's start must extend it backwards (the batch twin
                // computes min(tus) per session); keeping a.start silently
                // diverged. A late event gap-separated BEFORE the start
                // still merges (splitting retroactively would need the full
                // event buffer in state) — documented approximation.
                case a => acc = SessionAcc(math.min(a.start, t), math.max(a.end, t), a.n + 1)
              }
            }
            state.update(acc)
            // timeout API is ms-based
            state.setTimeoutTimestamp(acc.end / 1000 + gapMinutes * 60L * 1000L + 1)
            closed.iterator
          }
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
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

  /** Stream-static enrichment: a streaming fact joined to a static
    * (batch) dimension. Spark re-broadcasts the static side per micro-batch
    * and never keeps join state for it — the streaming face of the
    * broadcast-dimension join (J1), and the standard way to attach
    * slowly-changing metadata to a 100 TB/day event stream. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Per-user distinct event types via transformWithState (the Spark 4
    * arbitrary-state API, RocksDB-backed): MapState holds one entry per
    * (user, type) — state is keyed storage, not an in-memory object the
    * runtime must deserialize wholesale per key (the scaling edge over
    * mapGroupsWithState for wide per-key state). Emits
    * (user_id, distinct_types, total_events) per updated key per batch. */
  class DistinctTypesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Long](
        "seen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      rows.foreach { case (_, tpe) =>
        val prev = if (seen.containsKey(tpe)) seen.getValue(tpe) else 0L
        seen.updateValue(tpe, prev + 1L)
      }
      val counts = seen.values().toSeq
      Iterator((key, counts.size.toLong, counts.sum))
    }
  }

  /** transformWithState driver for [[DistinctTypesProcessor]]. Input
    * columns: (user_id long, event_type string). */
  def runningDistinctTypes(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new DistinctTypesProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "distinct_types", "total_events")
  }

  /** Per-user running state carried across micro-batches. */
  final case class UserState(count: Long, lastValueSum: Double)

  /** Custom streaming state via mapGroupsWithState: running per-user event
    * count + value sum, state persisted in the state store between
    * micro-batches (the advisor's "evolving workload" counter as true
    * incremental state rather than a recomputed aggregate). Input columns:
    * (user_id long, value double). */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var c = prev.count
          var s = prev.lastValueSum
          rows.foreach { r => c += 1; s += r._2 }
          state.update(UserState(c, s))
          (uid, c, s)
      }
      .toDF("user_id", "event_count", "value_sum")
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

  /** Batch twin of [[nearDupBucketVerdicts]]: (doc_id, flagged) where
    * flagged iff any band bucket of the doc contains a smaller-id doc —
    * the candidate-level LSH flag (verification, where needed, is the
    * batch `dedup_minhash` jaccard join downstream of these candidates). */
  def nearDupFlagsBatch(docs: DataFrame, shingleW: Int = 3, k: Int = 20,
      rows: Int = 4): DataFrame = {
    val banded = graft.ext.Dedup.bandedBuckets(
      graft.ext.Dedup.signatureFrame(docs, shingleW, k), k, rows)
    // per-bucket min via a WINDOW, not a groupBy+self-join: joining banded
    // back to an aggregate of itself would inline the (unmaterialized)
    // shingle+MinHash pass into BOTH branches and compute signatures twice
    // — the exact pitfall minhashNearDups documents (measured 61 s vs 4 s)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    banded.withColumn("min_id", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(max((col("min_id") < col("doc_id")).cast("int")).as("f"))
      .select(col("doc_id"), (col("f") === 1).as("flagged"))
  }
}
