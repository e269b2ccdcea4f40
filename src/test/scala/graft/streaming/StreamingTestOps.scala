package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming operators and batch twins that only the specs and the
  * streaming stress harness run: the stream-side faces the surface keys
  * do not declare, kept beside the tests that prove them against their
  * twins. */
object StreamingTestOps {

  /** Batch twin of [[StreamingUsage.windowedDistinctUsers]]. */
  def windowedDistinctUsersBatchTwin(events: DataFrame,
      windowWidth: String = "1 hour"): DataFrame =
    StreamingUsage.windowedDistinctUsers(events, withWatermarkCol = false, windowWidth)
      .orderBy("window_start", "event_type")

  /** Open-session accumulator for streaming sessionization — start/end are
    * epoch MICROSECONDS (`tus`), not ms: only the GroupState timeout API
    * below speaks ms. */
  final case class SessionAcc(start: Long, end: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState + event-time
    * timeout: in-batch gaps close sessions immediately; the trailing open
    * session closes when the watermark passes its end + gap. Semantics
    * match [[StreamingUsage.sessionizeBatch]] on the same data once all
    * sessions have closed.
    * Input columns: (user_id long, ts long epoch-nanos). */
  def sessionizeStream(events: DataFrame, gapMinutes: Int): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // gap math in MICROSECONDS on the raw ts, not Timestamp.getTime (which
    // truncates to ms): the batch twin compares at µs resolution, and a
    // boundary event within 1 ms of the gap would split differently
    val gapUs = gapMinutes * 60L * 1000000L
    val withTime = StreamingUsage.withEventTime(events, watermark = true)
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

  /** transformWithState runner for [[DistinctTypesProcessor]]. Input
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

  /** Batch twin of [[StreamingUsage.nearDupBucketVerdicts]]: (doc_id,
    * flagged) where flagged iff any band bucket of the doc contains a
    * smaller-id doc —
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
