package graft

import graft.catalog.TableRegistry
import graft.streaming.{StreamingTestOps, StreamingUsage}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** X5: streaming windowed usage counts must equal the batch twin on the same
  * slice (streaming has no reference ground truth — SURVEY §2.11). */
class StreamingSpec extends SparkSpec {

  test("streaming hourly window counts == batch twin on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = TableRegistry.table(spark, sfDir, "events")
      .select(col("ts"), col("event_type"))
      .as[(Long, String)].collect().toSeq

    val stream = MemoryStream[(Long, String)]
    stream.addData(events)
    val streamed = StreamingUsage.windowedCounts(
      stream.toDF().toDF("ts", "event_type"), withWatermarkCol = true)

    val qname = s"stream_usage_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table(qname)
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val want = StreamingUsage.batchTwin(TableRegistry.table(spark, sfDir, "events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming sliding-window counts == batch twin on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = TableRegistry.table(spark, sfDir, "events")
      .select(col("ts"), col("event_type"))
      .as[(Long, String)].collect().toSeq

    val stream = MemoryStream[(Long, String)]
    stream.addData(events)
    val streamed = StreamingUsage.slidingCounts(
      stream.toDF().toDF("ts", "event_type"), withWatermarkCol = true)

    val qname = s"stream_sliding_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table(qname)
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val want = StreamingUsage.slidingBatchTwin(
        TableRegistry.table(spark, sfDir, "events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == want)
      // overlap sanity: each event lands in window/slide = 4 windows
      assert(want.map(_._3).sum == 4L * events.size)
    } finally query.stop()
  }

  test("streaming windowed HLL distinct == batch twin across a 3-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = TableRegistry.table(spark, sfDir, "events")
      .select(col("ts"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)].collect().toSeq

    // THREE micro-batches: the whole point is that per-batch partial
    // sketches MERGE in the state store — register-max is order-independent,
    // so the final estimates must be identical to one batch pass
    val stream = MemoryStream[(Long, Long, String)]
    val thirds = events.grouped(math.max(1, events.size / 3 + 1)).toSeq
    val streamed = StreamingUsage.windowedDistinctUsers(
      stream.toDF().toDF("ts", "user_id", "event_type"), withWatermarkCol = true)
    val qname = s"stream_hll_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("complete").start()
    try {
      thirds.foreach { b => stream.addData(b); query.processAllAvailable() }
      val got = spark.table(qname)
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      val want = StreamingTestOps.windowedDistinctUsersBatchTwin(
        TableRegistry.table(spark, sfDir, "events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, "micro-batched sketch merge must equal the one-pass batch sketch")
      assert(want.nonEmpty)
      // the estimates are within the sketch band of the exact distincts
      val exact = TableRegistry.table(spark, sfDir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(countDistinct("user_id").as("exact"))
        .select(unix_timestamp(col("window.start")).as("ws"), col("event_type"), col("exact"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      want.foreach { case (ws, et, approx, _) =>
        val ex = exact((ws, et))
        assert(math.abs(approx - ex).toDouble / ex <= 0.05,
          s"window $ws/$et: sketch $approx vs exact $ex drifted past 5%")
      }
    } finally query.stop()
  }

  test("DENSE-mode streaming HLL: counts exact, estimate banded but not bit-identical to the twin") {
    // The contract the sf1 stress gate (graft.StreamStress) discovered, pinned
    // at suite scale: past the sparse→HLL promotion (~k/4 = 4096 distincts at
    // lgK=14) datasketches re-seeds its HIP estimator at the promotion point,
    // so the ESTIMATE becomes merge-tree dependent — a micro-batched run and
    // the one-pass batch twin agree on registers and COUNTS exactly, but
    // their estimates may differ inside the sketch's error band (sf1: ≤0.6%
    // over 150 dense groups). The bit-equality test above holds only because
    // fixture-scale sketches stay in coupon (exact) mode. 6k distinct users
    // in one window force dense mode here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.time.Instant.parse("2024-01-01T00:10:00Z")
    val rows = (0 until 12000).map { i =>
      // 6000 distinct users, each seen twice, all inside one 1-hour window
      (base.plusSeconds(i % 3000).toEpochMilli * 1000000L, (i % 6000).toLong, "click")
    }
    val batchDf = rows.toDF("ts", "user_id", "event_type")
    val stream = MemoryStream[(Long, Long, String)]
    val streamed = StreamingUsage.windowedDistinctUsers(
      stream.toDF().toDF("ts", "user_id", "event_type"), withWatermarkCol = true)
    val qname = s"stream_hll_dense_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("complete").start()
    try {
      rows.grouped(4000).foreach { b => stream.addData(b); query.processAllAvailable() }
      val got = spark.table(qname)
        .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
      val want = StreamingTestOps.windowedDistinctUsersBatchTwin(batchDf)
        .collect().map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (k, (wApprox, wCnt)) =>
        val (gApprox, gCnt) = got(k)
        // counts: EXACT under any micro-batching (register-independent sums)
        assert(gCnt == wCnt, s"group $k count: stream $gCnt != batch $wCnt")
        // estimates: both within the sketch band of the 6000 truth and of
        // each other; bit-equality is NOT asserted — it does not hold here
        assert(math.abs(gApprox - 6000).toDouble / 6000 <= 0.05, s"stream est $gApprox")
        assert(math.abs(wApprox - 6000).toDouble / 6000 <= 0.05, s"batch est $wApprox")
        assert(math.abs(gApprox - wApprox).toDouble / wApprox <= 0.01,
          s"group $k: stream $gApprox vs batch $wApprox past the 1% dense band")
      }
    } finally query.stop()
  }

  test("streaming watermarked dropDuplicates emits exactly the batch-distinct key set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ev = TableRegistry.table(spark, sfDir, "events")
    val events = ev.select(col("ts"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)].collect().toSeq

    val stream = MemoryStream[(Long, Long, String)]
    // split across two micro-batches: dedup state must carry over
    val (first, second) = events.splitAt(events.size / 2)
    val streamed = StreamingUsage.streamingDedupKeys(
      stream.toDF().toDF("ts", "user_id", "event_type"), Seq("user_id", "event_type"))
    val qname = s"stream_dedup_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("append").start()
    try {
      stream.addData(first)
      query.processAllAvailable()
      stream.addData(second)
      query.processAllAvailable()
      val got = spark.table(qname)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val want = ev.select("user_id", "event_type").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.size == got.distinct.size, "duplicate key emitted")
      assert(got.toSet == want.toSet)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization == batch twin once watermark flushes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = TableRegistry.table(spark, sfDir, "events")
      .select(col("user_id"), col("ts")).as[(Long, Long)].collect().toSeq
    val maxTs = events.map(_._2).max
    // sentinel user far in the future: advances the watermark past every real
    // session end + gap so all real sessions flush via timeout
    val sentinel = (-1L, maxTs + 10L * 3600 * 1000000000L)

    val stream = MemoryStream[(Long, Long)]
    val streamed = StreamingTestOps.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapMinutes = 30)
    val qname = s"sessions_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(Seq(sentinel))
      query.processAllAvailable()
      // one more batch so timeouts triggered by the new watermark fire
      stream.addData(Seq.empty[(Long, Long)])
      query.processAllAvailable()
      val got = spark.table(qname).where(col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = StreamingUsage.sessionizeBatch(
        TableRegistry.table(spark, sfDir, "events"), gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${want.diff(got).take(3)} extra=${got.diff(want).take(3)}")
    } finally query.stop()
  }

  test("sessionization extends an open session BACKWARDS for an in-watermark late event") {
    // state holds [t0, t0+5min]; the next micro-batch delivers t0-2min —
    // late but inside both the 10-min watermark and the 30-min gap. The
    // batch twin computes session_start = min(t) = t0-2min; the stream
    // must match (the old merge kept a.start, silently diverging).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L * 1000000000L // epoch ns
    val min5 = 5L * 60 * 1000000000L
    val min2 = 2L * 60 * 1000000000L
    val stream = MemoryStream[(Long, Long)]
    val streamed = StreamingTestOps.sessionizeStream(
      stream.toDF().toDF("user_id", "ts"), gapMinutes = 30)
    val qname = s"sessions_late_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("append").start()
    try {
      stream.addData(Seq((1L, t0), (1L, t0 + min5)))
      query.processAllAvailable()
      stream.addData(Seq((1L, t0 - min2))) // late arrival
      query.processAllAvailable()
      // sentinel advances the watermark far enough to flush via timeout
      stream.addData(Seq((-1L, t0 + 100L * 3600 * 1000000000L)))
      query.processAllAvailable()
      stream.addData(Seq.empty[(Long, Long)])
      query.processAllAvailable()
      val got = spark.table(qname).where(col("user_id") === 1L)
        .select("session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(((t0 - min2) / 1000000000L, (t0 + min5) / 1000000000L, 3L)),
        got.toString)
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark variant: horizon-bounded state re-emits a recurring key") {
    // exact mode keeps one state entry per key EVER (equal to batch
    // distinct, state ∝ key cardinality); the withinWatermark variant
    // evicts state as the watermark advances — a key recurring later than
    // the 10-min delay is re-emitted. Both contracts pinned here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L * 1000000000L
    def min(n: Long) = n * 60 * 1000000000L
    def run(withinWatermark: Boolean): Seq[Long] = {
      val stream = MemoryStream[(Long, Long)]
      val streamed = StreamingUsage.streamingDedupKeys(
        stream.toDF().toDF("ts", "user_id"), Seq("user_id"),
        withinWatermark = withinWatermark)
      val qname = s"dedup_ww_${withinWatermark}_${System.nanoTime()}"
      val query = streamed.writeStream
        .format("memory").queryName(qname).outputMode("append").start()
      try {
        stream.addData(Seq((t0, 1L), (t0 + min(1), 1L), (t0, 2L)))
        query.processAllAvailable()
        // advance the watermark past t0 + 10min so key 1's state expires
        // in the withinWatermark variant
        stream.addData(Seq((t0 + min(21), 3L)))
        query.processAllAvailable()
        stream.addData(Seq((t0 + min(30), 1L))) // key 1 recurs beyond horizon
        query.processAllAvailable()
        spark.table(qname).collect().map(_.getLong(0)).toSeq
      } finally query.stop()
    }
    val exact = run(withinWatermark = false)
    assert(exact.count(_ == 1L) == 1, s"exact mode re-emitted: $exact")
    assert(exact.toSet == Set(1L, 2L, 3L))
    val horizon = run(withinWatermark = true)
    assert(horizon.count(_ == 1L) == 2,
      s"horizon mode should re-emit the beyond-horizon recurrence: $horizon")
    assert(horizon.toSet == Set(1L, 2L, 3L))
  }

  test("watermarked stream-stream interval join == batch pairs on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ev = TableRegistry.table(spark, sfDir, "events")
    def side(tpe: String): Seq[(Long, Long)] = ev
      .where(col("event_type") === tpe)
      .select(col("user_id"), col("ts")).as[(Long, Long)].collect().toSeq
    val clicks = side("click")
    val purchases = side("purchase")

    val cStream = MemoryStream[(Long, Long)]
    val pStream = MemoryStream[(Long, Long)]
    val joined = StreamingUsage.pairJoinStream(
      cStream.toDF().toDF("user_id", "ts"),
      pStream.toDF().toDF("user_id", "ts"), windowMinutes = 30)
    val qname = s"pair_join_${System.nanoTime()}"
    val query = joined.writeStream
      .format("memory").queryName(qname).outputMode("append").start()
    try {
      // two micro-batches per side: join state must match across batches
      val (c1, c2) = clicks.splitAt(clicks.size / 2)
      val (p1, p2) = purchases.splitAt(purchases.size / 2)
      cStream.addData(c1); pStream.addData(p1)
      query.processAllAvailable()
      cStream.addData(c2); pStream.addData(p2)
      query.processAllAvailable()
      val got = spark.table(qname)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // batch ground truth: same ±30 min interval join, ms precision
      val win = 30L * 60 * 1000
      val want = for {
        (cu, cts) <- clicks
        (pu, pts) <- purchases
        if cu == pu && math.abs(pts / 1000000 - cts / 1000000) <= win
      } yield (cu, cts / 1000000, pts / 1000000)
      assert(want.nonEmpty)
      assert(got.sorted == want.sorted,
        s"got=${got.size} want=${want.size}")
    } finally query.stop()
  }

  test("stream-static broadcast enrichment == batch join on the same slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ev = TableRegistry.table(spark, sfDir, "events")
    val events = ev.select(col("user_id"), col("value")).as[(Long, Double)].collect().toSeq
    // static dimension: user tier derived once, on the batch side
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))

    val stream = MemoryStream[(Long, Double)]
    val enriched = StreamingTestOps.enrichStream(
      stream.toDF().toDF("user_id", "value"), dim, "user_id")
    val qname = s"enrich_${System.nanoTime()}"
    val query = enriched.writeStream
      .format("memory").queryName(qname).outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      val got = spark.table(qname).groupBy("tier").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val want = ev.select("user_id", "value").join(broadcast(dim), "user_id")
        .groupBy("tier").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got == want)
      assert(want.values.sum == events.size.toLong)
    } finally query.stop()
  }

  test("transformWithState tracks per-user distinct types across micro-batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = conf.getOption(key)
    try {
      conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = TableRegistry.table(spark, sfDir, "events")
      val events = ev.select(col("user_id"), col("event_type"))
        .as[(Long, String)].collect().toSeq
      val (b1, b2) = events.splitAt(events.size / 2)

      val stream = MemoryStream[(Long, String)]
      val streamed = StreamingTestOps.runningDistinctTypes(
        stream.toDF().toDF("user_id", "event_type"))
      val qname = s"tws_${System.nanoTime()}"
      val query = streamed.writeStream
        .format("memory").queryName(qname).outputMode("update").start()
      try {
        stream.addData(b1)
        query.processAllAvailable()
        stream.addData(b2)
        query.processAllAvailable()
        // last emitted row per user = final state
        val got = spark.table(qname)
          .groupBy("user_id")
          .agg(max("distinct_types").as("d"), max("total_events").as("t"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val want = events.groupBy(_._1).map { case (u, xs) =>
          u -> ((xs.map(_._2).distinct.size.toLong, xs.size.toLong))
        }
        assert(got == want)
        // MapState genuinely carried across batches: some user in both halves
        assert(b1.map(_._1).toSet.intersect(b2.map(_._1).toSet).nonEmpty)
      } finally query.stop()
    } finally saved match {
      case Some(v) => conf.set(key, v); case None => conf.unset(key)
    }
  }

  test("mapGroupsWithState carries per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val all = TableRegistry.table(spark, sfDir, "events")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)].collect().toSeq
    val (batch1, batch2) = all.splitAt(all.length / 2)

    val stream = MemoryStream[(Long, Double)]
    val streamed = StreamingTestOps.runningUserTotals(
      stream.toDF().toDF("user_id", "value"))
    val qname = s"user_state_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("update").start()
    try {
      stream.addData(batch1)
      query.processAllAvailable()
      stream.addData(batch2)
      query.processAllAvailable()
      // latest state per user (update mode appends one row per batch-update)
      val got = spark.table(qname)
        .groupBy("user_id").agg(max("event_count").as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(got == want)
      // state really accumulated across batches: at least one user appears in both
      assert(batch1.map(_._1).toSet.intersect(batch2.map(_._1).toSet).nonEmpty)
    } finally query.stop()
  }

  test("streaming count-min cells == batch sketch, merged across micro-batches") {
    // cells are associative sums — the defining property that lets a
    // sketch be maintained incrementally. Feed the corpus in TWO separate
    // micro-batches and require the final state to equal the one-shot
    // batch sketch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = TableRegistry.table(spark, sfDir, "documents")
      .select("text").as[String].collect().toSeq
    val stream = MemoryStream[String]
    val streamed = graft.ext.Sketches.cmsCells(stream.toDF().toDF("text"))
    val qname = s"stream_cms_${System.nanoTime()}"
    val query = streamed.writeStream
      .format("memory").queryName(qname).outputMode("complete").start()
    try {
      stream.addData(texts.take(texts.size / 2))
      query.processAllAvailable()
      stream.addData(texts.drop(texts.size / 2))
      query.processAllAvailable()
      val got = spark.table(qname).orderBy("i", "bucket")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      val want = graft.ext.Sketches.cmsCells(
          TableRegistry.table(spark, sfDir, "documents"))
        .orderBy("i", "bucket")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      assert(want.nonEmpty)
      assert(got == want)
    } finally query.stop()
  }

  test("streaming advisor re-advises per micro-batch over the accumulated workload") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // advise on one registered table (cheap per-batch profiling)
    TableRegistry.table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
    val all = TableRegistry.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq
    val (batch1, batch2) = all.splitAt(all.length / 2)

    val stream = MemoryStream[(Long, Long, Double)]
    val logStream = TableRegistry.queryLogFrom(
      stream.toDF().toDF("event_id", "ts", "value"))
    val logDir = java.nio.file.Files.createTempDirectory("graft_stream_advisor").toString
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingAdvisor.Snapshot]()
    val query = graft.streaming.StreamingAdvisor.start(
      spark, logStream, Set("supplier"), s"$logDir/log", snaps)
    try {
      stream.addData(batch1)
      query.processAllAvailable()
      stream.addData(batch2)
      query.processAllAvailable()
      val snapshots = {
        import scala.jdk.CollectionConverters._
        snaps.asScala.toSeq.sortBy(_.batchId)
      }
      assert(snapshots.length == 2, snapshots.map(_.batchId).toString)
      // every snapshot advises the discovered table
      snapshots.foreach { s =>
        assert(s.recs.map(_._1) == Seq("supplier"), s.recs.toString)
        assert(s.recs.head._2 != null && s.recs.head._2.nonEmpty)
      }
      // the final snapshot must equal a direct batch advisor run over the
      // full accumulated log — streaming adds cadence, not new semantics
      val direct = graft.pipeline.AnalysisPipeline.runFromCatalog(
        spark, spark.read.parquet(s"$logDir/log"), nameFilter = Set("supplier"))
        .collect().map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec"))).toSeq
      assert(snapshots.last.recs == direct,
        s"stream ${snapshots.last.recs} vs batch $direct")
    } finally query.stop()
  }

  test("streaming advisor is incremental: deleting the archival log between batches changes nothing") {
    // the O(stream²) trap the r4 verdict flagged: if any per-batch job read
    // the ACCUMULATED log back, destroying that log between batches would
    // change (or crash) the next snapshot. The advisor's only carried state
    // is the mergeable per-text aggregate, so the final recommendation must
    // still equal a batch advisor over everything ever streamed.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TableRegistry.table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
    val all = TableRegistry.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq
    val (batch1, batch2) = all.splitAt(all.length / 2)

    val stream = MemoryStream[(Long, Long, Double)]
    val logStream = TableRegistry.queryLogFrom(
      stream.toDF().toDF("event_id", "ts", "value"))
    val root = java.nio.file.Files.createTempDirectory("graft_stream_incr").toString
    val logDir = s"$root/log"
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingAdvisor.Snapshot]()
    val query = graft.streaming.StreamingAdvisor.start(
      spark, logStream, Set("supplier"), logDir, snaps)
    try {
      stream.addData(batch1)
      query.processAllAvailable()
      // destroy the archival sink: anything that re-reads it is now caught
      def nuke(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(nuke)
        f.delete(); ()
      }
      nuke(new java.io.File(logDir))
      stream.addData(batch2)
      query.processAllAvailable()
      val snapshots = {
        import scala.jdk.CollectionConverters._
        snaps.asScala.toSeq.sortBy(_.batchId)
      }
      assert(snapshots.length == 2, snapshots.map(_.batchId).toString)
      // ground truth over EVERYTHING streamed, reconstructed independently
      // of the (destroyed) archival sink
      val fullLog = TableRegistry.queryLogFrom(
        all.toDF("event_id", "ts", "value"))
      val direct = graft.pipeline.AnalysisPipeline.runFromCatalog(
        spark, fullLog, nameFilter = Set("supplier"))
        .collect().map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec"))).toSeq
      assert(snapshots.last.recs == direct,
        s"stream ${snapshots.last.recs} vs batch $direct")
    } finally query.stop()
  }

  test("streaming advisor survives a mid-batch crash: replay after a lost commit is idempotent") {
    // THE fault the replay and retention rules of
    // graft.streaming.VersionedState exist for: the batch crashes AFTER
    // its state version is written but BEFORE the streaming commit lands.
    // On restart Spark replays the batch; the replay must OVERWRITE the
    // half-committed state version (merge against versions < batchId), not
    // merge into it — else every crash double-counts its batch. Simulated
    // exactly: run batch 0 to completion, stop, delete the checkpoint's
    // commits/0 (the state write already happened; the commit is "lost"),
    // restart → Spark re-runs batch 0 → stream batch 1 → prove by
    // assertion that nothing was counted twice.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TableRegistry.table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
    val all = TableRegistry.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq
    val (batch1, batch2) = all.splitAt(all.length / 2)

    val stream = MemoryStream[(Long, Long, Double)]
    val logStream = TableRegistry.queryLogFrom(
      stream.toDF().toDF("event_id", "ts", "value"))
    val root = java.nio.file.Files.createTempDirectory("graft_stream_crash").toString
    val logDir = s"$root/log"
    val ckpt = s"$root/ckpt"
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingAdvisor.Snapshot]()

    // --- run batch 0, then "crash" between state write and commit ---
    val q1 = graft.streaming.StreamingAdvisor.start(
      spark, logStream, Set("supplier"), logDir, snaps, checkpointDir = Some(ckpt))
    try {
      stream.addData(batch1)
      q1.processAllAvailable()
    } finally q1.stop()
    // the state version exists (write happened) …
    assert(new java.io.File(s"${root}/log_state/v0").isDirectory)
    // … but the streaming commit is lost in the crash (the checksum
    // sidecar goes too — a stale .crc makes the local FS refuse the
    // replay's rename, which Spark misreports as a concurrent writer)
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.isFile, "expected a commit marker for batch 0")
    assert(commit0.delete())
    val crc0 = new java.io.File(s"$ckpt/commits/.0.crc")
    if (crc0.isFile) assert(crc0.delete())

    // --- restart: Spark replays batch 0, then processes batch 1 ---
    def v0Stamp(): Long = {
      val files = Option(new java.io.File(s"$root/log_state/v0").listFiles()).getOrElse(Array())
      files.map(_.lastModified).maxOption.getOrElse(0L)
    }
    val v0Before = v0Stamp()
    val q2 = graft.streaming.StreamingAdvisor.start(
      spark, logStream, Set("supplier"), logDir, snaps, checkpointDir = Some(ckpt))
    try {
      q2.processAllAvailable() // replay of batch 0 (no new data needed)
      stream.addData(batch2)
      q2.processAllAvailable()
    } finally q2.stop()

    val batchIds = {
      import scala.jdk.CollectionConverters._
      snaps.asScala.toSeq.map(_.batchId).sorted
    }
    // the replay really happened — batch 0's state version was rewritten
    assert(v0Stamp() > v0Before, "replay did not rerun batch 0")
    // replay-idempotent snapshot publication: the replayed batch 0 REPLACES
    // its snapshot (same batchId) rather than appending a duplicate — the
    // consumer-visible queue holds exactly one entry per committed batch
    assert(batchIds == Seq(0L, 1L), batchIds.toString)

    // state-level idempotence: the final merged state must equal the
    // per-text aggregates of everything streamed ONCE — a double-counted
    // replay would double batch 1's cnt/sum columns
    val fullLog = TableRegistry.queryLogFrom(all.toDF("event_id", "ts", "value"))
    def stateRows(df: org.apache.spark.sql.DataFrame) =
      df.select("query", "cnt", "sum_exec", "sum_priority")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    val want = stateRows(graft.pipeline.AnalysisPipeline.textStatsOf(fullLog))
    val got = stateRows(spark.read.parquet(s"${root}/log_state/v1"))
    assert(want.nonEmpty)
    assert(got == want, s"state after crash+replay drifted:\n got=$got\nwant=$want")

    // and the recommendations derived from it equal a direct batch run
    val direct = graft.pipeline.AnalysisPipeline.runFromCatalog(
      spark, fullLog, nameFilter = Set("supplier"))
      .collect().map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec"))).toSeq
    val lastRecs = {
      import scala.jdk.CollectionConverters._
      snaps.asScala.toSeq.maxBy(_.batchId).recs
    }
    assert(lastRecs == direct, s"stream $lastRecs vs batch $direct")
  }

  test("streaming minhash near-dup flags == batch LSH candidate flags across micro-batches") {
    // the near-dup complement of stream_dedup: (band,bucket) state carries
    // the min doc_id per occupied bucket across micro-batches; a doc is
    // flagged iff some bucket already held a smaller id. Same banding rule
    // as the batch side (Dedup.bandedBuckets), so the streamed verdicts
    // OR-ed per doc must equal the batch flags exactly — and the fixture
    // must make both classes non-empty for the assert to mean anything.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val all = docsDf.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (batch1, batch2) = all.splitAt(all.length / 2) // id-ordered arrival

    val stream = MemoryStream[(Long, String)]
    val verdicts = StreamingUsage.nearDupBucketVerdicts(
      stream.toDF().toDF("doc_id", "text"))
    val qname = s"stream_neardup_${System.nanoTime()}"
    val query = verdicts.writeStream
      .format("memory").queryName(qname).outputMode("update").start()
    try {
      stream.addData(batch1)
      query.processAllAvailable()
      stream.addData(batch2)
      query.processAllAvailable()
      val got = spark.table(qname)
        .groupBy("doc_id").agg(max(col("flagged").cast("int")).as("f"))
        .select(col("doc_id"), (col("f") === 1).as("flagged"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      val want = StreamingTestOps.nearDupFlagsBatch(docsDf)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      assert(want.exists(_._2) && want.exists(!_._2), "fixture not discriminating")
      assert(got == want)
    } finally query.stop()
  }

  test("streaming advisor state cap keeps the most-frequent texts (bounded state semantics)") {
    // stateCap=3 against the fixture's 5 canned texts, one batch: with no
    // PRIOR pruning, the capped state must equal a batch advisor over the
    // log RESTRICTED to the top-3 texts by (count desc, text asc) — the
    // same heavy-hitter order the parse cap uses, so capping state
    // composes with capping parse instead of introducing a third
    // semantics. (ACROSS merges the cap is lossy-counting-style: a text
    // pruned earlier restarts its counts if it reappears — documented on
    // StreamingAdvisor.start; the exact-equality claim here is
    // deliberately scoped to the no-prior-pruning case.)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TableRegistry.table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
    val all = TableRegistry.table(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq

    val stream = MemoryStream[(Long, Long, Double)]
    val logStream = TableRegistry.queryLogFrom(
      stream.toDF().toDF("event_id", "ts", "value"))
    val root = java.nio.file.Files.createTempDirectory("graft_stream_cap").toString
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingAdvisor.Snapshot]()
    val query = graft.streaming.StreamingAdvisor.start(
      spark, logStream, Set("supplier"), s"$root/log", snaps, stateCap = 3)
    try {
      stream.addData(all)
      query.processAllAvailable()
      val fullLog = TableRegistry.queryLogFrom(all.toDF("event_id", "ts", "value"))
      val top3 = graft.pipeline.AnalysisPipeline.textStatsOf(fullLog)
        .orderBy(desc("cnt"), asc("query")).limit(3)
        .select("query").collect().map(_.getString(0)).toSeq
      val direct = graft.pipeline.AnalysisPipeline.runFromCatalog(
        spark, fullLog.where(col("query").isin(top3: _*)), nameFilter = Set("supplier"))
        .collect().map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec"))).toSeq
      val snapshots = {
        import scala.jdk.CollectionConverters._
        snaps.asScala.toSeq.sortBy(_.batchId)
      }
      assert(snapshots.nonEmpty)
      assert(snapshots.last.recs == direct,
        s"capped stream ${snapshots.last.recs} vs restricted batch $direct")
    } finally query.stop()
  }

  test("streaming PSI monitor converges to the batch drift_psi total") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // ref/cand slices exactly as the batch key derives them
    val docs = TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val isRef = substring(col("source"), 4, 10).cast("int") < 10
    val ref = graft.streaming.StreamingDrift.histogram(docs.where(isRef))
    val cand = docs.where(!isRef)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect().toSeq

    val stream = MemoryStream[(Long, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val ckpt = java.nio.file.Files.createTempDirectory("drift_ckpt").toString
    val query = graft.streaming.StreamingDrift.monitor(
      stream.toDF().toDF("doc_id", "n_chars"), ref, ckpt) {
      (id, p) => seen.add((id, p)); ()
    }
    try {
      // three uneven micro-batches; PSI after the LAST must equal the
      // batch key's psi_total (the mid-stream values are the monitor's
      // whole point: drift visible before the slice completes)
      val (b1, rest) = cand.splitAt(cand.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      Seq(b1, b2, b3).foreach { b => stream.addData(b); query.processAllAvailable() }
      val got = {
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq.sortBy(_._1)
      }
      assert(got.map(_._1) == Seq(0L, 1L, 2L), got.map(_._1).toString)
      val want = SparkEntry.queries("drift_psi")(spark, sfDir)
        .select("psi_total").head().getDouble(0)
      val streamedPsi = BigDecimal(got.last._2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(streamedPsi == want,
        s"streamed PSI $streamedPsi vs batch psi_total $want")
      // and the monitor moved: mid-stream PSI differs from the final one
      assert(got.head._2 != got.last._2, s"PSI never moved: $got")
    } finally query.stop()
  }

  test("streaming PSI monitor survives null n_chars rows (counted as no length signal)") {
    // r11 self-review: a null n_chars made bucketOf null, the driver-side
    // collect NPE'd inside foreachBatch and the monitor query died
    // PERMANENTLY. Null lengths now drop at the histogram boundary (both
    // the per-batch delta and the batch helper), so a stream carrying
    // nulls keeps running and its PSI equals the non-null subset's.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val ref = graft.streaming.StreamingDrift.histogram(docs)
    val cand: Seq[(Long, Option[Long])] =
      docs.as[(Long, Long)].collect().toSeq.map { case (d, n) => (d, Some(n)) }
    val withNulls = (cand.take(3).map { case (d, _) => (d + 100000L, None: Option[Long]) }
      ++ cand).toSeq

    val stream = MemoryStream[(Long, Option[Long])]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val ckpt = java.nio.file.Files.createTempDirectory("drift_null_ckpt").toString
    val query = graft.streaming.StreamingDrift.monitor(
      stream.toDF().toDF("doc_id", "n_chars"), ref, ckpt) {
      (id, p) => seen.add((id, p)); ()
    }
    try {
      val (b1, b2) = withNulls.splitAt(withNulls.size / 2)
      Seq(b1, b2).foreach { b => stream.addData(b); query.processAllAvailable() }
      assert(query.isActive, "monitor must survive null-length rows")
      val got = {
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq.sortBy(_._1)
      }
      assert(got.map(_._1) == Seq(0L, 1L), got.map(_._1).toString)
      // identical slices modulo the null rows → PSI of cand-vs-itself = 0-ish
      val want = graft.streaming.StreamingDrift.psi(ref,
        graft.streaming.StreamingDrift.histogram(docs))
      assert(got.last._2 == want, s"streamed ${got.last._2} vs non-null batch $want")
    } finally query.stop()
  }

  test("streaming PSI monitor survives crash+replay and a checkpointed restart") {
    // The two lifecycle faults the r10 verdict flagged against the
    // in-process form: (a) a batch replayed after a lost commit must not
    // double-add its counts; (b) a checkpointed restart must resume with
    // the pre-restart histogram, not an empty one. Simulated exactly like
    // the advisor's fault test: run batch 0, stop, delete the checkpoint's
    // commits/0 (state write survived; the commit is "lost"), restart →
    // Spark replays batch 0 → stream batch 1 → final PSI must equal the
    // batch drift_psi total over everything streamed once.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val isRef = substring(col("source"), 4, 10).cast("int") < 10
    val ref = graft.streaming.StreamingDrift.histogram(docs.where(isRef))
    val cand = docs.where(!isRef)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect().toSeq
    val (b1, b2) = cand.splitAt(cand.size / 2)

    val stream = MemoryStream[(Long, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val ckpt = java.nio.file.Files.createTempDirectory("drift_crash").toString
    def start() = graft.streaming.StreamingDrift.monitor(
      stream.toDF().toDF("doc_id", "n_chars"), ref, ckpt) {
      (id, p) => seen.add((id, p)); ()
    }

    // --- batch 0, then "crash" between state write and commit ---
    val q1 = start()
    try { stream.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val v0 = new java.io.File(s"${ckpt}_state/v0")
    assert(v0.isFile, "expected persisted histogram version v0")
    val v0Before = v0.lastModified
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.isFile, "expected a commit marker for batch 0")
    assert(commit0.delete())
    val crc0 = new java.io.File(s"$ckpt/commits/.0.crc")
    if (crc0.isFile) assert(crc0.delete())

    // --- restart: replay batch 0, then process batch 1 ---
    val q2 = start()
    try {
      q2.processAllAvailable() // replay of batch 0 (no new data needed)
      stream.addData(b2)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    // the replay really happened and re-fired onBatch with the SAME pair
    assert(v0.lastModified > v0Before, "replay did not rewrite v0")
    assert(got.map(_._1) == Seq(0L, 0L, 1L), got.map(_._1).toString)
    assert(got(0)._2 == got(1)._2,
      s"replayed batch 0 PSI drifted: ${got(0)._2} vs ${got(1)._2}")
    // restart+replay lost nothing and double-counted nothing: the final
    // PSI equals the batch key's total over the full candidate slice
    val want = SparkEntry.queries("drift_psi")(spark, sfDir)
      .select("psi_total").head().getDouble(0)
    val streamedPsi = BigDecimal(got.last._2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(streamedPsi == want,
      s"streamed PSI after crash+replay $streamedPsi vs batch psi_total $want")
  }

  test("drift-triggered re-analysis: one vetted set per threshold crossing, idempotent under replay") {
    // r11 verdict #4: close the loop between the drift monitor and the
    // advisor — a PSI threshold crossing must produce exactly ONE fresh
    // balance-vetted recommendation set (runVettedFromStats over the
    // advisor-state shape), silent while drift persists above threshold,
    // and exactly-once under a lost-commit replay of the crossing batch.
    import graft.streaming.{DriftReanalysis, StreamingDrift}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val ref = StreamingDrift.histogram(docs)
    val calm = docs.as[(Long, Long)].collect().toSeq
    val spike = (0 until 500).map(i => (900000L + i, 10000L)) // all bucket 12

    // deterministic threshold: strictly between the calm PSI (identical
    // histograms -> exactly 0) and the PSI after the spike batch merges
    val mergedAfterSpike = (ref.keySet + 12).iterator
      .map(b => b -> (ref.getOrElse(b, 0L) + (if (b == 12) 500L else 0L))).toMap
    val crossPsi = StreamingDrift.psi(ref, mergedAfterSpike)
    assert(crossPsi > 0, s"spike must drift, got $crossPsi")
    val threshold = crossPsi / 2

    // the advisor-state snapshot the loop re-analyzes (textStatsOf shape)
    val textStats = graft.pipeline.AnalysisPipeline.textStatsOf(
      TableRegistry.queryLog(spark, sfDir))
    val (directDf, directEv) = graft.pipeline.AnalysisPipeline
      .runVettedFromStats(spark, sfDir, textStats)
    val direct = directDf.collect()
      .map(r => (r.getAs[String]("view"), r.getAs[String]("partition_spec")))
      .toSeq.sorted
    val directDemoted = directEv.where(not(col("accepted"))).count()
    assert(direct.nonEmpty, "vetted direct run must recommend something")

    // the pure edge-trigger table, including the re-fire after subsiding
    // that the streaming harness can't cheaply reach (cumulative PSI needs
    // ~50x dilution to fall back under a crossed threshold)
    assert(DriftReanalysis.crossed(None, 0.3, 0.2), "no prior state, above")
    assert(!DriftReanalysis.crossed(None, 0.1, 0.2), "no prior state, below")
    assert(DriftReanalysis.crossed(Some(0.1), 0.2, 0.2), "below -> at")
    assert(!DriftReanalysis.crossed(Some(0.3), 0.9, 0.2), "above -> above is silent")
    assert(!DriftReanalysis.crossed(Some(0.3), 0.1, 0.2), "falling is silent")
    assert(DriftReanalysis.crossed(Some(0.1), 0.5, 0.2), "re-crossing fires again")

    val stream = MemoryStream[(Long, Long)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[DriftReanalysis.Reanalysis]()
    val ckpt = java.nio.file.Files.createTempDirectory("drift_loop_ckpt").toString
    def startLoop() = DriftReanalysis.start(
      stream.toDF().toDF("doc_id", "n_chars"), ref, ckpt, threshold, out)(
      () => graft.pipeline.AnalysisPipeline.runVettedFromStats(spark, sfDir, textStats))
    var query = startLoop()
    try {
      import scala.jdk.CollectionConverters._
      // batch 0: calm (merged == ref, PSI exactly 0) — below threshold
      stream.addData(calm); query.processAllAvailable()
      assert(out.isEmpty, s"calm batch must not trigger: ${out.asScala.toSeq}")
      // batch 1: the spike crosses — exactly one vetted set, the direct one
      stream.addData(spike); query.processAllAvailable()
      assert(out.size == 1, s"crossing must trigger once: ${out.asScala.toSeq}")
      val hit = out.peek()
      assert(hit.batchId == 1L && hit.psi >= threshold, hit.toString)
      val crossingPsi = hit.psi
      assert(hit.recommendations.sorted == direct,
        s"loop recs ${hit.recommendations.sorted} vs direct $direct")
      assert(hit.demotedCandidates == directDemoted, hit.toString)
      // batch 2: MORE drift, still above threshold — edge-triggered silence
      stream.addData(spike.map { case (id, n) => (id + 1000L, n) })
      query.processAllAvailable()
      assert(out.size == 1,
        s"level-triggered re-fire above threshold: ${out.asScala.toSeq}")
      // lost-commit replay of the crossing batch: the decision derives
      // from persisted drift state, so the replay re-fires and REPLACES
      query.stop()
      for (n <- Seq("1", "2")) {
        assert(new java.io.File(s"$ckpt/commits/$n").delete(), s"commit $n")
        // the local-FS checksum twin must go with it, or the replay's
        // rename-over trips FileAlreadyExists on the stale .crc
        new java.io.File(s"$ckpt/commits/.$n.crc").delete()
      }
      query = startLoop()
      query.processAllAvailable()
      val after = out.asScala.toSeq
      assert(after.size == 1 && after.head.batchId == 1L,
        s"replay must replace, not append: $after")
      assert(after.head.recommendations.sorted == direct, after.head.toString)
      // the replayed decision must derive from the SAME drift state: a
      // 2-deep replay that rebuilt v1 from an empty base (lost batch-0
      // mass) would shift the PSI even when the recommendation set happens
      // to agree — this is what version retention protects
      assert(after.head.psi == crossingPsi,
        s"replayed PSI ${after.head.psi} != original crossing PSI $crossingPsi " +
          "(drift state lost across replay)")
    } finally query.stop()
  }

  test("streaming admission gate snapshot == batch twin across any micro-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAdmission
    // the real corpus plus one planted-PII doc so redaction counts move
    val rows = TableRegistry.table(spark, sfDir, "documents")
      .select(col("source"), col("text"), col("n_chars"))
      .as[(String, String, Long)].collect().toSeq :+
      (("srcpii", "mail bob@x.org or 10.0.0.1 now", 30L))
    val want = StreamingAdmission.perSourceStats(
      rows.toDF("source", "text", "n_chars")).collect()
      .map(r => r.getString(0) -> StreamingAdmission.Counts(r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(want("srcpii").nRedactions == 2L && want("srcpii").nAdmitted == 0L,
      "planted-PII doc must exercise the redaction path")
    def run(splits: Seq[Seq[(String, String, Long)]])
        : Map[String, StreamingAdmission.Counts] = {
      val stream = MemoryStream[(String, String, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("admit_ckpt").toString
      @volatile var last = Map.empty[String, StreamingAdmission.Counts]
      val q = StreamingAdmission.monitor(
        stream.toDF().toDF("source", "text", "n_chars"), ckpt) {
        (_, st) => last = st
      }
      try {
        splits.foreach { b => stream.addData(b); q.processAllAvailable() }
        last
      } finally q.stop()
    }
    // three uneven micro-batches and one single batch must land on the
    // IDENTICAL snapshot — counters are additive, the merge is
    // split-invariant
    val (a, rest) = rows.splitAt(rows.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    assert(run(Seq(a, b, c)) == want, "3-batch split drifted from the batch twin")
    assert(run(Seq(rows)) == want, "single-batch run drifted from the batch twin")
  }

  test("admission gate bounded state: the lex-first cap folds overflow split-invariantly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAdmission
    // four sources, cap 2: s2/s3 fold into __overflow whatever the
    // arrival order — including a source arriving AFTER being displaced
    val doc = (s: String) => (s, "mail bob@x.org now", 18L)
    val rows = Seq(doc("s0"), doc("s1"), doc("s2"), doc("s3"), doc("s2"))
    def run(splits: Seq[Seq[(String, String, Long)]])
        : Map[String, StreamingAdmission.Counts] = {
      val stream = MemoryStream[(String, String, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("admit_cap_ckpt").toString
      @volatile var last = Map.empty[String, StreamingAdmission.Counts]
      val q = StreamingAdmission.monitor(
        stream.toDF().toDF("source", "text", "n_chars"), ckpt, sourceCap = 2) {
        (_, st) => last = st
      }
      try {
        splits.foreach { b => stream.addData(b); q.processAllAvailable() }
        last
      } finally q.stop()
    }
    // reversed arrival (s3 first) vs forward arrival vs one batch
    val fwd = run(rows.map(Seq(_)))
    val rev = run(rows.reverse.map(Seq(_)))
    val one = run(Seq(rows))
    assert(fwd == one, s"per-doc batches drifted: $fwd vs $one")
    assert(rev == one, s"reversed arrival drifted: $rev vs $one")
    assert(one.keySet == Set("s0", "s1", StreamingAdmission.Overflow), one.keySet.toString)
    assert(one(StreamingAdmission.Overflow).nDocs == 3L,
      s"overflow must hold s2's two docs + s3's one: ${one(StreamingAdmission.Overflow)}")
  }

  test("admission gate state round-trips any source name across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAdmission
    // the second batch merges from the first batch's state file, so every
    // name must survive the write and the re-read
    val names = Seq("web crawl", "line\nbreak", " lead", "tab\there", "100%+1", "", "plain")
    val rows = names.map(s => (s, "mail bob@x.org now", 18L))
    val stream = MemoryStream[(String, String, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("admit_name_ckpt").toString
    @volatile var last = Map.empty[String, StreamingAdmission.Counts]
    val q = StreamingAdmission.monitor(
      stream.toDF().toDF("source", "text", "n_chars"), ckpt) {
      (_, st) => last = st
    }
    try {
      Seq(rows, rows).foreach { b => stream.addData(b); q.processAllAvailable() }
      assert(q.isActive, s"admission query died: ${q.exception}")
      assert(last.keySet == names.toSet, last.keySet.toString)
      assert(last.values.forall(_.nDocs == 2L), last.toString)
    } finally q.stop()
  }

  test("streaming index maintenance snapshot == the batch-built indexes across any micro-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingIndex
    val rows = TableRegistry.table(spark, sfDir, "orders")
      .select(col("o_orderdate"), col("o_custkey"), col("o_totalprice"))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
    // batch twins: the DECLARED index keys built from the full frame
    val df = rows.toDF("o_orderdate", "o_custkey", "o_totalprice")
    val bloomWant = graft.ext.Layout.bloomPartitionIndex(df, 16384L, 3, 777L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getInt(5)))).toMap
    val zoneWant = graft.ext.Layout.zonemapPartitionIndex(df, "o_totalprice",
      249000.0, 249250.0).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    def run(splits: Seq[Seq[(java.sql.Timestamp, Long, Double)]])
        : Map[String, StreamingIndex.PartState] = {
      val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
      val ckpt = java.nio.file.Files.createTempDirectory("sidx_ckpt").toString
      @volatile var last = Map.empty[String, StreamingIndex.PartState]
      val q = StreamingIndex.monitor(
        stream.toDF().toDF("o_orderdate", "o_custkey", "o_totalprice"), ckpt) {
        (_, st) => last = st
      }
      try {
        splits.foreach { b => stream.addData(b); q.processAllAvailable() }
        last
      } finally q.stop()
    }
    val (a, rest) = rows.splitAt(rows.size / 3)
    val (b, c) = rest.splitAt(rest.size / 2)
    val snap = run(Seq(a, b, c))
    assert(snap.keySet == bloomWant.keySet, "month partitions drifted")
    snap.foreach { case (m, s) =>
      assert((s.nRows, s.bits.size.toLong) ==
        ((bloomWant(m)._1, bloomWant(m)._2)),
        s"$m: streamed rows/bits ${(s.nRows, s.bits.size)} vs batch ${bloomWant(m)}")
      assert((s.minVal, s.maxVal) == zoneWant(m),
        s"$m: streamed envelope ${(s.minVal, s.maxVal)} vs batch ${zoneWant(m)}")
      // the streamed Bloom answers probes exactly like the batch index
      val maybe = if (StreamingIndex.bitsOfKey(777L, 16384L, 3)
        .subsetOf(s.bits)) 1 else 0
      assert(maybe == bloomWant(m)._3, s"$m: probe verdict drifted")
    }
    // arrival-order invariance: reversed and single-batch runs land on
    // the identical state (all merges commutative: sum/min/max/union)
    assert(run(Seq(c, b, a)) == snap, "reversed arrival drifted")
    assert(run(Seq(rows)) == snap, "single-batch run drifted")
  }

  private def stateRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query", "cnt", "sum_exec", "sum_priority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  /** The `v<id>` versions under a state root, in id order. */
  private def versionsIn(stateRoot: String): Seq[String] =
    Option(new java.io.File(stateRoot).list()).toSeq.flatten
      .filter(_.matches("v\\d+")).sortBy(_.drop(1).toLong)

  /** One loop that keeps versioned state: its state directory under a run
    * root, the versions five batches leave, a dead lineage's `v3` in the
    * loop's own format, and `run(root, n)`, which streams the loop's
    * fixture in n micro-batches under `root` with no checkpoint history and
    * returns the final state beside the batch twin of everything streamed. */
  private case class StateLoop(name: String, stateDir: String,
      retainedAfterFive: Seq[String], deadV3: String => Unit,
      run: (String, Int) => (Any, Any))

  private def stateLoops: Seq[StateLoop] = {
    import graft.pipeline.AnalysisPipeline
    import graft.streaming.{StreamingAdmission, StreamingAdvisor, StreamingDrift, StreamingIndex}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def slices[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
      val parts = (0 until n).map(i => xs.slice(i * xs.size / n, (i + 1) * xs.size / n))
      assert(parts.forall(_.nonEmpty), s"fixture too small for $n batches")
      parts
    }
    def streamAll[T](stream: MemoryStream[T],
        q: org.apache.spark.sql.streaming.StreamingQuery, parts: Seq[Seq[T]]): Unit =
      try parts.foreach { b => stream.addData(b); q.processAllAvailable() }
      finally q.stop()
    def writeLine(path: String, line: String): Unit = {
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, (line + "\n").getBytes("UTF-8"))
      ()
    }
    val textRetained = Seq("v1", "v2", "v3", "v4")
    Seq(
      StateLoop("advisor", "log_state", Seq("v3", "v4"),
        st => AnalysisPipeline.textStatsOf(TableRegistry.queryLog(spark, sfDir))
          .write.parquet(s"$st/v3"),
        (root, n) => {
          TableRegistry.table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
          val all = TableRegistry.table(spark, sfDir, "events")
            .select(col("event_id"), col("ts"), col("value"))
            .as[(Long, Long, Double)].collect().toSeq
          val stream = MemoryStream[(Long, Long, Double)]
          streamAll(stream, StreamingAdvisor.start(spark,
            TableRegistry.queryLogFrom(stream.toDF().toDF("event_id", "ts", "value")),
            Set("supplier"), s"$root/log",
            new java.util.concurrent.ConcurrentLinkedQueue[StreamingAdvisor.Snapshot]()),
            slices(all, n))
          (stateRows(spark.read.parquet(s"$root/log_state/v${n - 1}")),
            stateRows(AnalysisPipeline.textStatsOf(
              TableRegistry.queryLogFrom(all.toDF("event_id", "ts", "value")))))
        }),
      StateLoop("drift", "ckpt_state", textRetained,
        st => writeLine(s"$st/v3", "12 100000"),
        (root, n) => {
          val docs = TableRegistry.table(spark, sfDir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars"))
          val isRef = substring(col("source"), 4, 10).cast("int") < 10
          val ref = StreamingDrift.histogram(docs.where(isRef))
          val all = docs.where(!isRef).select(col("doc_id"), col("n_chars"))
            .as[(Long, Long)].collect().toSeq
          val stream = MemoryStream[(Long, Long)]
          @volatile var last = Double.NaN
          streamAll(stream, StreamingDrift.monitor(
            stream.toDF().toDF("doc_id", "n_chars"), ref, s"$root/ckpt") {
            (_, p) => last = p
          }, slices(all, n))
          (last, StreamingDrift.psi(ref,
            StreamingDrift.histogram(all.toDF("doc_id", "n_chars"))))
        }),
      StateLoop("admission", "ckpt_state", textRetained,
        st => writeLine(s"$st/v3", "zzdead 9 9 9 9 9"),
        (root, n) => {
          val all = TableRegistry.table(spark, sfDir, "documents")
            .select(col("source"), col("text"), col("n_chars"))
            .as[(String, String, Long)].collect().toSeq
          val stream = MemoryStream[(String, String, Long)]
          @volatile var last = Map.empty[String, StreamingAdmission.Counts]
          streamAll(stream, StreamingAdmission.monitor(
            stream.toDF().toDF("source", "text", "n_chars"), s"$root/ckpt") {
            (_, st) => last = st
          }, slices(all, n))
          (last, StreamingAdmission.perSourceStats(
              all.toDF("source", "text", "n_chars")).collect()
            .map(r => r.getString(0) -> StreamingAdmission.Counts(r.getLong(1),
              r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap)
        }),
      StateLoop("index", "ckpt_state", textRetained,
        st => writeLine(s"$st/v3", "1990-01 9 1.0 2.0 1,2,3"),
        (root, n) => {
          val all = TableRegistry.table(spark, sfDir, "orders")
            .select(col("o_orderdate"), col("o_custkey"), col("o_totalprice"))
            .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
          val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
          @volatile var last = Map.empty[String, StreamingIndex.PartState]
          streamAll(stream, StreamingIndex.monitor(
            stream.toDF().toDF("o_orderdate", "o_custkey", "o_totalprice"),
            s"$root/ckpt") {
            (_, st) => last = st
          }, slices(all, n))
          (last, StreamingIndex.batchDelta(
            all.toDF("o_orderdate", "o_custkey", "o_totalprice"), 16384L, 3))
        }))
  }

  test("batch 0 sweeps a dead lineage's versions in every versioned-state loop") {
    // a restart without a checkpoint renumbers from batch 0 while the old
    // run's versions survive; batch 0 must delete them, so they can never
    // become a later batch's merge base
    stateLoops.foreach { l =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_sweep_${l.name}").toString
      val st = s"$root/${l.stateDir}"
      l.deadV3(st)
      assert(versionsIn(st) == Seq("v3"), s"${l.name}: seed")
      val (got, want) = l.run(root, 1)
      assert(versionsIn(st) == Seq("v0"), s"${l.name}: the dead lineage survived batch 0")
      assert(got == want, s"${l.name}: batch 0 state $got vs its batch twin $want")
    }
  }

  test("versioned-state retention: the advisor keeps two versions, the text loops four") {
    stateLoops.foreach { l =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_retain_${l.name}").toString
      val (got, want) = l.run(root, 5)
      assert(versionsIn(s"$root/${l.stateDir}") == l.retainedAfterFive, l.name)
      assert(got == want, s"${l.name}: state after five batches $got vs batch twin $want")
    }
  }
}
