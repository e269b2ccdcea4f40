package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.catalog.TableRegistry
import graft.pipeline.AnalysisPipeline
import graft.streaming.StreamingAdvisor
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced re-advising segment: the generated wide query log, split in
  * equal parquet files, streams through `StreamingAdvisor.start` one file
  * per micro-batch, over the fixture's profiled tables registered as temp
  * views. Each micro-batch appends to the archive, merges its per-text
  * aggregates into the versioned state, writes it and re-advises.
  *
  * Afterwards, from outside the stream, the last batch's re-advise is
  * recomposed from the layers and timed (merge into the previous state
  * version, then [[Layers.advise]]: the stages `runFromCatalogStats` runs,
  * in its order), and the last snapshot is checked against `runFromCatalog`
  * over the whole log (stream == batch). */
object Readvise {

  final case class Progress(batch: Long, rows: Long, triggerS: Double, addBatchS: Double,
      stateBytes: Long, archiveBytes: Long)
  final case class Outcome(progress: Seq[Progress], advice: Option[Layers.Advice])

  def apply(r: Run): Outcome = {
    val spark = r.spark
    val t = r.tracer
    val tables = Run.copyDir(r.fixture, s"${r.work}/stream_tables")
    val views = TableRegistry.profiledTables.toSet
    views.foreach(v => TableRegistry.table(spark, tables, v).createOrReplaceTempView(v))
    val logSrc = r.arg("wide-log")
    val files = new File(logSrc).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getPath).sorted.toSeq
    val logDir = s"${r.work}/stream/log"
    val stateRoot = logDir + "_state"
    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.add(Progress(p.batchId, p.numInputRows,
            p.durationMs.get("triggerExecution") / 1e3, p.durationMs.get("addBatch") / 1e3,
            Run.dirBytes(s"$stateRoot/v${p.batchId}"), Run.dirBytes(logDir)))
      }
    }
    spark.streams.addListener(listener)
    val snapshots = new ConcurrentLinkedQueue[StreamingAdvisor.Snapshot]()
    t.tracing = true
    try {
      t.span("streaming.run") {
        val stream = spark.readStream.schema(spark.read.parquet(files.head).schema)
          .option("maxFilesPerTrigger", "1").parquet(logSrc)
        val q = StreamingAdvisor.start(spark, stream, views, logDir, snapshots,
          checkpointDir = Some(s"${r.work}/stream/checkpoint"))
        try q.processAllAvailable() finally q.stop()
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    val batches = progress.asScala.toSeq.sortBy(_.batch)
    batches.foreach(_ => r.op(ok = true, "")) // each micro-batch is one operation
    r.op(batches.size == files.size, s"stream ran ${batches.size} batches over ${files.size} files")
    val last = snapshots.asScala.toSeq.sortBy(_.batchId).lastOption
    val lastId = last.map(_.batchId).getOrElse(0L)
    val streamed = last.map(_.recs.sortBy(_._1)).getOrElse(Seq.empty)

    // the last batch again, layer by layer: merge its per-text aggregates
    // into the previous state version, then advise over the merged state
    val batchStats = AnalysisPipeline.textStatsOf(spark.read.parquet(files(lastId.toInt)))
    val merged =
      if (lastId == 0) batchStats
      else spark.read.parquet(s"$stateRoot/v${lastId - 1}").unionByName(batchStats)
        .groupBy("query").agg(sum("cnt").as("cnt"), sum("sum_exec").as("sum_exec"),
          sum("sum_priority").as("sum_priority"))
    val advice = try {
      val a = t.span("readvise.decomposed") {
        val vs = t.span("catalog.discover")(TableRegistry.fromCatalog(spark, nameFilter = views))
        Layers.advise(t, spark, vs, spark.table, merged, vet = false)
      }
      r.op(a.recs == streamed, s"recomposed re-advice ${a.recs} differs from the last snapshot $streamed")
      Some(a)
    } catch { case scala.util.control.NonFatal(e) =>
      r.op(ok = false, s"recomposed re-advice failed: $e"); None
    }
    t.tracing = false
    val batch = Layers.recsOf(AnalysisPipeline.runFromCatalog(spark,
      spark.read.parquet(files: _*), nameFilter = views).collect())
    r.op(streamed == batch, s"last snapshot $streamed differs from runFromCatalog over the whole log $batch")
    Outcome(batches, advice)
  }

  def metrics(r: Run, m: Metrics, perBatch: Map[Long, Work], o: Outcome): Unit = {
    // batch 0 also pays the stream path's first compilation: report the rest
    val warm = if (o.progress.size > 1) o.progress.tail else o.progress
    def med(f: Progress => Double) = Run.median(warm.map(f))
    r.metric("streaming.trigger_s", med(_.triggerS), "s")
    r.metric("streaming.add_batch_s", med(_.addBatchS), "s")
    r.metric("streaming.batch_rows", med(_.rows.toDouble), "count")
    r.metric("streaming.state_bytes_written", med(_.stateBytes.toDouble), "bytes")
    val archive = o.progress.map(_.archiveBytes)
    r.metric("streaming.archive_bytes_written",
      Run.median(archive.zip(0L +: archive).map { case (a, b) => (a - b).toDouble }), "bytes")
    r.metric("streaming.jobs_per_batch",
      Run.median(warm.map(p => perBatch.getOrElse(p.batch, Work()).jobs.toDouble)), "count")
    val root = r.tracer.spans.find(_.name == "readvise.decomposed")
    def s(name: String) = root.map(m.seconds(_, name)).getOrElse(0.0)
    val total = root.map(_.seconds).getOrElse(0.0)
    val workload = s("usage.textstats") + s("usage.weighted_frequency") + s("introspect.parse") + s("score")
    r.metric("streaming.profile_s", s("profile"), "s")
    r.metric("streaming.usage_s", s("usage.textstats") + s("usage.weighted_frequency"), "s")
    r.metric("streaming.introspect_s", s("introspect.parse"), "s")
    r.metric("streaming.score_s", s("score"), "s")
    r.metric("streaming.texts", o.advice.map(_.texts).getOrElse(0).toDouble, "count")
    r.metric("streaming.readvise_s", total, "s")
    r.metric("streaming.workload_share", workload / total, "ratio")
  }
}
