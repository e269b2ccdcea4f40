package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Work counters of a set of Spark jobs. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    inputBytes + o.inputBytes, inputRecords + o.inputRecords,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    outputBytes + o.outputBytes)
}

/** One traced call: its name, the span it ran inside (-1 for none), and its
  * wall-clock interval. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's own SparkListener.
  *
  * It always counts started jobs (the zero-job guard reads that count). With
  * `tracing` on it also records each job's group, stream batch and stages and
  * each executed stage's task metrics, and `span` wraps a call in a named
  * span whose jobs run under their own job group. Spans stay in memory;
  * [[attribute]] charges every job to a span once the listener bus is
  * drained. A job is charged to the span its job group names when the job
  * started inside that span, and otherwise to the innermost span open when
  * it started (jobs submitted from threads that kept an older group, such
  * as pooled futures and the stream thread). */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var tracing = false
  val jobsStarted = new AtomicLong()

  private final case class JobRec(id: Int, timeMs: Long, group: String,
      batch: String, stages: Seq[Int])
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[(Int, Work)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    if (tracing) {
      def prop(k: String): String =
        Option(e.properties).map(_.getProperty(k)).orNull
      jobs.add(JobRec(e.jobId, e.time, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.stageIds))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracing) {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(i.stageId -> (
        if (m == null) Work(stages = 1, tasks = i.numTasks)
        else Work(0, 1, i.numTasks, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)))
    }

  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String)]
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      sc.setJobGroup(s"perfbench-$id", name)
      val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        done += Span(id, name, parent, ms, System.currentTimeMillis(), ns, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((p, pn)) => sc.setJobGroup(s"perfbench-$p", pn)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** (self work per span id, work per stream batch id). */
  def attribute(): (Map[Int, Work], Map[Long, Work]) = {
    org.apache.spark.BenchBus.drain(sc)
    val byId = done.map(s => s.id -> s).toMap
    def inside(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    def spanOf(j: JobRec): Option[Int] = {
      val named = Option(j.group).filter(_.startsWith("perfbench-"))
        .map(_.stripPrefix("perfbench-").toInt)
        .filter(id => byId.get(id).exists(inside(_, j.timeMs)))
      named.orElse(done.filter(inside(_, j.timeMs)).sortBy(-_.startNs).headOption.map(_.id))
    }
    val jobList = jobs.asScala.toSeq.sortBy(_.id)
    val stageWork = stages.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    // a stage shared by several jobs executes once: charge its first job
    val stageJob = jobList.flatMap(j => j.stages.map(_ -> j.id)).groupMapReduce(_._1)(_._2)(math.min)
    val jobWork = jobList.map { j =>
      j.id -> j.stages.filter(stageJob.get(_).contains(j.id))
        .flatMap(stageWork.get).foldLeft(Work(jobs = 1))(_ + _)
    }.toMap
    val perSpan = jobList.flatMap(j => spanOf(j).map(_ -> jobWork(j.id)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val perBatch = jobList.filter(_.batch != null).map(j => j.batch.toLong -> jobWork(j.id))
      .groupMapReduce(_._1)(_._2)(_ + _)
    (perSpan, perBatch)
  }

  /** A span's work including every span nested inside it. */
  def inclusive(self: Map[Int, Work], id: Int): Work = {
    val children = done.filter(_.parent == id).map(_.id)
    children.foldLeft(self.getOrElse(id, Work()))((w, c) => w + inclusive(self, c))
  }

  /** Every span as one JSON line (name, parent, start, end, own jobs). */
  def spansJson(self: Map[Int, Work]): String =
    spans.map { s =>
      val w = self.getOrElse(s.id, Work())
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"s":${s.seconds},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes}}"""
    }.mkString("\n")
}
