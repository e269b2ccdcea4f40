package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: its arguments, session, tracer, the tally of
  * attempted and failed operations, and the metrics it reports. */
final class Run(val spark: SparkSession, val tracer: Tracer, args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val work: String = args("work")
  val fixture: String = args("fixture")
  def arg(name: String): String = args(name)

  var attempted = 0L
  var failed = 0L
  private val errors = mutable.ArrayBuffer[String]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val notes = mutable.LinkedHashMap[String, String]()

  /** Count one operation; a failed or wrong one is printed and counted. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += what
      System.err.println(s"[perfbench] FAIL: $what")
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, json: String): Unit = notes(name) = json

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run `body`, returning its result, its wall seconds and the Spark jobs
    * it started. */
  def measured[A](body: => A): (A, Double, Long) = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val j0 = tracer.jobsStarted.get()
    val t0 = System.nanoTime()
    val a = body
    val s = (System.nanoTime() - t0) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    (a, s, tracer.jobsStarted.get() - j0)
  }

  /** Heap still in use after a full collection: what the program retains
    * (caches, memos, broadcast blocks) rather than when the collector ran.
    * The second collection runs after Spark's ContextCleaner has released
    * what the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Run.q(k)}: {\"value\": ${num(v)}, \"unit\": ${Run.q(u)}}" }
    val ns = notes.map { case (k, v) => s"${Run.q(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""errors": ${errors.map(Run.q).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${ms.mkString("{", ", ", "}")}, "notes": ${ns.mkString("{", ", ", "}")}}"""
  }
}

object Run {
  /** JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Byte-identical copy of a flat fixture directory. */
  def copyDir(src: String, dst: String): String = {
    val d = new File(dst)
    d.mkdirs()
    new File(src).listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, new File(d, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    dst
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }
}
