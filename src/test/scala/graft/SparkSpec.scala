package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap at sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName(getClass.getSimpleName)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** A writable copy of the `sfDir` fixture tables in a fresh temp dir. */
  def copyFixtures(prefix: String): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix)
    new java.io.File(sfDir).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, out.resolve(f.getName))
    }
    out.toString
  }

  /** Rewrite the fixture table `name` under `dir` in place with `f` of its
    * rows: the new files are staged beside it, then swapped in. */
  def rewriteTable(dir: String, name: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(graft.catalog.TableRegistry.path(dir, name))
    val staged = s"$p.staged"
    f(spark.read.parquet(p.toString)).coalesce(1).write.parquet(staged)
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    Files.move(Paths.get(staged), p)
  }

  /** A copy of everything under `dir` in a fresh temp dir. */
  def copyDir(dir: String, prefix: String): String = {
    import java.nio.file.Files
    val src = java.nio.file.Paths.get(dir)
    val out = Files.createTempDirectory(prefix)
    Files.walk(src).forEach { f =>
      val to = out.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    }
    out.toString
  }

  /** Spark jobs launched by `body`, counted on a drained listener bus. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The operators of every query `body` runs (collects and eager
    * checkpoints alike), one sequence per query, read from the executed
    * plans on a drained listener bus: adaptive query stages and subqueries
    * are walked, a reused exchange is not walked twice. */
  def operatorsOf(body: => Unit): Seq[Seq[org.apache.spark.sql.execution.SparkPlan]] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    object walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      plans.toArray(Array.empty[SparkPlan]).toSeq
        .map(p => walk.collectWithSubqueries(p) { case op => op })
    } finally spark.listenerManager.unregister(listener)
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites in the same JVM (getOrCreate
    // returns the shared one); SBT forks one JVM for all tests.
    super.afterAll()
  }
}
