package graft

import graft.catalog.TableRegistry
import graft.ext.SimSearch
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** The work the operators workload's keys do, counted: Spark jobs per key
  * (eager while the frame is built, and in its action) and the classes a
  * repeated round compiles. */
class OperatorWorkSpec extends SparkSpec {

  /** perfbench's `operators` keys, in its order. */
  private val keys = Seq("partition_balance_report", "bm25_topk", "q21_waiting")

  /** The fixture under paths of its own: a suite that caches a fixture
    * table would otherwise hand these keys its in-memory copy. */
  private lazy val dir = copyFixtures("operator_work")

  /** One round as perfbench runs it: memos cleared, then each key built and
    * collected. Returns each key's (eager, action) jobs and the classes
    * the round compiled. */
  private def round(): (Map[String, (Int, Int)], Long) = {
    SimSearch.clear(spark)
    TableRegistry.clear(spark)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val jobs = keys.map { k =>
      var df: DataFrame = null
      val eager = jobsOf { df = SparkEntry.queries(k)(spark, dir) }
      k -> ((eager, jobsOf(df.collect(): Unit)))
    }.toMap
    (jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("operator keys run a fixed number of jobs, and a second round compiles at most 30 classes") {
    // the same counts in 5 fresh sessions, both rounds each
    val expected = Map("partition_balance_report" -> ((7, 2)), "bm25_topk" -> ((1, 4)),
      "q21_waiting" -> ((2, 6)))
    val (first, _) = round()
    val (second, compiled) = round()
    assert(first == expected, s"first round (eager, action) jobs: $first")
    assert(second == expected, s"second round (eager, action) jobs: $second")
    // the three keys generate ~75 classes, inside Spark's 100-entry cache
    // (four LRU segments of 25): a second round compiles none, or the ~25
    // of one segment its hashing overfills
    assert(compiled <= 30, s"the second round compiled $compiled classes")
  }
}
