package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the session with `graft.Bench`'s
  * settings, runs one workload and writes its tally and metrics as JSON.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * work (scratch directory), fixture (generated tables), wide-log (stream
  * input, traced operators runs), spans-dir, t0-ms (launch time, for the
  * session-ready figure), deadline-ms (when the process must have ended)
  * and out (result file). */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    val run = new Run(spark, tracer, args)
    run.metric("session_s", (System.currentTimeMillis() - args("t0-ms").toLong) / 1e3, "s")
    try args("workload") match {
      case "advise" => Advise(run)
      case "operators" => Operators(run)
      case w => run.op(ok = false, s"unknown workload $w")
    } catch { case scala.util.control.NonFatal(e) =>
      e.printStackTrace()
      run.op(ok = false, s"run aborted: $e")
    } finally spark.stop()
    Files.writeString(Paths.get(args("out")), run.json)
  }
}
