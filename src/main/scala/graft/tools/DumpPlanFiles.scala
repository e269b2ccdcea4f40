package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Queries, SparkEntry}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump formatted physical plans at sf0.001 (plan shape is
  * scale-independent apart from AQE runtime stats), in the session
  * [[graft.SparkEntry.builder]] gives every main, so the plans are the ones
  * graft.Bench and graft.Verify run. Two outputs:
  *
  *  - per-key files, for before/after evidence beside optimization notes:
  *    `sbt "runMain graft.tools.DumpPlanFiles <outDir> <suffix> k1,k2,..."`
  *    (e.g. `plans/r15 before q18_large_orders,q21_waiting`) writes
  *    `<outDir>/<key>_<suffix>.txt`;
  *  - PLANS.md, the reviewable plans of representative keys:
  *    `sbt "runMain graft.tools.DumpPlanFiles PLANS.md"` keeps the file's
  *    preamble and its `## key — note` headings (the pick list) and
  *    rewrites each pick's plan under its heading.
  *
  * SPARK_GRAFT_SF_DIR overrides the fixture directory.
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || (args.length == 1 && args(0).endsWith(".md")),
      "usage: DumpPlanFiles <outDir> <suffix> k1,k2,... | DumpPlanFiles PLANS.md")
    val spark = SparkEntry.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def plan(name: String): String =
      Queries.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (args.length == 1) {
      val md = Paths.get(args(0))
      val old = Files.readString(md)
      val preamble = old.substring(0, old.indexOf("\n## "))
      val pick = "^## (\\S+) — (.*)$".r
      val picks = old.linesIterator.collect { case pick(name, note) => name -> note }.toSeq
      val out = new StringBuilder(preamble)
      picks.foreach { case (name, note) =>
        out.append(s"\n## $name — $note\n\n```\n").append(plan(name)).append("```\n")
      }
      Files.writeString(md, out.toString)
      println(s"wrote $md (${picks.size} plans, ${out.length} chars)")
    } else {
      val outDir = Paths.get(args(0))
      val suffix = args(1)
      Files.createDirectories(outDir)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        if (Queries.queries.contains(name)) {
          val txt = plan(name)
          val file = outDir.resolve(s"${name}_$suffix.txt")
          Files.writeString(file, txt)
          println(s"wrote $file (${txt.length} chars)")
        } else System.err.println(s"[dumpplanfiles] unknown key: $name")
      }
    }
    spark.stop()
  }
}
