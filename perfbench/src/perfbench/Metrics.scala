package perfbench

import java.nio.file.{Files, Paths}

/** Reads a traced run's spans: seconds and work by span name inside a
  * subtree, the Spark totals of a pass and the counter-steadiness
  * comparison of the two traced warm passes. */
final case class Metrics(r: Run, t: Tracer, self: Map[Int, Work]) {
  private val all = t.spans

  def subtree(root: Span): Seq[Span] =
    root +: all.filter(_.parent == root.id).flatMap(subtree)

  def seconds(root: Span, name: String): Double =
    subtree(root).filter(_.name == name).map(_.seconds).sum

  def work(root: Span, name: String): Work =
    subtree(root).filter(_.name == name).map(s => t.inclusive(self, s.id)).foldLeft(Work())(_ + _)

  /** `traced` are the spans of the two traced warm passes. */
  def passTotals(traced: Seq[Span], gc: Map[Int, Double]): Unit = {
    val w = traced.headOption.map(s => t.inclusive(self, s.id)).getOrElse(Work())
    r.metric("spark.jobs", w.jobs, "count")
    r.metric("spark.stages", w.stages, "count")
    r.metric("spark.tasks", w.tasks, "count")
    r.metric("spark.input_bytes", w.inputBytes, "bytes")
    r.metric("spark.shuffle_write_bytes", w.shuffleWriteBytes, "bytes")
    r.metric("spark.spill_bytes", w.spillBytes, "bytes")
    r.metric("jvm.gc_s", gc.getOrElse(1, 0.0), "s")
    // deterministic counters of every span, pass 1 against pass 2
    val counters = traced.map { p =>
      subtree(p).filter(_.id != p.id).map { s =>
        val c = t.inclusive(self, s.id)
        s.name -> (c.jobs, c.tasks)
      }.toMap
    }
    val (compared, mismatched) = counters match {
      case Seq(a, b) =>
        val diff = (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
        diff.foreach(k => r.log(s"counter mismatch in $k: (jobs, tasks) ${a.get(k)} vs ${b.get(k)}"))
        (2 * a.size, diff.size)
      case _ => (0, 0)
    }
    r.metric("counters.compared", compared, "count")
    r.metric("counters.mismatched", mismatched, "count")
  }

  /** Spans of this run as JSON lines, for reading beside the metrics. */
  def write(tag: String): Unit = {
    val dir = Paths.get(r.arg("spans-dir"))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"spans-$tag.jsonl"), t.spansJson(self) + "\n")
  }
}
