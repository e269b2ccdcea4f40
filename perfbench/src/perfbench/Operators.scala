package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.catalog.TableRegistry

/** Workload `operators`: a fixed set of `SparkEntry.queries` keys, run pass
  * after pass in a fixed order. Each key's build
  * (`fn(spark, dir)`, where eager jobs run) and action (`.collect()`) are
  * timed apart. Before each pass the public clear hooks drop the session's
  * frame memos. After the timed passes of an untraced run the rows the last
  * pass collected are written, untimed, for the DuckDB oracle comparison. */
object Operators {
  /** Three keys over three layers: `partition_balance_report` (ext.Layout,
    * eager jobs while its frame is built), `bm25_topk` (ext.TextAnalysis and
    * the top-k function) and `q21_waiting` (Queries, its exchange-sharing
    * TPC-H query). They run in this order, not one drawn from the seed: the
    * heap the keys leave behind depends on the order, which would split
    * peak_live_heap_mb by seed. */
  val Keys: Seq[String] = Seq("partition_balance_report", "bm25_topk", "q21_waiting")

  // warm-pass cost on a 4-core host: a run makes as many warm passes after
  // the cold one as fit in --seconds at this cost, at least one, a count
  // that does not depend on how loaded the host is
  private val WarmPassS = 5.0

  // the re-advising segment takes 30 s on a quiet host, up to 70 s on a
  // loaded one
  private val ReadviseBudgetS = 75.0

  def apply(r: Run): Unit = {
    val spark = r.spark
    val t = r.tracer
    val dir = r.fixture
    val warm = if (r.trace) 2 else math.max(1, (r.seconds / WarmPassS).toInt)
    val seconds = collection.mutable.ArrayBuffer[Double]()
    val counts = collection.mutable.Map[String, Long]()
    val heap = collection.mutable.ArrayBuffer[Double]()
    var gc = Map.empty[Int, Double]
    val results = collection.mutable.Map[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]()
    for (p <- 0 to warm) {
      graft.ext.SimSearch.clear(spark)
      TableRegistry.clear(spark)
      t.tracing = r.trace && p > 0
      val gc0 = r.gcSeconds()
      var passS = 0.0
      var ok = true
      t.span(s"pass$p") {
        Keys.foreach { k =>
          try {
            val ((n, buildS, actionS), _, jobs) = r.measured {
              val (df, b) = Run.timed(t.span(s"ops.$k.build")(SparkEntry.queries(k)(spark, dir)))
              val (rows, a) = Run.timed(t.span(s"ops.$k.action")(df.collect()))
              results(k) = (df.schema, rows)
              (rows.length.toLong, b, a)
            }
            r.log(f"  $k: build $buildS%.3f s, action $actionS%.3f s, $n rows, $jobs jobs")
            passS += buildS + actionS
            val expected = counts.getOrElseUpdate(k, n)
            r.op(jobs > 0 && n == expected,
              if (jobs == 0) s"$k ran zero Spark jobs in pass $p (answered by a memo)"
              else s"$k returned $n rows in pass $p, $expected in pass 0")
          } catch { case scala.util.control.NonFatal(e) =>
            ok = false
            r.op(ok = false, s"$k failed in pass $p: $e")
          }
        }
      }
      if (ok) seconds += passS
      r.log(f"operators pass $p: $passS%.3f s")
      gc += p -> (r.gcSeconds() - gc0)
      heap += r.liveHeapMb()
    }
    r.note("pass_samples_s", seconds.mkString("[", ", ", "]"))
    r.note("live_heap_samples_mb", heap.mkString("[", ", ", "]"))
    if (seconds.size == warm + 1) {
      r.metric("cold_pass_s", seconds.head, "s")
      r.metric("pass_s", Run.median(seconds.tail.toSeq), "s")
      r.metric("peak_live_heap_mb", heap.max, "MB")
    }
    t.tracing = false
    // traced runs leave the oracle comparison to the untraced runs: the
    // re-advising segment needs the time and checks its own outputs
    if (!r.trace) {
      val (_, oracleS) = Run.timed(writeOracleInputs(r, results.toMap))
      r.log(f"oracle inputs written in $oracleS%.1f s")
    } else {
      // a run must end in time; on a host too slow for the segment its
      // metrics read 0 rather than the run failing
      val left = (r.arg("deadline-ms").toLong - System.currentTimeMillis()) / 1e3
      if (left < ReadviseBudgetS) r.log(f"re-advising segment skipped: $left%.0f s left")
      traced(r, gc, if (left < ReadviseBudgetS) None else {
        val (o, s) = Run.timed(Readvise(r))
        r.log(f"re-advising segment: $s%.1f s")
        Some(o)
      })
    }
  }

  /** Each key's result as parquet plus its DuckDB twin SQL, for the oracle
    * comparison made after the process exits. */
  private def writeOracleInputs(r: Run,
      results: Map[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]): Unit = {
    val out = s"${r.work}/oracle"
    results.foreach { case (k, (schema, rows)) =>
      try r.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      catch { case scala.util.control.NonFatal(e) => r.op(ok = false, s"$k failed writing its result: $e") }
    }
    val sql = Keys.map(k => s"${Run.q(k)}: ${SparkEntry.oracleSql.get(k).map(Run.q).getOrElse("null")}")
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), sql.mkString("{", ", ", "}"))
  }

  private def traced(r: Run, gc: Map[Int, Double], stream: Option[Readvise.Outcome]): Unit = {
    val t = r.tracer
    val (self, perBatch) = t.attribute()
    val m = Metrics(r, t, self)
    val tracedPasses = Seq(1, 2).flatMap(p => t.spans.find(_.name == s"pass$p"))
    val first = tracedPasses.headOption
    def s(name: String) = first.map(m.seconds(_, name)).getOrElse(0.0)
    def w(name: String) = first.map(m.work(_, name)).getOrElse(Work())
    Keys.sorted.foreach { k =>
      r.metric(s"ops.$k.build_s", s(s"ops.$k.build"), "s")
      r.metric(s"ops.$k.action_s", s(s"ops.$k.action"), "s")
      r.metric(s"ops.$k.eager_jobs", w(s"ops.$k.build").jobs, "count")
      r.metric(s"ops.$k.action_jobs", w(s"ops.$k.action").jobs, "count")
      r.metric(s"ops.$k.shuffle_write_bytes",
        (w(s"ops.$k.build") + w(s"ops.$k.action")).shuffleWriteBytes, "bytes")
    }
    val total = first.map(p => t.inclusive(self, p.id)).getOrElse(Work())
    r.metric("ops.jobs", total.jobs, "count")
    r.metric("ops.eager_jobs", Keys.map(k => w(s"ops.$k.build").jobs).sum, "count")
    r.metric("ops.shuffle_write_bytes", total.shuffleWriteBytes, "bytes")
    r.metric("ops.spill_bytes", total.spillBytes, "bytes")
    m.passTotals(tracedPasses, gc)
    stream.foreach(Readvise.metrics(r, m, perBatch, _))
    m.write(s"operators-seed${r.seed}")
  }
}
