package graft.tools

/** Dev tool: time a COLD BPE training run (memo cleared per rep) — the number behind
  * the r14 verdict item "fold corpus_symbols into the pair aggregation"
  * (bpe_train_merges' first build was the most expensive new-key cost at
  * sf0.1). Run: `sbt "runMain graft.tools.TimeBpeTrain [sfDir] [reps]"`.
  * Prints one JSON line with per-rep seconds (min is the headline — the
  * same min-of-N convention graft.Bench uses). */
object TimeBpeTrain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.SparkEntry.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // one untimed warmup rep: JIT + codegen + parquet footer cache, so the
    // timed reps measure the training loop, not session startup
    graft.ext.Bpe.trainMerges(spark, docs, nMerges = 10).count()
    val times = (1 to reps).map { _ =>
      graft.Memo.clear(spark)
      val t0 = System.nanoTime()
      graft.ext.Bpe.trainMerges(spark, docs, nMerges = 10).count()
      (System.nanoTime() - t0) / 1e9
    }
    def f(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"metric":"bpe_train_cold_sec","sf":"$sfDir","min":${f(times.min)},"reps":[${times.map(f).mkString(",")}]}""")
    spark.stop()
  }
}
