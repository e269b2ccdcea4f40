package graft

/** Scratch probe main — runs the flagship pipeline on sf0.001 and prints the
  * recommendations. Not part of the library API.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recs = SparkEntry.entry(spark)
    recs.collect().foreach { r =>
      println("=" * 60)
      println(r.getAs[String]("script"))
    }
    spark.stop()
  }
}
