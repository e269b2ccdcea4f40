package graft

import graft.recommend.Recommender
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C9 script assembly edge: views with no surviving candidates get the
  * reference's "no suitable columns" comment (partitioning.py:436-437). */
class RecommenderSpec extends SparkSpec {

  test("view with no candidates gets the no-suitable-columns script") {
    val schema = StructType(Seq(
      StructField("view", StringType), StructField("column", StringType),
      StructField("rank", IntegerType), StructField("score", DoubleType),
      StructField("dataType", StringType), StructField("cardinality", LongType),
      StructField("valueRange", DoubleType), StructField("dateGranularity", StringType)))
    val ranked = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val out = Recommender.scripts(spark, ranked, Seq("emptyview")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("partition_spec") == null)
    assert(out(0).getAs[String]("script")
      .contains("emptyview does not contain suitable columns for partitioning"))
  }

  test("mixed case: one view ranked, one empty") {
    import spark.implicits._
    // scores ≥ 1000 render as Spark's format_string does (plain "%.2f",
    // Locale.US) whatever the default locale; equal scores rank by column
    val scored = Seq(
      ("viewa", "col1", 42.0, "string", 3L, Option.empty[Double], Option.empty[String]),
      ("viewa", "colz", 1234.567, "string", 3L, Option.empty[Double], Option.empty[String]),
      ("viewa", "colb", 42.0, "string", 3L, Option.empty[Double], Option.empty[String]))
      .toDF("view", "column", "score", "dataType", "cardinality", "valueRange", "dateGranularity")
    val ranked = graft.score.Scoring.topNPerView(scored, 3)
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val out = try Recommender.scripts(spark, ranked, Seq("viewa", "viewb"))
      .collect().map(r => r.getAs[String]("view") -> r.getAs[String]("script")).toMap
    finally java.util.Locale.setDefault(default)
    assert(out("viewa").contains("ALTER TABLE viewa REPLACE PARTITION SPEC"))
    assert(out("viewa").contains("col1"))
    assert(out("viewa").contains(
      "-- Column scores: [('colz', 1234.57), ('col1', 42.00), ('colb', 42.00)]"), out("viewa"))
    assert(out("viewa").contains("colz,\n    col1,\n    colb\n"), out("viewa"))
    assert(out("viewb").contains("does not contain suitable columns"))
  }
}
