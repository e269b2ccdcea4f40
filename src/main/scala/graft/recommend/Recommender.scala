package graft.recommend

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StringType

/** Recommendation assembly — C9/S12: ranked columns + selected transforms →
  * `ALTER TABLE … REPLACE PARTITION SPEC (…)` scripts, same shape as the
  * reference's produce_iceberg_partition_scripts (partitioning.py:417-438).
  * Dry-run by default like the reference (cli.py:124-133): recommendations
  * are data; execution is the caller's affair.
  *
  * The candidates are topN × views rows, so assembly is plain Scala, as
  * the reference's is; the DataFrame signatures are adapters that collect
  * the ranked frame and return a local one.
  */
object Recommender {

  /** One ranked column with its selected transform fragment. */
  final case class Candidate(view: String, column: String, rank: Long, score: Double,
      spec: String)

  /** One script per view; `partitionSpec` is empty when no candidate
    * survived. */
  final case class Recommendation(view: String, partitionSpec: Option[String], script: String)

  /** The spec fragment the transform rule selects for a profiled column —
    * the fragment balance vetting evaluates is BY CONSTRUCTION the fragment
    * the script emits. */
  def spec(column: String, dataType: String, cardinality: Long,
      valueRange: Option[Double], dateGranularity: Option[String]): String =
    Transforms.select(dataType, Transforms.ColStats(cardinality, valueRange, dateGranularity))
      .render(column)

  /** Per view: specs in rank order and the score comment line; views with
    * no candidate get the reference's "no suitable columns" comment.
    * Scores render as Spark's `format_string("%.2f")` does (Locale.US, no
    * thousands separators), whatever the JVM's default locale. Views come
    * out in Spark's string order (UTF-8 bytes). */
  def render(candidates: Seq[Candidate], allViews: Seq[String]): Seq[Recommendation] = {
    val byView = candidates.groupBy(_.view)
    val scripted = byView.toSeq.map { case (view, cs) =>
      val ordered = cs.sortBy(c => (c.rank, c.column))
      val partitionSpec = ordered.map(_.spec).mkString(",\n    ")
      val scores = ordered.map(c =>
        s"('${c.column}', ${"%.2f".formatLocal(java.util.Locale.US, c.score)})")
      Recommendation(view, Some(partitionSpec),
        s"-- Iceberg Partitioning script for $view\n" +
          s"-- Column scores: [${scores.mkString(", ")}]\n" +
          s"ALTER TABLE $view REPLACE PARTITION SPEC (\n    $partitionSpec\n);\n")
    }
    val empties = allViews.filterNot(byView.contains).map(v =>
      Recommendation(v, None, s"-- $v does not contain suitable columns for partitioning.\n"))
    (scripted ++ empties).sortWith((a, b) => graft.score.Scoring.utf8Compare(a.view, b.view) < 0)
  }

  /** Recommendations as a local (view, partition_spec, script) frame. */
  def frame(spark: SparkSession, recs: Seq[Recommendation]): DataFrame =
    spark.createDataFrame(recs.map(r => (r.view, r.partitionSpec.orNull, r.script)))
      .toDF("view", "partition_spec", "script")

  /** The selected fragment of a ranked row, read by column name
    * (column, dataType, cardinality, valueRange, dateGranularity). */
  private def specOf(r: Row): String =
    spec(r.getAs[String]("column"), r.getAs[String]("dataType"),
      r.getAs[Number]("cardinality").longValue,
      Option(r.getAs[Number]("valueRange")).map(_.doubleValue),
      Option(r.getAs[String]("dateGranularity")))

  /** Ranked rows + their selected transform fragments (`spec` column) — the
    * shared head of script assembly and balance vetting. */
  def withSelectedSpec(ranked: DataFrame): DataFrame = {
    // topN × views ranked rows — catalog-sized
    val rows = ranked.collect().toSeq.map(r => Row.fromSeq(r.toSeq :+ specOf(r)))
    ranked.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), ranked.schema.add("spec", StringType))
  }

  /** Input: topN-ranked rows carrying (view, column, rank, score, dataType,
    * cardinality, valueRange, dateGranularity), other columns ignored.
    * Output one row per view: (view, partition_spec, script). */
  def scripts(spark: SparkSession, ranked: DataFrame, allViews: Seq[String]): DataFrame = {
    // topN × views ranked rows — catalog-sized
    val candidates = ranked.collect().toSeq.map(r => Candidate(r.getAs[String]("view"),
      r.getAs[String]("column"), r.getAs[Number]("rank").longValue,
      r.getAs[Number]("score").doubleValue, specOf(r)))
    frame(spark, render(candidates, allViews))
  }
}
