package graft.score

import graft.introspect.QueryIntrospector
import graft.profile.Profiler
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Query-log scoring and the composite partition score — native versions of
  * the reference's analyze_query_resource_metrics (partitioning.py:123-168),
  * analyze_query_types (205-238), analyze_query_performance (170-203) and
  * calculate_partition_score (294-325). The log-proportional parts
  * (resource and type scores, the per-text state) run in Spark; the
  * workload weights, the score, its terms and the top-N rank are
  * catalog-sized and plain Scala.
  */
object Scoring {

  /** C5: 0–100 composite resource score per query. Metrics normalized by
    * their global max (fallback 1) and weighted 40/30/15/15
    * (exec/cpu/input/memory — partitioning.py:141-165). The global maxes are
    * a 1-row aggregate cross-joined back (broadcast of a scalar), not a
    * window over the whole log — no full-log shuffle.
    */
  def resourceScores(queryLog: DataFrame): DataFrame = {
    val maxes = queryLog.agg(
      greatest(max("execution_time_ms"), lit(1L)).as("max_exec"),
      greatest(max("cpu_time_ms"), lit(1L)).as("max_cpu"),
      greatest(max("input_bytes"), lit(1L)).as("max_input"),
      greatest(max("peak_memory_bytes"), lit(1L)).as("max_mem"))
    def term(c: String, m: String, w: Double) =
      when(col(c).isNotNull, col(c) / col(m) * w).otherwise(lit(0.0))
    queryLog.crossJoin(broadcast(maxes))
      .withColumn("resource_score",
        term("execution_time_ms", "max_exec", 40.0) +
        term("cpu_time_ms", "max_cpu", 30.0) +
        term("input_bytes", "max_input", 15.0) +
        term("peak_memory_bytes", "max_mem", 15.0))
      .drop("max_exec", "max_cpu", "max_input", "max_mem")
  }

  /** C7's per-row classification predicate — interactive iff the text
    * contains LIMIT or execution_time_ms < 10000 (partitioning.py:205-238).
    * Shared by [[queryTypes]] and the per-text aggregate state
    * ([[graft.pipeline.AnalysisPipeline.textStatsOf]]) so the batch and
    * incremental paths cannot drift. */
  private[graft] def isInteractiveCol: org.apache.spark.sql.Column =
    upper(col("query")).contains("LIMIT") ||
      (col("execution_time_ms").isNotNull && col("execution_time_ms") < 10000)

  /** C7: interactive/batch classification; priority 2.0 else 1.0. */
  def queryTypes(queryLog: DataFrame): DataFrame =
    queryLog
      .withColumn("is_interactive", isInteractiveCol)
      .withColumn("partition_priority",
        when(col("is_interactive"), lit(2.0)).otherwise(lit(1.0)))

  /** Distinct query text → (tables, all referenced columns) from a
    * pre-parsed (text → refs) map, as a DataFrame keyed by text — the
    * `refs` argument of the *FromStats adapters. Schema: (query, ref_table,
    * ref_column nullable, col_count). A row with null ref_column carries the
    * table-level reference. */
  def parsedRefsFrom(spark: SparkSession,
      parsed: Seq[(String, Option[QueryIntrospector.SqlRefs])]): DataFrame = {
    import spark.implicits._
    val rows = parsed.flatMap { case (t, refsOpt) =>
      refsOpt.toSeq.flatMap { refs =>
        refs.tables.distinct.flatMap { tbl =>
          (tbl, Option.empty[String], 1L) +:
            refs.allColumns.toSeq.map { case (c, n) => (tbl, Option(c), n.toLong) }
        }.map { case (tbl, c, n) => (t, tbl, c, n) }
      }
    }
    rows.toDF("query", "ref_table", "ref_column", "col_count")
  }

  /** J3 + A8/A9: per-table execution totals and per-(table,column)
    * execution-time weights — the reference's analyze_query_performance
    * (partitioning.py:170-203) over the per-text state, as [[workloadFrom]]
    * computes them. `textStats` rows are (query, cnt, sum_exec,
    * sum_priority) — see [[graft.pipeline.AnalysisPipeline.textStatsOf]];
    * `refs` is [[parsedRefsFrom]]'s frame. Only the state rows of the texts
    * in `refs` are collected (a broadcast semi-join).
    *
    * Returns (tableTotals, columnWeights), local frames:
    *   tableTotals:  (table, execution_time, query_count)
    *   columnWeights:(table, column, weight)  — exec-time-weighted
    */
  def performanceMetricsFromStats(textStats: DataFrame, refs: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = textStats.sparkSession
    val parsed = parsedOf(refs)
    val (w, totals) = workloadFrom(statsOf(textStats, parsed.map(_._1)), parsed, Nil)
    (localFrame(spark, "table STRING, execution_time BIGINT NOT NULL, query_count BIGINT", totals),
      localFrame(spark, "table STRING, column STRING, weight BIGINT NOT NULL", w.weights))
  }

  /** Per-view average partition priority from per-text aggregate state —
    * Σ sum_priority / Σ cnt per referencing table, as [[workloadFrom]]
    * computes it; arguments as [[performanceMetricsFromStats]]. A local
    * frame (table, avg_priority). */
  def viewPrioritiesFromStats(textStats: DataFrame, refs: DataFrame): DataFrame = {
    val parsed = parsedOf(refs)
    localFrame(textStats.sparkSession, "table STRING, avg_priority DOUBLE",
      workloadFrom(statsOf(textStats, parsed.map(_._1)), parsed, Nil)._1.priorities)
  }

  /** [[parsedRefsFrom]]'s rows back as (text → refs): the distinct tables
    * and the column multiplicities each text references. */
  private def parsedOf(refs: DataFrame): Seq[(String, Option[QueryIntrospector.SqlRefs])] =
    refs.select("query", "ref_table", "ref_column", "col_count").collect().toSeq
      .groupBy(_.getString(0)).toSeq.map { case (q, rows) =>
        val (tables, columns) = rows.partition(_.isNullAt(2))
        q -> Some(QueryIntrospector.SqlRefs(tables.map(_.getString(1)), Map.empty, Map.empty,
          columns.map(r => r.getString(2) -> r.getLong(3).toInt).toMap))
      }

  /** One row of the per-text aggregate state
    * ([[graft.pipeline.AnalysisPipeline.textStatsOf]]): the text, its log
    * rows, their summed execution time (None when every one is NULL) and
    * their summed partition priority. */
  final case class TextStats(query: String, cnt: Long, sumExec: Option[Long], sumPriority: Double)

  object TextStats {
    /** The state columns, in the order [[of]] reads them. */
    val columns: Seq[String] = Seq("query", "cnt", "sum_exec", "sum_priority")

    def of(r: Row): TextStats = TextStats(r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3))
  }

  /** The state rows of `texts` — a broadcast semi-join, so at most
    * `texts.size` rows reach the driver. */
  private[graft] def statsOf(textStats: DataFrame, texts: Seq[String]): Seq[TextStats] = {
    val spark = textStats.sparkSession
    import spark.implicits._
    textStats.join(broadcast(texts.toDF("query")), Seq("query"), "left_semi")
      .select(TextStats.columns.map(col): _*).collect().toSeq.map(TextStats.of)
  }

  /** THE workload derivation, in plain Scala over the collected state rows
    * of the parsed texts — the reference's Counter-based client-side
    * weights (partitioning.py:68-100, 170-203). Each log row with text q
    * counts once per reference, so every statistic is linear in the
    * per-text partials and equals the per-log-row sum exactly:
    *   usage       — `viewContributions`, plus cnt(q) per entry of q's
    *                 tables (a table named twice counts twice);
    *   weights     — per distinct table of q × each column of q,
    *                 sum_exec(q)·multiplicity (a NULL sum_exec adds 0);
    *   priorities  — per distinct table, Σ sum_priority / Σ cnt;
    *   tableTotals — per distinct table, (table, Σ sum_exec, Σ cnt).
    * Texts absent from `stats` or unparsed contribute nothing. Long sums
    * and products raise on overflow, as Spark's ANSI `sum` does; priority
    * partials are integer-valued doubles, so their order cannot matter.
    * Usage comes out weighted_frequency desc, name asc (as Spark orders
    * strings); the rest sorted by key. */
  def workloadFrom(stats: Seq[TextStats],
      parsed: Seq[(String, Option[QueryIntrospector.SqlRefs])],
      viewContributions: Seq[(String, Long)]): (Workload, Seq[(String, Long, Long)]) = {
    val refsOf = parsed.collect { case (q, Some(r)) => q -> r }.toMap
    val hits = stats.flatMap(s => refsOf.get(s.query).map(s -> _))
    def sumBy[K](kvs: Seq[(K, Long)]): Map[K, Long] = kvs.groupMapReduce(_._1)(_._2)(Math.addExact)
    def total(xs: Seq[Long]): Long = xs.foldLeft(0L)(Math.addExact)
    val usage = sumBy(viewContributions ++
      hits.flatMap { case (s, r) => r.tables.map(_ -> s.cnt) })
    val perTable = hits.flatMap { case (s, r) => r.tables.distinct.map(t => (t, s, r)) }
    val weights = sumBy(perTable.flatMap { case (t, s, r) =>
      r.allColumns.toSeq.map { case (c, n) =>
        (t, c) -> s.sumExec.fold(0L)(Math.multiplyExact(_, n.toLong))
      }
    })
    val byTable = perTable.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
    (Workload(
      usage.toSeq.sortWith { case ((n1, f1), (n2, f2)) =>
        f1 > f2 || (f1 == f2 && utf8Compare(n1, n2) < 0)
      },
      weights.toSeq.sorted.map { case ((t, c), w) => (t, c, w) },
      byTable.map { case (t, ss) => t -> ss.map(_.sumPriority).sum / total(ss.map(_.cnt)) }),
      byTable.map { case (t, ss) => (t, total(ss.flatMap(_.sumExec)), total(ss.map(_.cnt))) })
  }

  /** `rows` as a local frame of the DDL-described `schema`. */
  private[graft] def localFrame(spark: SparkSession, schema: String,
      rows: Seq[Product]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromTuple): _*),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** E5 cardinality banding (partitioning.py:305-318). */
  def cardinalityBand(card: Long): Double =
    if (card < 10) 5.0
    else if (card < 100) 10.0
    else if (card < 1000) 8.0
    else if (card < 10000) 5.0
    else 1.0

  /** The collected workload side of the score: usage
    * (name, weighted_frequency), column weights (table, column, weight) and
    * view priorities (table, avg_priority) — each keyed uniquely, as the
    * grouped derivations produce them. */
  final case class Workload(usage: Seq[(String, Long)], weights: Seq[(String, String, Long)],
      priorities: Seq[(String, Double)])

  /** The three workload frames, read by column name and collected — keyed
    * by a column name, a (table, column) or a table, so catalog-sized. */
  def collectWorkload(usage: DataFrame, columnWeights: DataFrame,
      viewPriorities: DataFrame): Workload = {
    val spark = usage.sparkSession
    import spark.implicits._
    Workload(
      usage.select("name", "weighted_frequency").as[(String, Long)].collect().toSeq,
      columnWeights.select("table", "column", "weight").as[(String, String, Long)].collect().toSeq,
      viewPriorities.select("table", "avg_priority").as[(String, Double)].collect().toSeq)
  }

  /** One scored (view, column): its profile, the workload inputs found for
    * it, and each score term. */
  final case class Scored(profile: Profiler.ColumnProfile, weightedFrequency: Option[Long],
      weight: Option[Long], avgPriority: Option[Double], base: Double, band: Double,
      perf: Double, interactive: Double, skew: Double, density: Double, score: Double)

  /** C8: composite partition score per (view, column).
    *
    * Reference-faithful terms (partitioning.py:294-325):
    *   base   = global usage WeightedFrequency × 1.0 (0 if absent)
    *   band   = cardinality band 5/10/8/5/1
    *   perf   = min(columnWeight/1000, 50)
    * README-documented intent terms the reference computed but never wired in
    * (SURVEY §0 decision — explicit weights):
    *   interactive = 5.0 × (avg partition_priority of queries referencing the
    *                 view − 1.0)            ∈ [0, 5]
    *   skew        = −3.0 when skewRatio > 10 (imbalanced partitions)
    *   density     = −2.0 when density > 0.9 (near-unique key ⇒ too many
    *                 partitions)
    * summed in that order. Usage joins on the column name alone, weights on
    * (view, column), priorities on the view.
    */
  def score(profiles: Seq[Profiler.ColumnProfile], workload: Workload): Seq[Scored] = {
    val usage = workload.usage.toMap
    val weights = workload.weights.map { case (t, c, w) => (t, c) -> w }.toMap
    val priorities = workload.priorities.toMap
    profiles.map { p =>
      val wf = usage.get(p.column)
      val w = weights.get((p.view, p.column))
      val pr = priorities.get(p.view)
      val base = wf.fold(0.0)(_.toDouble)
      val band = cardinalityBand(p.cardinality)
      val perf = math.min(w.getOrElse(0L).toDouble / 1000.0, 50.0)
      val interactive = (pr.getOrElse(1.0) - 1.0) * 5.0
      val skew = if (p.skewRatio.exists(_ > 10.0)) -3.0 else 0.0
      val density = if (p.density.exists(_ > 0.9)) -2.0 else 0.0
      Scored(p, wf, w, pr, base, band, perf, interactive, skew, density,
        base + band + perf + interactive + skew + density)
    }
  }

  /** Strings compared as Spark orders them: by unsigned UTF-8 bytes. */
  def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** W1: per-view top-N by (score desc, column asc), keeping score > 0
    * (partitioning.py:413-415); ranks start at 1, views come out in string
    * order. A non-positive score sorts after every positive one, so
    * dropping it never shifts a kept rank. */
  def rank[A](rows: Seq[A], topN: Int)(view: A => String, column: A => String,
      score: A => Double): Seq[(A, Int)] = {
    val order: Ordering[A] = (x, y) => java.lang.Double.compare(score(y), score(x)) match {
      case 0 => utf8Compare(column(x), column(y))
      case bySc => bySc
    }
    rows.groupBy(view).toSeq.sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
      .flatMap { case (_, rs) =>
        rs.sorted(order).zipWithIndex.collect {
          case (r, i) if i < topN && score(r) > 0 => (r, i + 1)
        }
      }
  }

  /** Scored rows as a local frame: the profile columns, then
    * weighted_frequency, weight, avg_priority (null where the workload
    * has no entry), the six *_score terms and score. */
  def scoresFrame(spark: SparkSession, scored: Seq[Scored]): DataFrame = {
    val schema = Encoders.product[Profiler.ColumnProfile].schema
      .add("weighted_frequency", LongType).add("weight", LongType)
      .add("avg_priority", DoubleType)
    val withTerms = Seq("base_score", "band_score", "perf_score", "interactive_score",
      "skew_score", "density_score", "score")
      .foldLeft(schema)((s, n) => s.add(n, DoubleType, nullable = false))
    val rows = scored.map { s =>
      Row.fromSeq((s.profile.productIterator ++ Iterator(s.weightedFrequency, s.weight,
          s.avgPriority, s.base, s.band, s.perf, s.interactive, s.skew, s.density, s.score))
        .map { case o: Option[_] => o.getOrElse(null); case v => v }.toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), withTerms)
  }

  /** [[score]] over frames: profiles (the [[Profiler.ColumnProfile]]
    * columns), usage (name, weighted_frequency), columnWeights
    * (table, column, weight), viewPriorities (table, avg_priority). Every
    * input is catalog-sized; the result is [[scoresFrame]]. */
  def partitionScores(profiles: DataFrame, usage: DataFrame, columnWeights: DataFrame,
      viewPriorities: DataFrame): DataFrame = {
    val spark = profiles.sparkSession
    import spark.implicits._
    scoresFrame(spark, score(profiles.as[Profiler.ColumnProfile].collect().toSeq,
      collectWorkload(usage, columnWeights, viewPriorities)))
  }

  /** [[rank]] over a frame with (view, column, score) columns: its rows
    * (catalog-sized), those ranked ≤ topN with score > 0, plus an int
    * `rank` column, as a local frame. */
  def topNPerView(scores: DataFrame, topN: Int = 3): DataFrame = {
    val ranked = rank(scores.collect().toSeq, topN)(
      _.getAs[String]("view"), _.getAs[String]("column"), _.getAs[Number]("score").doubleValue)
    scores.sparkSession.createDataFrame(
      java.util.Arrays.asList(ranked.map { case (r, k) => Row.fromSeq(r.toSeq :+ k) }: _*),
      scores.schema.add("rank", IntegerType, nullable = false))
  }
}
