package graft.pipeline

import graft.catalog.{TableRegistry, ViewMeta}
import graft.introspect.QueryIntrospector
import graft.profile.Profiler
import graft.recommend.{Balance, Recommender}
import graft.score.Scoring
import graft.usage.Usage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** End-to-end advisor pipeline (reference cli.py:11-137 stages 3–8), fully
  * native: discover → profile → parse workload → score → recommend. Each
  * statistic is computed once and reused (the reference recomputed
  * cardinality/performance twice — cli.py:83-89 vs partitioning.py:334-335).
  * Profiling and the per-text workload state run in Spark; everything after
  * them is catalog-sized and runs in plain Scala through one core
  * ([[advise]]), as the reference's pandas tail does; entry points return
  * local frames.
  */
object AnalysisPipeline {

  /** Memoized per-column profiles for every profiled table — the
    * compute-once statistic store every pipeline entry point (and any
    * profile-derived query key) shares, so score_partition /
    * emit_partition_scripts / entry don't re-profile the same fixtures
    * (SURVEY §0's fix for the reference's double stat computation). The
    * memo re-profiles when a profiled table's files change. */
  def profilesFor(spark: SparkSession, sfDir: String,
      approxCardinality: Boolean): Seq[Profiler.ColumnProfile] =
    graft.Memo(spark, s"profiles:$sfDir:$approxCardinality",
        TableRegistry.profiledTables.map(TableRegistry.path(sfDir, _))) {
      computeProfiles(spark, views(spark, sfDir),
        TableRegistry.table(spark, sfDir, _), approxCardinality)
    }

  /** Profile every view via `tableFor` — the un-memoized core shared by the
    * fixture path ([[profilesFor]]) and the catalog path
    * ([[runFromCatalog]]). */
  private def computeProfiles(spark: SparkSession, vs: Seq[ViewMeta],
      tableFor: String => DataFrame,
      approxCardinality: Boolean): Seq[Profiler.ColumnProfile] = {
    // Each per-table profile is a few single-row aggregate jobs whose task
    // count is bounded by the table's partition count — below the slot
    // count of any executor, local[4] included — so the per-table jobs are
    // submitted concurrently and the scheduler fills the idle slots:
    // profiling N tables costs about the largest table's jobs, not the sum.
    // Measured at local[4] on a 4-core host, perfbench's advise workload
    // (sf0.01, 5 tables), ten alternating pairs: a warm pass median 5.83 s
    // serial → 4.14 s with this and the plain-Scala workload derivation,
    // faster in every pair (SCALE.md). The pool is capped at 32 threads
    // (they mostly block on job completion, and a warehouse-scale catalog
    // must not mean one driver thread per table); Profiler.profile runs on
    // the calling thread, so the worst case is 32 mostly-blocked driver
    // threads, independent of catalog width.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(vs.size, 32)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = vs.map(v => Future(Profiler.profile(spark, v.view,
        tableFor(v.view), approxCardinality)))
      Await.result(Future.sequence(fs), Duration.Inf).flatten
    } finally pool.shutdown()
  }

  def views(spark: SparkSession, sfDir: String): Seq[ViewMeta] =
    TableRegistry.profiledTables.map { t =>
      val cols = TableRegistry.table(spark, sfDir, t).schema.fieldNames.toSeq
      // query_count defaults to 1 per view, as in the reference (cli.py:31).
      ViewMeta(t, cols, 1L, TableRegistry.viewDdl(t))
    }

  /** Cap on distinct workload texts parsed driver-side per analysis — keeps
    * the driver's footprint metadata-sized against a warehouse-scale query
    * log (texts beyond the N most frequent are dropped with a warning).
    * One shared constant: [[QueryIntrospector.maxWorkloadTexts]]. */
  val maxWorkloadTexts: Int = QueryIntrospector.maxWorkloadTexts

  /** Workload-derived statistics (usage frequencies, per-column exec-time
    * weights, per-view priorities) are metadata-sized and deterministic per
    * sfDir — memoized as collected rows, like the profiles, so repeated
    * pipeline entry points don't rescan the query log. The memo reads the
    * `events` log and the profiled tables' column lists, so a change to
    * either rebuilds it. */
  private def workloadFor(spark: SparkSession, sfDir: String): Scoring.Workload =
    graft.Memo(spark, s"workload:$sfDir",
        (TableRegistry.profiledTables :+ "events").map(TableRegistry.path(sfDir, _))) {
      workloadOf(spark, views(spark, sfDir), textStatsOf(TableRegistry.queryLog(spark, sfDir)))
    }

  /** The per-distinct-text aggregate STATE every log-derived statistic is
    * linear in: (query, cnt, sum_exec, sum_priority). One scan of the log
    * produces it; usage frequencies, column weights and view priorities are
    * all exact functions of it (see [[Scoring.workloadFrom]]). Because the
    * columns are sums and counts, the state is MERGEABLE:
    * stats(log₁ ∪ log₂) = re-aggregate(stats(log₁) ∪ stats(log₂)) — the
    * property the incremental streaming advisor is built on, and the
    * same shape as the count-min cells in [[graft.ext.Sketches.cmsCells]]. */
  def textStatsOf(queryLog: DataFrame): DataFrame =
    queryLog.where(col("query").isNotNull)
      .groupBy("query")
      .agg(count(lit(1)).as("cnt"),
        sum("execution_time_ms").as("sum_exec"),
        sum(when(Scoring.isInteractiveCol, lit(2.0)).otherwise(lit(1.0)))
          .as("sum_priority"))

  /** The workload's heavy hitters — the [[maxWorkloadTexts]] most frequent
    * texts of the per-text state (anything dropped is logged, never
    * silent) — parsed once on the driver, for every derivation to share. */
  def parsedWorkload(spark: SparkSession, textStats: DataFrame)
      : Seq[(String, Option[QueryIntrospector.SqlRefs])] =
    QueryIntrospector.parseAll(spark,
      QueryIntrospector.topTextsByCount(textStats, maxWorkloadTexts))

  /** Workload statistics from per-text aggregate state ([[textStatsOf]]) —
    * the one derivation behind the batch, filtered, catalog and streaming
    * paths.
    *
    * 100 TB posture: the state DataFrame is one row per distinct text
    * (distributed, never collected whole). Its [[maxWorkloadTexts]] most
    * frequent rows ship to the driver in the one capped collect that also
    * picks the texts to parse (heavy-hitter coverage — the advisor's scores
    * are frequency-weighted, so the dropped tail moves them least); the
    * weights are then [[Scoring.workloadFrom]] over those rows, as the
    * reference computes them client-side. */
  private def workloadOf(spark: SparkSession, vs: Seq[ViewMeta],
      textStats: DataFrame): Scoring.Workload = {
    val stats = QueryIntrospector.topRowsByCount(
      textStats.select(Scoring.TextStats.columns.map(col): _*), maxWorkloadTexts)
      .map(Scoring.TextStats.of)
    Scoring.workloadFrom(stats, QueryIntrospector.parseAll(spark, stats.map(_.query)),
      Usage.viewContributions(spark, vs))._1
  }

  /** Everything one advise pass produces: the workload statistics it
    * scored with, every scored (view, column), one recommendation per view,
    * and — on a vetted pass — each ranked candidate's balance evidence. */
  final case class Advice(
      workload: Scoring.Workload,
      scored: Seq[Scoring.Scored],
      recommendations: Seq[Recommender.Recommendation],
      evidence: Seq[Balance.VettedCandidate])

  /** The one tail every entry point runs, in plain Scala over catalog-sized
    * rows: score → rank → select transforms → (balance-vet) → scripts.
    *
    * With `vet = Some((tableFor, maxSkew))`, every ranked candidate's
    * selected transform is evaluated against its table (`Balance.vet`, the
    * `partition_size_report` shape), and candidates whose max/mean skew
    * exceeds `maxSkew` (or that collapse to a single partition) are DEMOTED
    * before script assembly — a recommendation that cannot produce
    * balanced partitions is not a recommendation. `qualify` names each view
    * in its script. */
  private def advise(profiles: Seq[Profiler.ColumnProfile], workload: Scoring.Workload,
      topN: Int, vs: Seq[String], vet: Option[(String => DataFrame, Double)],
      qualify: String => String = identity): Advice = {
    val scored = Scoring.score(profiles, workload)
    val candidates = Scoring.rank(scored, topN)(_.profile.view, _.profile.column, _.score)
      .map { case (s, k) =>
        val p = s.profile
        Recommender.Candidate(p.view, p.column, k.toLong, s.score, Recommender.spec(
          p.column, p.dataType, p.cardinality, p.valueRange, p.dateGranularity))
      }
    val evidence = vet.fold(Seq.empty[Balance.VettedCandidate]) { case (tableFor, maxSkew) =>
      Balance.vet(candidates.map(c => (c.view, c.column, c.rank, c.spec)), tableFor, maxSkew)
    }
    val demoted = evidence.filterNot(_.accepted).map(v => (v.view, v.column)).toSet
    val kept = candidates.filterNot(c => demoted((c.view, c.column)))
      .map(c => c.copy(view = qualify(c.view)))
    Advice(workload, scored, Recommender.render(kept, vs.map(qualify)), evidence)
  }

  /** [[advise]] over the fixture tables at `sfDir`. The workload is the
    * memoized whole `events` log, that log under `timeFilter` (a SQL
    * predicate, e.g. `"ts >= 1704844800000000000"`), or caller-supplied
    * per-text state ([[textStatsOf]] shape); profiles are data-side
    * statistics and stay unfiltered and memoized. `maxSkew` turns on
    * balance vetting. */
  private[graft] def adviceFor(spark: SparkSession, sfDir: String,
      approxCardinality: Boolean = false, topN: Int = 3,
      timeFilter: Option[String] = None, textStats: Option[DataFrame] = None,
      maxSkew: Option[Double] = None): Advice = {
    // profile scans and workload derivations touch disjoint inputs — overlap
    // them (cold-cache wall clock becomes max of the two, not the sum). Both
    // sides first read the views' schemas; resolve the tables before the
    // fork, or each memoized table frame is built (one schema job) by both.
    val vs = views(spark, sfDir)
    val profilesF = Future(profilesFor(spark, sfDir, approxCardinality))(ExecutionContext.global)
    val stats = textStats.orElse(timeFilter.map(f =>
      textStatsOf(TableRegistry.queryLog(spark, sfDir).where(expr(f)))))
    val workload = stats.fold(workloadFor(spark, sfDir))(workloadOf(spark, vs, _))
    advise(Await.result(profilesF, Duration.Inf), workload, topN, vs.map(_.view),
      maxSkew.map(m => (TableRegistry.table(spark, sfDir, _), m)))
  }

  /** Composite partition scores for every (view, column) — all statistics
    * computed once (each memoized at metadata size); a local frame. */
  def scores(spark: SparkSession, sfDir: String,
      approxCardinality: Boolean = false): DataFrame =
    Scoring.scoresFrame(spark, adviceFor(spark, sfDir, approxCardinality).scored)

  /** Catalog-discovery advisor (reference cli.py's real flow: discover from
    * information_schema → profile → score → recommend): runs the whole
    * pipeline against tables REGISTERED IN THE SESSION CATALOG — temp views,
    * a database, any catalog the session resolves — rather than the fixture
    * registry. `spark.table(name)` is the resolver, so Hive/temp/Iceberg
    * tables all work; the query log is caller-supplied (the engine's own
    * log of a workload it served is [[SelfHosting.observedQueryLog]]).
    *
    * Not memoized: catalog contents are mutable session state with no
    * fixture files to snapshot. */
  def runFromCatalog(spark: SparkSession, queryLog: DataFrame,
      db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      approxCardinality: Boolean = false, topN: Int = 3): DataFrame =
    runFromCatalogStats(spark, textStatsOf(queryLog), db, nameFilter, approxCardinality, topN)

  /** [[runFromCatalog]] over maintained per-text aggregate state
    * ([[textStatsOf]] shape) instead of a raw log — the incremental path:
    * a streaming advisor merges each micro-batch into the state and
    * re-derives ONLY the scores here, so per-batch work is O(batch + state),
    * never O(accumulated history). Exact equivalence with the batch path is
    * by construction: both funnel through the same workload derivation. */
  def runFromCatalogStats(spark: SparkSession, textStats: DataFrame,
      db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      approxCardinality: Boolean = false, topN: Int = 3): DataFrame = {
    val resolved = TableRegistry.fromCatalogResolved(spark, db, nameFilter)
    require(resolved.nonEmpty, "no catalog tables matched — register temp views or pass a db")
    val vs = resolved.map(_._1)
    // profile through the FULLY-QUALIFIED identifier: with db set, the bare
    // name would resolve against temp views / the current database and
    // profile the wrong (or no) table. spark.table is a PARSE site, so it
    // gets the backtick-QUOTED form (third tuple element) — the unquoted
    // label there would break (or resolve wrongly) on any db/table name
    // with a dot, dash, space, or reserved word.
    val parseSafeOf = resolved.map { case (v, _, pq) => v.view -> pq }.toMap
    val profiles = computeProfiles(spark, vs,
      name => spark.table(parseSafeOf(name)), approxCardinality)
    // emit scripts under the FULLY-QUALIFIED names: an `ALTER TABLE bare`
    // script run from a session on a different current database would hit
    // the wrong (or no) table — the exact class of bug the profiling-side
    // qualification above fixes
    val qualified = resolved.map { case (v, q, _) => v.view -> q }.toMap
    Recommender.frame(spark, advise(profiles, workloadOf(spark, vs, textStats), topN,
      vs.map(_.view), vet = None, qualify = v => qualified.getOrElse(v, v)).recommendations)
  }

  /** Full run → one recommendation row per profiled view:
    * (view, partition_spec, script), a local frame.
    *
    * `timeFilter` (a SQL predicate over the query log, e.g.
    * `"ts >= '2026-08-01'"`) scopes the WORKLOAD side of the scoring to a
    * log window — the same filter `ReportExporter.export` applies to the
    * dashboard artifacts, so `Main --time-filter` produces
    * recommendations and artifacts from the SAME window rather than
    * silently scoring the whole history. A filtered run bypasses the
    * per-sfDir workload memo, which is keyed for the unfiltered log. */
  def run(spark: SparkSession, sfDir: String, approxCardinality: Boolean = false,
      topN: Int = 3, timeFilter: Option[String] = None): DataFrame =
    Recommender.frame(spark,
      adviceFor(spark, sfDir, approxCardinality, topN, timeFilter).recommendations)

  /** [[run]] with the advisor loop CLOSED through its own what-if balance
    * evidence (see [[advise]]): a view whose candidates are all demoted
    * gets the reference's "no suitable columns" comment.
    *
    * @return (recommendations — same shape as [[run]], demoted candidates
    *         excluded; evidence — one row per vetted candidate with its
    *         balance numbers and accept/demote decision)
    */
  def runVetted(spark: SparkSession, sfDir: String, maxSkew: Double = defaultMaxSkew,
      approxCardinality: Boolean = false, topN: Int = 3,
      timeFilter: Option[String] = None): (DataFrame, DataFrame) =
    vetted(spark, adviceFor(spark, sfDir, approxCardinality, topN, timeFilter,
      maxSkew = Some(maxSkew)))

  /** [[runVetted]] over maintained per-text workload state
    * ([[textStatsOf]] shape — e.g. a [[graft.streaming.StreamingAdvisor]]
    * state snapshot) instead of the fixture query log: the DRIFT-TRIGGERED
    * re-analysis path ([[graft.streaming.DriftReanalysis]]), where the
    * advisor's accumulated workload is re-scored and balance-vetted
    * because the data distribution moved, not because the log did.
    * Profiles re-read the advised tables when their files change (current
    * contents are what a re-analysis must reflect). */
  def runVettedFromStats(spark: SparkSession, sfDir: String,
      textStats: DataFrame, maxSkew: Double = defaultMaxSkew,
      approxCardinality: Boolean = false, topN: Int = 3): (DataFrame, DataFrame) =
    vetted(spark, adviceFor(spark, sfDir, approxCardinality, topN,
      textStats = Some(textStats), maxSkew = Some(maxSkew)))

  /** The max/mean partition skew above which balance vetting demotes a
    * candidate, unless the caller passes its own. */
  val defaultMaxSkew: Double = 8.0

  private def vetted(spark: SparkSession, a: Advice): (DataFrame, DataFrame) =
    (Recommender.frame(spark, a.recommendations), spark.createDataFrame(a.evidence))
}
