package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the full advisor pipeline (profile → parse workload → score →
    * recommend partition specs) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.AnalysisPipeline.run(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql

  /** The engine's session conf, shared by every main: the graft extensions,
    * UTC, epoch-nanos parquet timestamps, no UI, and the AQE coalescing
    * policy every measured path runs with. `partitions` is the shuffle
    * parallelism (the core count on one host). */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.ts is timestamp[ns] parquet; Spark 4 rejects NANOS unless read
      // as epoch-nanos bigint (graft code derives timestamps from it).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // openCostInBytes stays at Spark's 4 MB default HERE (r14 verdict
      // #2): a session-wide 128 KB lowered maxSplitBytes' floor for every
      // regular parquet scan — invisible at local[4] but a ~+10% per-key
      // regression at local[32], where bytes-per-core is small and the
      // open cost IS the floor. The many-small-files fix lives scoped in
      // Multimodal.ingestSession (only binaryFile listings see 128 KB).
      //
      // opt-r15: respect AQE's advisory partition size when coalescing
      // instead of stopping at defaultParallelism (the Spark-docs
      // recommendation). With the default parallelismFirst=true every
      // tiny reduce stage keeps ~defaultParallelism partitions, so at 32
      // cores each small shuffle runs 32 micro-tasks of pure scheduling
      // overhead (measured: a uniform per-key tax, e.g.
      // source_overlap_matrix 1.08 s at local[32] vs 0.29 s at local[4]
      // on identical data). At cluster scale the same setting yields the
      // 64 MB-advisory-sized reduce partitions guide §2.2 calls for —
      // this is NOT a local-only tune; map-stage parallelism still scales
      // with cores.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // …with the advisory target parameterised: 8 MB locally (A/B'd —
      // 64 MB over-coalesces medium shuffles to 1 task and costs the keys
      // with real post-shuffle compute their parallelism at 32 cores,
      // e.g. dedup_cluster_lsh 1.74 → 2.40 s; 8 MB keeps KB-sized
      // shuffles at 1 task and ~50-100 MB shuffles at 6-12). On a
      // cluster set SPARK_GRAFT_ADVISORY to 64m-256m per guide §2.2 —
      // the right value tracks executor memory per core, not this host.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "8m"))
      // opt-r15: preferSortMergeJoin=false (allow shuffled-hash join) was
      // A/B'd with an interleaved full-bench pair at local[32]/sf0.1 and
      // measured WORSE (75.3/76.0 s default vs 78.3/85.0 s with the flag):
      // the surface's joins are broadcast- or tiny-partition-shaped, where
      // SHJ's per-partition hash build only adds overhead. Left at the
      // Spark default.
      .config("spark.ui.enabled", "false")
}
