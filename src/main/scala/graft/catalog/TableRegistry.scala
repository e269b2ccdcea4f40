package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata registry over the fixture tables — the Spark-native stand-in for
  * the reference's `information_schema` discovery (trino_client.py:22-36,
  * 65-93) and `SHOW CREATE MATERIALIZED VIEW` DDL fetch (cli.py:34-41).
  * All metadata comes from `df.schema` — no remote round trips.
  */
final case class ViewMeta(view: String, columns: Seq[String], queryCount: Long, ddl: String)

object TableRegistry {

  /** All fixture tables, in a stable order. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The subset we treat as "views to profile" (the reference profiles
    * materialized views; our analogs are the TPC-H-ish core tables). */
  val profiledTables: Seq[String] = Seq("lineitem", "orders", "customer", "part", "supplier")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** `name` as one SQL identifier: backtick-quoted with embedded backticks
    * doubled, so a name with a space, dot, dash or reserved word parses. */
  def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  /** The fixture table `name` — memoized per (session, path) so repeated
    * queries don't re-list files or re-read parquet footers, and rebuilt
    * when the file under the path changes ([[graft.Memo]] snapshot). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    graft.Memo(spark, s"table:$p", Seq(p))(normalizeTs(spark.read.parquet(p)))
  }

  /** Drop this session's memoized frames and statistics ([[graft.Memo.clear]]). */
  def clear(spark: SparkSession): Unit = graft.Memo.clear(spark)

  /** Boundary normalization of the `events.ts` column to the engine-wide
    * contract "ts = epoch-NANOS bigint". The fixture generator has shipped
    * it as parquet timestamp[ns] (read as long via
    * spark.sql.legacy.parquet.nanosAsLong) and as timestamp[us]
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ); both land here as the
    * same instant. The NTZ wall time is interpreted in the session time
    * zone (pinned UTC by every entry point), matching DuckDB's
    * epoch_ns(ts) treatment of the same naive value — so oracle SQL built
    * on epoch_ns stays bit-exact across generator versions.
    *
    * Contract range: epoch NANOS spans ±year-2262; an instant outside it
    * overflows the ·1000 multiply (throws under ANSI) rather than
    * silently wrapping. Far-future sentinels (9999-12-31 style) must be
    * filtered or re-encoded upstream of this boundary. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) |
           Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df
    }

  /** S1/S2 native path: discover views/tables + their columns from the LIVE
    * Spark catalog — the true analog of the reference's `information_schema`
    * discovery (trino_client.py:22-36, cli.py:43-53), where the fixture
    * registry above is only the test harness. Covers temp views and any
    * catalog/database the session can see, so the advisor runs against a
    * user's own warehouse, not just the 10 baked-in fixture tables.
    *
    * Scale posture: catalog listings are metadata RPCs (no data scan); the
    * returned ViewMeta rows are O(tables × columns) driver-side — the same
    * bounded footprint the reference's information_schema round trip has.
    *
    * @param db catalog database to list; None = current database (+ temp views)
    * @param nameFilter restrict discovery (e.g. to one schema prefix, or to
    *   the names a spec registered — a shared test session may hold
    *   unrelated temp views)
    * @param queryCounts per-view query counts if the caller has them
    *   (reference cli.py:31 defaults each view to 1) */
  def fromCatalog(spark: SparkSession, db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      queryCounts: Map[String, Long] = Map.empty): Seq[ViewMeta] =
    fromCatalogResolved(spark, db, nameFilter, queryCounts).map(_._1)

  /** [[fromCatalog]] plus, per view, the FULLY-QUALIFIED identifier that
    * `spark.table(...)` must be given to read its data. The ViewMeta keeps
    * the bare name (query texts and usage parsing refer to tables unqualified
    * — Catalyst's multipartIdentifier.last), but resolution against a
    * non-current database needs `db.table`; temp views resolve bare. */
  def fromCatalogResolved(spark: SparkSession, db: Option[String] = None,
      nameFilter: String => Boolean = _ => true,
      queryCounts: Map[String, Long] = Map.empty,
      ddlFor: String => String = viewDdl): Seq[(ViewMeta, String, String)] = {
    val listed = db.fold(spark.catalog.listTables())(d => spark.catalog.listTables(d))
      .collect().toSeq
      .filter(t => nameFilter(t.name))
    // listTables(db) ALSO returns temp views: a temp view sharing a bare name
    // with a db table would otherwise collapse in downstream name-keyed maps
    // and profile the wrong relation. Dedup by bare name: with a db given,
    // the db's own table wins (that's what the caller asked to advise on);
    // without one, the temp view wins (matching spark.table's bare-name
    // resolution order). Collisions are logged, never silent.
    val tables = listed.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ts) =>
      if (ts.size == 1) ts.head
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"catalog discovery: '$name' names both a temp view and a catalog table; " +
            (if (db.isDefined) s"using ${db.get}.$name" else "using the temp view"))
        val namespaced = ts.filter(t => Option(t.namespace).exists(_.nonEmpty))
        if (db.isDefined) namespaced.headOption.getOrElse(ts.head)
        else ts.find(t => Option(t.namespace).forall(_.isEmpty)).getOrElse(ts.head)
      }
    }
    // backtick-quote identifier parts WHERE THEY ARE PARSED (listColumns,
    // and the third tuple element handed to callers for their OWN parse
    // sites): a db or table name with a dot/dash/space/reserved word would
    // otherwise fail the identifier parse and abort the whole discovery
    // (the Profiler quotes column names for the same reason). The SECOND
    // element — the display label — stays unquoted for scripts and
    // reports, where backticks would corrupt output. Returning the quoted
    // form here (rather than telling callers to re-quote) matters because
    // re-quoting from the joined label is LOSSY: a part containing a dot
    // cannot be re-split.
    tables.map { t =>
      val parts = Option(t.namespace).filter(_.nonEmpty)
        .map(_.toSeq :+ t.name).getOrElse(Seq(t.name))
      val qualified = parts.mkString(".")
      val quoted = parts.map(quote).mkString(".")
      val cols = spark.catalog.listColumns(quoted)
        .collect().map(_.name).toSeq
      // ddlFor defaults to the fixture registry: exact join-column usage
      // for the baked-in test tables, the neutral `SELECT * FROM <v>_src`
      // shape for anything else. A REAL warehouse whose table happens to
      // share a fixture name ('orders', 'customer') should inject its own
      // DDL source (e.g. SHOW CREATE TABLE) here rather than inherit the
      // fixture join columns.
      (ViewMeta(t.name, cols, queryCounts.getOrElse(t.name, 1L), ddlFor(t.name)),
        qualified, quoted)
    }
  }

  /** Canned analytical query texts — the stand-in corpus for
    * `system.runtime.queries` query texts (trino_client.py:38-63). These are
    * written in the Spark/DuckDB common SQL subset so the Catalyst parser
    * (graft.introspect) has ground truth the oracle can also enumerate. */
  val cannedQueries: Seq[String] = Seq(
    "SELECT l_returnflag, sum(l_quantity) FROM lineitem WHERE l_shipdate >= DATE '1995-01-01' GROUP BY l_returnflag LIMIT 10",
    "SELECT o_orderkey, l_quantity FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_totalprice > 150000.0",
    "SELECT c_mktsegment, count(*) FROM customer GROUP BY c_mktsegment",
    "SELECT * FROM orders WHERE o_orderdate >= DATE '1996-01-01' AND o_orderstatus = 'F'",
    "SELECT s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'FRANCE' LIMIT 5")

  /** Deterministic query-log derivation from `events` — schema per the
    * reference's system.runtime.queries projection (trino_client.py:43-52):
    * (query_id, query, create_time, execution_time_ms, cpu_time_ms,
    * scheduled_time_ms, input_bytes, peak_memory_bytes,
    * peak_total_memory_bytes). Every derived column uses floor() (not raw
    * double→bigint casts) so a DuckDB oracle reproduces it bit-for-bit.
    */
  def queryLog(spark: SparkSession, sfDir: String): DataFrame =
    queryLogFrom(table(spark, sfDir, "events"))

  /** The same derivation over ANY events-shaped DataFrame (event_id, ts,
    * value) — including a STREAMING one (it is a pure projection, so it
    * composes with readStream; graft.streaming.StreamingAdvisor feeds it
    * micro-batches for continuous re-advising). */
  def queryLogFrom(ev: DataFrame): DataFrame = {
    val queryCase = cannedQueries.zipWithIndex.foldLeft(lit(null: String)) {
      case (acc, (q, i)) => when(col("event_id") % 5 === i, lit(q)).otherwise(acc)
    }
    // ts arrives as epoch-nanos bigint (normalizeTs boundary contract):
    // derive a µs-precision timestamp for engine use; oracle-checked queries
    // only ever use coarse (second-or-worse) derivations of it.
    ev.select(
      col("event_id").cast("string").as("query_id"),
      queryCase.as("query"),
      timestamp_micros(expr("ts div 1000")).as("create_time"),
      floor(col("value") * 100).cast("long").as("execution_time_ms"),
      floor(col("value") * 60).cast("long").as("cpu_time_ms"),
      floor(col("value") * 10).cast("long").as("scheduled_time_ms"),
      floor(col("value") * 1e6).cast("long").as("input_bytes"),
      floor(col("value") * 5e5).cast("long").as("peak_memory_bytes"),
      floor(col("value") * 6e5).cast("long").as("peak_total_memory_bytes"))
  }

  /** DuckDB-side equivalent of [[queryLog]], usable as a CTE body in oracle
    * SQL. Kept adjacent to the Spark derivation so they never drift. */
  def queryLogOracleCte: String = {
    val cases = cannedQueries.zipWithIndex
      .map { case (q, i) => s"WHEN ${i} THEN '${q.replace("'", "''")}'" }
      .mkString(" ")
    s"""SELECT CAST(event_id AS VARCHAR) AS query_id,
       |  CASE CAST(event_id % 5 AS INT) $cases END AS query,
       |  ts AS create_time,
       |  CAST(FLOOR(value * 100) AS BIGINT) AS execution_time_ms,
       |  CAST(FLOOR(value * 60) AS BIGINT) AS cpu_time_ms,
       |  CAST(FLOOR(value * 10) AS BIGINT) AS scheduled_time_ms,
       |  CAST(FLOOR(value * 1e6) AS BIGINT) AS input_bytes,
       |  CAST(FLOOR(value * 5e5) AS BIGINT) AS peak_memory_bytes,
       |  CAST(FLOOR(value * 6e5) AS BIGINT) AS peak_total_memory_bytes
       |FROM events""".stripMargin
  }

  /** Per-view DDL strings (the stand-in for SHOW CREATE MATERIALIZED VIEW).
    * Shaped like the reference's MV DDL so P1 " AS " extraction and the
    * JOIN-column parse path (partitioning.py:9-20, 80-86) have work to do.
    * The *_src relations are fictitious upstream tables (only ever parsed,
    * never resolved). */
  val viewDdls: Map[String, String] = Map(
    "lineitem" -> "CREATE MATERIALIZED VIEW lineitem AS SELECT * FROM lineitem_src JOIN orders_src ON l_orderkey = o_orderkey;",
    "orders" -> "CREATE MATERIALIZED VIEW orders AS SELECT * FROM orders_src JOIN customer_src ON o_custkey = c_custkey;",
    "customer" -> "CREATE MATERIALIZED VIEW customer AS SELECT * FROM customer_src JOIN nation_src ON c_nationkey = n_nationkey;",
    "part" -> "CREATE MATERIALIZED VIEW part AS SELECT * FROM part_src WHERE p_size > 0;",
    "supplier" -> "CREATE MATERIALIZED VIEW supplier AS SELECT * FROM supplier_src JOIN nation_src ON s_nationkey = n_nationkey;")

  def viewDdl(view: String): String =
    viewDdls.getOrElse(view, s"CREATE MATERIALIZED VIEW $view AS SELECT * FROM ${view}_src;")

  /** Static column lists of the profiled tables — the single source of truth
    * shared by the `scan_catalog_views` oracle (the runtime query derives the
    * same rows from parquet footers, making this a genuine cross-check). */
  val profiledColumns: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))

  /** JOIN-condition columns contributed by [[viewDdls]] (each ×1). */
  val ddlJoinColumns: Seq[String] = Seq(
    "l_orderkey", "o_orderkey", "o_custkey", "c_custkey",
    "c_nationkey", "n_nationkey", "s_nationkey", "n_nationkey")
}
