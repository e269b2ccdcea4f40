package graft

import graft.catalog.TableRegistry
import graft.ext.{Dedup, Sampling, Temporal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-3 operator surface: temporal joins (as-of, interval/range),
  * dedup clustering (connected components), and deterministic sampling —
  * the training-pipeline operators beyond the reference's own inventory
  * (SURVEY §2.13 extensions; the reference has no join execution at all,
  * SURVEY §2.3). Determinism rules as in Queries.scala: explicit ORDER BY
  * on a unique key, integer `div` (never `/`) on epoch-nano longs, decimal
  * casts before double sums.
  */
object Queries3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  /** ns→ms with integer division: epoch-nano longs exceed 2^53, a double
    * quotient would corrupt low bits. DuckDB twin: epoch_ns(ts)//1000000. */
  private val tsMs = "ts div 1000000"

  val specs: Seq[QSpec] = Seq(

    QSpec("asof_join",
      // each purchase event joined to the same user's most recent
      // prior-or-equal signup event (left-outer: null gap when none)
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), expr(tsMs).as("t"))
        val signups = ev.where(col("event_type") === "signup")
          .select(col("user_id"), expr(tsMs).as("t"), expr(tsMs).as("s_t"))
        Temporal.asofJoin(purchases, signups, Seq("user_id"), "t", Seq("s_t"))
          .select(col("event_id"), col("user_id"),
            (col("t") - col("asof_s_t")).as("gap_ms"))
          .orderBy("event_id")
      },
      Some(
        """WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000000 AS t
          |           FROM events WHERE event_type = 'purchase'),
          |     s AS (SELECT user_id, epoch_ns(ts)//1000000 AS t
          |           FROM events WHERE event_type = 'signup')
          |SELECT p.event_id, p.user_id, p.t - s.t AS gap_ms
          |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.t >= s.t
          |ORDER BY p.event_id""".stripMargin)),

    QSpec("range_join",
      // events sliced into two data-derived time windows per event type
      // (first quarter, third quarter of each type's time span); inclusive
      // bounds; count + decimal-exact value sum per window
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bounds = ev.groupBy(col("event_type").as("itype"))
          .agg(min("ts").as("lo0"), max("ts").as("hi0"))
        val intervals = bounds.select(col("itype"), explode(array(
            struct(lit(0).as("iid"), col("lo0").as("lo"),
              expr("lo0 + ((hi0 - lo0) div 4)").as("hi")),
            struct(lit(1).as("iid"), expr("lo0 + ((hi0 - lo0) div 2)").as("lo"),
              expr("lo0 + (((hi0 - lo0) * 3) div 4)").as("hi")))).as("iv"))
          .select(col("itype"), col("iv.iid"), col("iv.lo"), col("iv.hi"))
        Temporal.rangeJoin(ev.select("ts", "value"), intervals,
            "ts", "lo", "hi", bucketWidth = 86400L * 1000000000L)
          .groupBy("itype", "iid")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
          .orderBy("itype", "iid")
      },
      Some(
        """WITH b AS (SELECT event_type AS itype, MIN(epoch_ns(ts)) AS lo0,
          |                  MAX(epoch_ns(ts)) AS hi0
          |           FROM events GROUP BY 1),
          |iv AS (
          |  SELECT itype, CAST(0 AS INT) AS iid, lo0 AS lo,
          |         lo0 + ((hi0 - lo0)//4) AS hi FROM b
          |  UNION ALL
          |  SELECT itype, CAST(1 AS INT), lo0 + ((hi0 - lo0)//2),
          |         lo0 + (((hi0 - lo0)*3)//4) FROM b
          |)
          |SELECT iv.itype, iv.iid, CAST(COUNT(*) AS BIGINT) AS n_events,
          |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |FROM events e JOIN iv
          |  ON epoch_ns(e.ts) >= iv.lo AND epoch_ns(e.ts) <= iv.hi
          |GROUP BY 1, 2 ORDER BY itype, iid""".stripMargin)),

    QSpec("dedup_cluster",
      // connected components over the n-gram Jaccard near-dup pairs
      // (same parameters as dedup_ngram_jaccard): every doc labelled with
      // the min reachable doc_id + component size; singletons included
      (s, dir) => {
        // the labels frame is memoized: cluster_keep_policy consumes the
        // SAME star-contraction over the same jaccard pairs — one iterative
        // clustering pass serves both keys (the Memo.frame sketch discipline)
        Dedup.jaccardClustersMemo(s, dir)
      },
      Some(
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
          |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp
          |        FROM documents WHERE doc_id < 500) d
          |), pairs AS (
          |  SELECT a_id, b_id FROM (
          |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |      ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
          |    FROM sh a, sh b WHERE a.doc_id < b.doc_id) j
          |  WHERE jaccard >= 0.2
          |), edges AS (
          |  SELECT a_id AS src, b_id AS dst FROM pairs
          |  UNION ALL SELECT b_id, a_id FROM pairs
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 500
          |  UNION
          |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
          |), lab AS (
          |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
          |), sz AS (
          |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          |  FROM lab GROUP BY cluster_id
          |)
          |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
          |FROM lab JOIN sz USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    QSpec("sample_stratified",
      // per-source rate sampling: keep iff idHash(doc_id) mod 1000 falls
      // under the stratum quota (a per-mille rate derived from the source
      // name so the oracle needs no data knowledge) — map-only, no shuffle
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val quota = (length(col("source")).cast("long") * lit(37L)) % lit(300L) + lit(100L)
        Sampling.stratifiedSample(docs, "doc_id", quota)
          .select("doc_id", "source").orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, source FROM documents
          |WHERE (((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 + 12345) % 1000003) % 1000
          |      < ((length(source) * 37) % 300) + 100
          |ORDER BY doc_id""".stripMargin)),

    QSpec("stream_dedup",
      // batch twin of the streaming watermarked dropDuplicates (state
      // bounded by in-horizon key cardinality); stream==batch key-set
      // equivalence is asserted in StreamingSpec
      (s, dir) => graft.streaming.StreamingUsage.batchDedupTwin(
        t(s, dir, "events"), Seq("user_id", "event_type")),
      Some(
        """SELECT user_id, event_type, MIN(epoch_ns(ts)//1000) AS first_us
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin)),

    QSpec("window_lag_lead",
      // analytic lag + bounded moving frame (rowsBetween) — window breadth
      // beyond the reference's single row_number use (SURVEY §2.5 notes no
      // lag/lead/frames anywhere in it)
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"), col("value"))
          .withColumn("delta", round(col("value") - lag("value", 1).over(w), 6))
          .withColumn("mavg", round(avg("value").over(w.rowsBetween(-2, 0)), 6))
          .select("user_id", "event_id", "delta", "mavg")
          .orderBy("user_id", "event_id")
      },
      Some(
        """SELECT user_id, event_id,
          |  ROUND(value - lag(value, 1) OVER w, 6) AS delta,
          |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id
          |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id)
          |ORDER BY user_id, event_id""".stripMargin)),

    QSpec("join_full_outer",
      // full-outer join of two grouped sides (customers vs suppliers per
      // nation) — both null-extension directions exercised
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("n_customers"))
        val su = t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
          .agg(count(lit(1)).as("n_suppliers"))
        c.join(su, col("ck") === col("sk"), "full_outer")
          .select(coalesce(col("ck"), col("sk")).as("nationkey"),
            coalesce(col("n_customers"), lit(0L)).as("n_customers"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
          .orderBy("nationkey")
      },
      Some(
        """WITH c AS (SELECT c_nationkey AS ck, CAST(COUNT(*) AS BIGINT) AS n_customers
          |           FROM customer GROUP BY 1),
          |     s AS (SELECT s_nationkey AS sk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
          |           FROM supplier GROUP BY 1)
          |SELECT COALESCE(ck, sk) AS nationkey,
          |  COALESCE(n_customers, 0) AS n_customers,
          |  COALESCE(n_suppliers, 0) AS n_suppliers
          |FROM c FULL OUTER JOIN s ON ck = sk
          |ORDER BY nationkey""".stripMargin)),

    QSpec("agg_heavy_hitters",
      // frequent-items sketch (native TypedImperativeAggregate, Misra-Gries)
      // tested against its ACTUAL guarantee: true_count − estimate ≤
      // n/capacity for every key (an absent key estimates 0). The hashed
      // surface is the EXACT top-10 (plain GROUP BY — DuckDB-reproducible)
      // plus a per-row assertion that the sketch honors the bound — the
      // agg_approx_distinct banding pattern. The first version of this key
      // emitted the sketch counts directly under a "capacity ≥ |distinct|
      // ⇒ exact" premise, which silently BREAKS the oracle compare the
      // moment distinct keys outgrow the capacity — found by the r9 sf1
      // stress gate (1M events / ~100k users vs capacity 8192), exactly
      // the 100 TB failure mode a fixed-premise key must not carry. The
      // tight-capacity exactness itself stays pinned in FunctionsSpec.
      (s, dir) => {
        import graft.functions.HeavyHitters.heavyHitters
        val ev = t(s, dir, "events")
        val sketch = ev
          .agg(heavyHitters(col("user_id"), 8192).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.key").as("user_id"), col("e.cnt").as("mg"))
        val exact = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("user_id")).limit(10)
        // the bound's n as a BROADCAST SCALAR COLUMN, not a driver-side
        // ev.count() at build time (r9 advice): an eager count in the query
        // BUILDER made merely constructing this DataFrame — plan dumps,
        // explain gates, building all queries without executing — trigger a
        // full events scan as a side job. Cross-joined single-row aggregates
        // stay lazy and the scalar reaches every row without a shuffle.
        // Joined (not taken from the sketch rows) so a top-10 key ABSENT
        // from the sketch still sees n rather than null.
        val totals = ev.agg(count(lit(1)).as("n"))
        exact.join(broadcast(sketch), Seq("user_id"), "left")
          .crossJoin(broadcast(totals))
          .select(col("user_id"), col("cnt"),
            (col("cnt") - coalesce(col("mg"), lit(0L)) <=
              col("n") / lit(8192L)).as("mg_within_bound"))
          .orderBy(desc("cnt"), asc("user_id"))
      },
      Some(
        """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
          |  TRUE AS mg_within_bound
          |FROM events
          |GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin)),

    QSpec("text_clean",
      // corpus normalization: lowercase, strip non-alphanumerics, collapse
      // whitespace — the canonical pre-tokenization cleanup pass (map-only)
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("clean"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          |FROM documents ORDER BY doc_id""".stripMargin)),

    QSpec("q6_forecast",
      // TPC-H-Q6-shaped scan-heavy filter+agg: every predicate pushes to the
      // parquet scan; one partial+final aggregate, no shuffle of rows
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue")),
      Some(
        """SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin)),

    QSpec("q10_returns",
      // TPC-H-Q10-shaped 3-way join + grouped revenue + top-20: returned
      // items per customer in a quarter
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01") &&
          col("l_returnflag") === "R")
        .groupBy("c_custkey", "c_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey")).limit(20),
      Some(
        """SELECT c_custkey, c_name,
          |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
          |  AND l_returnflag = 'R'
          |GROUP BY c_custkey, c_name
          |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    QSpec("agg_cube",
      // full cube over (flag, status): all four grouping-set levels; null
      // subtotal keys coalesced so engine null-ordering can't differ
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("flag", "status"),
      Some(
        """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
          |  CAST(COUNT(*) AS BIGINT) AS cnt,
          |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY flag, status""".stripMargin)),

    QSpec("sample_topk_stratum",
      // exact-k-per-stratum deterministic reservoir: the 5 smallest-hash
      // docs per source; one shuffle on the stratum key
      (s, dir) => Sampling.topKPerStratum(t(s, dir, "documents"), "doc_id", "source", 5)
        .select("doc_id", "source").orderBy("doc_id"),
      Some(
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source, row_number() OVER (
          |    PARTITION BY source
          |    ORDER BY (((doc_id % 1000003) + 1000003) % 1000003 * 2654435761 + 12345) % 1000003 ASC, doc_id ASC) AS rn
          |  FROM documents) r
          |WHERE rn <= 5 ORDER BY doc_id""".stripMargin)))
}
