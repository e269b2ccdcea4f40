package graft
package surface

import graft.catalog.TableRegistry
import graft.ext.{Curation, ExactMath, Sampling, Temporal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic SQL and the TPC-H-shaped keys: scans, filters, joins (broadcast,
  * semi/anti, full outer, null-safe, salted, as-of, range), set operations,
  * grouping sets/rollup/cube, windows, pivots, expression families, the
  * TPC-H query shapes adapted to the fixture's columns, event analytics
  * (funnel, cohort, gap fill) and the keyed-history operators (CDC merge,
  * SCD2). ns→ms via [[tsMs]].
  */
object RelationalKeys {

  /** revenue = Σ extendedprice·(1−discount), decimal-exact. */
  private val rev =
    sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
  private val revSql = "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"

  /** Oracle FROM clause of the Q7/Q8 spine: supplier ⋈ lineitem ⋈ orders ⋈
    * customer, with supplier nation `n1` and customer nation `n2`. */
  private val supplierCustomerJoins: String =
    """  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey""".stripMargin

  /** The median/MAD outlier oracle of `anomaly_mad`, with `extraCols`
    * appended to its select list. */
  private def madOracle(extraCols: String): String =
    s"""WITH m AS (SELECT event_type, median(value) AS med
       |           FROM events GROUP BY 1),
       |s AS (SELECT e.event_type, MAX(m.med) AS med,
       |        median(abs(e.value - m.med)) AS mad
       |      FROM events e JOIN m USING (event_type) GROUP BY 1)
       |SELECT e.event_type, ROUND(MAX(s.med), 6) AS med_r,
       |  ROUND(MAX(s.mad), 6) AS mad_r,
       |  CAST(SUM(CASE WHEN abs(e.value - s.med) > 3 * 1.4826 * s.mad
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers$extraCols
       |FROM events e JOIN s USING (event_type)
       |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  val specs: Seq[QSpec] = Seq(

    QSpec("limit_probe",
      (s, dir) => t(s, dir, "region").orderBy("r_regionkey").limit(1),
      Some("SELECT * FROM region ORDER BY r_regionkey LIMIT 1")),

    QSpec("filter_conjunctive",
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some(
        """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem
          |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    QSpec("filter_point",
      (s, dir) => t(s, dir, "events").where(col("event_id") === 42)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value")),
      Some("SELECT event_id, user_id, event_type, ROUND(value, 2) AS value FROM events WHERE event_id = 42")),

    QSpec("filter_time_range",
      // create_time >= TIMESTAMP literal (F4, fixed boundary — README.md:81's
      // interval form with a pinned timestamp for determinism). ts is epoch
      // nanos (bigint) on the Spark side.
      (s, dir) => t(s, dir, "events")
        .where(col("ts") >= lit(1705276800L * 1000000000L))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events
          |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QSpec("filter_isin",
      (s, dir) => t(s, dir, "nation")
        .where(col("n_name").isin("NATION_3", "NATION_7", "NATION_12"))
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey"),
      Some(
        """SELECT n_nationkey, n_name, n_regionkey FROM nation
          |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12') ORDER BY n_nationkey""".stripMargin)),

    QSpec("join_broadcast_left",
      (s, dir) => t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey, c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal
          |FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin)),

    QSpec("join_semi",
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_totalprice") > 150000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
          |ORDER BY c_custkey""".stripMargin)),

    QSpec("join_equi_inner",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus"),
      Some(
        """SELECT o_orderstatus,
          |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
          |  CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QSpec("join_explode_agg",
      (s, dir) => {
        import s.implicits._
        val stop = Seq("the", "a", "data", "join", "merge", "spark").toDF("token")
        t(s, dir, "documents")
          .select(col("n_chars"), explode(split(col("text"), " ")).as("token"))
          .join(broadcast(stop), Seq("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"),
            // A12: average over the joined-exploded rows
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
          .orderBy("token")
      },
      Some(
        """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
          |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
          |FROM (SELECT n_chars, UNNEST(string_split(text, ' ')) AS token FROM documents) toks
          |JOIN (VALUES ('the'), ('a'), ('data'), ('join'), ('merge'), ('spark')) AS stop(token) USING (token)
          |GROUP BY token ORDER BY token""".stripMargin)),

    QSpec("setop_union_all",
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .unionByName(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .groupBy("nationkey").agg(count(lit(1)).as("cnt"))
        .orderBy("nationkey"),
      Some(
        """SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
          |  UNION ALL SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
          |) u GROUP BY nationkey ORDER BY nationkey""".stripMargin)),

    QSpec("q1_agg",
      // flagship TPC-H-Q1-shaped aggregate (A1/A8 family + E4 arithmetic)
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
          |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
          |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
          |  CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QSpec("expr_to_json",
      // E9 JSON render as an expression: to_json(struct(...))
      (s, dir) => t(s, dir, "events")
        .where(col("event_id") < 50)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("j"))
        .orderBy("event_id"),
      Some(
        """SELECT event_id,
          |  CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR) AS j
          |FROM events WHERE event_id < 50 ORDER BY event_id""".stripMargin)),

    QSpec("sql_end_to_end",
      // the SQL surface itself: a canned workload query run through
      // spark.sql over registered temp views (decimal-safe aggregate form)
      (s, dir) => {
        TableRegistry.tableNames.foreach { n =>
          t(s, dir, n).createOrReplaceTempView(s"graft_$n")
        }
        s.sql(
          """SELECT l_returnflag,
            |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
            |  COUNT(*) AS cnt
            |FROM graft_lineitem WHERE l_shipdate >= DATE '1995-01-01'
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some(
        """SELECT l_returnflag,
          |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
          |  CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QSpec("agg_rollup",
      // hierarchical subtotals (not in the reference — engine generality).
      // Null subtotal keys are coalesced to 'ALL' so null-ordering
      // differences between engines can't break the compare.
      (s, dir) => t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
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
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY flag, status""".stripMargin)),

    QSpec("window_running_sum",
      // frame-spec window (rowsBetween) — not in the reference; ordered
      // running total per group over a deterministic key. The o_orderkey
      // < 300 cut bounds the declared surface, and because the frame is a
      // PREFIX of the same o_orderkey order, a surviving row's running sum
      // only ever saw rows that also survive — the filter commutes with
      // the window, so it runs BEFORE it (pushed to the scan) and the
      // per-status window partitions stay constant-size instead of a third
      // of the table on one task (o_orderstatus has 3 values — Catalyst
      // cannot push a filter through a window itself; r12 hot-key audit).
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .where(col("o_orderkey") < 300)
        .withColumn("running",
          sum(col("p")).over(Window.partitionBy("o_orderstatus")
            .orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("running").cast("double"), 2).as("running"))
        .orderBy("o_orderstatus", "o_orderkey"),
      Some(
        """SELECT o_orderstatus, o_orderkey,
          |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          |    PARTITION BY o_orderstatus ORDER BY o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running
          |FROM orders QUALIFY o_orderkey < 300
          |ORDER BY o_orderstatus, o_orderkey""".stripMargin)),

    QSpec("agg_stats_moments",
      // statistical profiling functions (stddev/corr) — rounded to absorb
      // partition-order fp drift in the merge formulas
      (s, dir) => t(s, dir, "part").agg(
        round(stddev_samp(col("p_retailprice")), 4).as("price_stddev"),
        round(corr(col("p_size"), col("p_retailprice")), 4).as("size_price_corr"),
        round(avg(col("p_retailprice")), 4).as("price_avg")),
      Some(
        """SELECT ROUND(stddev_samp(p_retailprice), 4) AS price_stddev,
          |  ROUND(corr(p_size, p_retailprice), 4) AS size_price_corr,
          |  ROUND(AVG(p_retailprice), 4) AS price_avg
          |FROM part""".stripMargin)),

    QSpec("filter_like",
      (s, dir) => t(s, dir, "part")
        .where(col("p_name").like("%widget%"))
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        .orderBy("p_brand"),
      Some(
        """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM part
          |WHERE p_name LIKE '%widget%' GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    QSpec("q3_shipping",
      // TPC-H-Q3-shaped 3-way join: filters on both sides, revenue agg, topk
      (s, dir) => t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") >= lit("1996-01-01"))
        .groupBy("o_orderkey")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("o_orderkey")).limit(20),
      Some(
        """SELECT o_orderkey,
          |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
          |  CAST(COUNT(*) AS BIGINT) AS n_items
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE c_mktsegment = 'BUILDING' AND l_shipdate >= TIMESTAMP '1996-01-01'
          |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    QSpec("q5_region",
      // TPC-H-Q5-shaped 6-way join through the dimension chain.
      //
      // opt-r15 (guide §2.3/§3.3 — filter before the big shuffle): the
      // former chain applied r_name = 'ASIA' only AFTER
      // customer⋈orders⋈lineitem⋈supplier, so every lineitem row crossed
      // the two fact-sized joins before ~4/5 of them were discarded. All
      // joins are inner and the filter touches only the supplier→nation→
      // region chain, so reordering is result-identical (oracle
      // untouched): resolve the ASIA supplier set FIRST (dimension-sized,
      // nation/region broadcast), join it to lineitem at the scan, and
      // only the surviving ~1/5 of lineitem rides the o_orderkey and
      // o_custkey joins. At 100 TB this cuts the two largest shuffles of
      // the plan by the region's selectivity. No broadcast hint on the
      // supplier side: it grows with the corpus; AQE broadcasts it at
      // fixture scale on its own.
      (s, dir) => {
        val asiaSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .where(col("r_name") === "ASIA")
          .select(col("s_suppkey"), col("n_name"))
        t(s, dir, "lineitem")
          .join(asiaSupp, col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("n_name")
          .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))
          .orderBy("n_name")
      },
      Some(
        """SELECT n_name,
          |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |  JOIN lineitem ON o_orderkey = l_orderkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    QSpec("join_anti",
      // explicit left-anti (the dedup survivors pattern as a relational op)
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment").orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
          |ORDER BY c_custkey""".stripMargin)),

    QSpec("window_topn_per_view",
      // W1 per-group top-N via the native bounded-heap aggregate
      // (functions.TopKRows). Spark 4's WindowGroupLimit already bounds the
      // row_number form's shuffle (partial group-limit before the exchange),
      // but it still SORTS every map partition fully (O(n log n)) before
      // limiting, then sorts again after the shuffle. The aggregate keeps a
      // k-bounded heap per (group, partition) — O(n log k) with no sort
      // operator at all — and the same O(groups × partitions × k) exchange.
      // Exact and merge-order independent under the (price desc, orderkey,
      // linenumber) total order — FunctionsSpec asserts equality with the
      // window form.
      (s, dir) => {
        import graft.functions.TopKRows.topKRows
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price"))
          .groupBy("l_returnflag")
          .agg(topKRows(struct(col("price"), col("l_orderkey"), col("l_linenumber")), 3).as("top"))
          .select(col("l_returnflag"), posexplode(col("top")))
          .select(col("l_returnflag"), col("col.l_orderkey"), col("col.l_linenumber"),
            col("col.price"), (col("pos") + 1).cast("int").as("rank"))
          .orderBy("l_returnflag", "rank")
      },
      Some(
        """SELECT * FROM (
          |  SELECT l_returnflag, l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
          |      ORDER BY ROUND(l_extendedprice, 2) DESC, l_orderkey ASC, l_linenumber ASC) AS INT) AS rank
          |  FROM lineitem) ranked
          |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin)),

    QSpec("sort_limit_topk",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), round(col("value"), 2).as("value"))
        .orderBy(desc("value"), asc("event_id")).limit(10),
      Some(
        """SELECT event_id, ROUND(value, 2) AS value FROM events
          |ORDER BY value DESC, event_id ASC LIMIT 10""".stripMargin)),

    QSpec("json_extract",
      (s, dir) => t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .groupBy("k_val").agg(count(lit(1)).as("cnt"))
        .orderBy("k_val"),
      Some(
        """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k_val,
          |  CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM events GROUP BY 1 ORDER BY k_val""".stripMargin)),

    QSpec("json_struct_roundtrip",
      // Typed JSON columns at scale: to_json(struct(...)) renders one JSON
      // doc per event, from_json with a DDL SCHEMA parses it back in ONE
      // pass (JsonToStructs — schema projection; contrast json_extract's
      // per-field get_json_object, one parse per field). The oracle
      // verifies from_json ∘ to_json = id by computing the same rollup
      // straight from the base columns — any parse/render drift (types,
      // null handling, field order) breaks the hash match.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val doc = ev.select(to_json(struct(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))).as("doc"))
        doc.select(from_json(col("doc"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id BIGINT, event_type STRING, k INT")).as("r"))
          .select(col("r.event_type").as("event_type"), col("r.k").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum("k").as("k_sum"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
          |  CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) AS BIGINT) AS k_sum
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QSpec("expr_date_arith",
      // E2 completion: the calendar-arithmetic family (day offsets, month
      // offsets with end-of-month clamping, day distances) — all
      // integer-exact, so the engines must agree to the day. Month
      // arithmetic clamps identically (Mar 31 − 2 months → Jan 31) in
      // Spark's add_months and DuckDB's INTERVAL subtraction.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("cnt"),
          min(date_add(col("l_shipdate").cast("date"), 90)).as("min_plus90"),
          max(add_months(col("l_shipdate").cast("date"), -2)).as("max_minus2m"),
          sum(datediff(lit(java.sql.Date.valueOf("1996-06-01")),
            col("l_shipdate").cast("date"))).as("days_to_ref"))
        .orderBy("ship_year"),
      Some(
        """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
          |  CAST(COUNT(*) AS BIGINT) AS cnt,
          |  MIN(CAST(l_shipdate AS DATE) + 90) AS min_plus90,
          |  MAX(CAST(CAST(l_shipdate AS DATE) - INTERVAL 2 MONTH AS DATE)) AS max_minus2m,
          |  CAST(SUM(date_diff('day', CAST(l_shipdate AS DATE), DATE '1996-06-01')) AS BIGINT) AS days_to_ref
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    QSpec("agg_conditional_family",
      // Conditional/boolean aggregates (count_if / bool_or / bool_and /
      // filtered COUNT DISTINCT) — all map-side-combining hash aggregates.
      // Thresholds (488 / 0.05) are fixture-calibrated to produce MIXED
      // true/false per group at both verify SFs, so the booleans are real
      // assertions, not constants.
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("count_if(value > 50)").as("n_high"),
          expr("bool_or(value > 488)").as("any_extreme"),
          expr("bool_and(value > 0.05)").as("all_above_floor"),
          expr("count(DISTINCT CASE WHEN value > 50 THEN user_id END)").as("users_high"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type,
          |  CAST(count_if(value > 50) AS BIGINT) AS n_high,
          |  bool_or(value > 488) AS any_extreme,
          |  bool_and(value > 0.05) AS all_above_floor,
          |  CAST(COUNT(DISTINCT CASE WHEN value > 50 THEN user_id END) AS BIGINT) AS users_high
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QSpec("expr_map_ops",
      // MAP-typed columns (§2.7 complex types): per-source token→count
      // built with map_from_arrays(collect_list…), then probed with
      // element_at / size / an aggregate HOF over map_values. The map is
      // INTERNAL — the hashed output is scalars, so collect_list's
      // nondeterministic order cannot leak (map lookups are order-blind
      // and the value fold is a sum of longs, exact in any order). The
      // oracle computes the same scalars straight from the token stream —
      // any drift in Spark's map semantics (dup keys, null lookups via
      // the coalesce) breaks the hash.
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        toks.groupBy("source")
          .agg(map_from_arrays(collect_list("tok"), collect_list("cnt")).as("m"))
          .select(col("source"),
            coalesce(element_at(col("m"), "the"), lit(0L)).as("the_cnt"),
            size(col("m")).as("n_distinct_toks"),
            aggregate(map_values(col("m")), lit(0L), (a, v) => a + v).as("total_toks"))
          .orderBy("source")
      },
      Some(
        """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
          |SELECT source,
          |  CAST(count_if(tok = 'the') AS BIGINT) AS the_cnt,
          |  CAST(COUNT(DISTINCT tok) AS INT) AS n_distinct_toks,
          |  CAST(COUNT(*) AS BIGINT) AS total_toks
          |FROM tk GROUP BY source ORDER BY source""".stripMargin)),

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
          |WHERE rn <= 5 ORDER BY doc_id""".stripMargin)),

    QSpec("gapfill_locf",
      // Time-series resample: per (order status, day) revenue with the date
      // spine densified over the global range, missing days filled with a
      // zero count and last-observation-carried-forward revenue. Scale
      // shape: the fact table is aggregated per (status, day) BEFORE the
      // spine join, so the join touches O(statuses × days) rows, not the
      // raw data; the spine itself (dates × statuses) is metadata-sized and
      // broadcast. The LOCF window partitions by status — parallel across
      // statuses, and at 100 TB the per-status sequence is still only
      // O(days) rows.
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderstatus").as("status"),
          to_date(col("o_orderdate")).as("day"),
          col("o_totalprice"))
        val daily = o.groupBy("status", "day").agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val days = o.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        val spine = o.select("status").distinct().crossJoin(broadcast(days))
        val locf = Window.partitionBy("status").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("status", "day"), "left")
          .select(col("status"), col("day"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            round(last(col("rev"), ignoreNulls = true).over(locf).cast("double"), 2)
              .as("locf_rev"))
          .orderBy("status", "day")
      },
      Some(
        """WITH o AS (SELECT o_orderstatus AS status, CAST(o_orderdate AS DATE) AS day,
          |    o_totalprice FROM orders),
          |daily AS (SELECT status, day, COUNT(*) AS cnt,
          |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM o GROUP BY 1, 2),
          |days AS (SELECT UNNEST(generate_series((SELECT MIN(day) FROM o),
          |    (SELECT MAX(day) FROM o), INTERVAL 1 DAY))::DATE AS day),
          |spine AS (SELECT st.status, days.day
          |    FROM (SELECT DISTINCT status FROM o) st CROSS JOIN days)
          |SELECT sp.status, sp.day,
          |  CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt,
          |  ROUND(CAST(last_value(d.rev IGNORE NULLS) OVER (
          |    PARTITION BY sp.status ORDER BY sp.day
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS locf_rev
          |FROM spine sp LEFT JOIN daily d ON d.status = sp.status AND d.day = sp.day
          |ORDER BY sp.status, sp.day""".stripMargin)),

    QSpec("agg_grouping_sets",
      // Explicit GROUPING SETS (finer than rollup/cube, already covered):
      // (flag, status), (flag), () with a hand-built grouping id so both
      // engines agree bit-for-bit. Subtotal keys coalesced to 'ALL' keeps
      // the schema null-free and the sort order engine-independent.
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
        s.sql(
          """SELECT CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
            |  COALESCE(l_returnflag, 'ALL') AS flag,
            |  COALESCE(l_linestatus, 'ALL') AS status,
            |  CAST(COUNT(*) AS BIGINT) AS cnt,
            |  SUM(l_quantity) AS sum_qty
            |FROM li_gs
            |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
            |ORDER BY gid, flag, status""".stripMargin)
      },
      Some(
        """SELECT CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
          |  COALESCE(l_returnflag, 'ALL') AS flag,
          |  COALESCE(l_linestatus, 'ALL') AS status,
          |  CAST(COUNT(*) AS BIGINT) AS cnt,
          |  SUM(l_quantity) AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY gid, flag, status""".stripMargin)),

    QSpec("transform_pivot",
      // Pivot year × return flag → one column per flag value. The pivot
      // values are declared (not discovered), so no extra distinct-values
      // job runs and the plan is a single grouped aggregate — the shape
      // that scales (discovery would add a driver-side collect).
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("yr"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .orderBy("yr"),
      Some(
        """SELECT CAST(YEAR(l_shipdate) AS INT) AS yr,
          |  SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS "A",
          |  SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS "N",
          |  SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS "R"
          |FROM lineitem GROUP BY 1 ORDER BY yr""".stripMargin)),

    QSpec("transform_unpivot",
      // Unpivot (wide→long) via stack: codegen'd generator, no shuffle —
      // each output row group stays on its input row's partition.
      (s, dir) => t(s, dir, "part")
        .selectExpr("p_partkey",
          "stack(2, 'p_retailprice', p_retailprice, 'p_size', cast(p_size as double)) as (metric, val)")
        .orderBy("p_partkey", "metric"),
      Some(
        """SELECT p_partkey, metric, val FROM (
          |  SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
          |  UNION ALL
          |  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part)
          |ORDER BY p_partkey, metric""".stripMargin)),

    QSpec("window_ntile",
      // Quartile binning over a total order (price, then key so ties are
      // deterministic), summarized per tile. ntile(k) is pure ARITHMETIC
      // over the global rank — big tiles first: with q = n div k and
      // r = n mod k, the first r tiles hold q+1 rows — so the key computes
      // the rank two-level instead of a global single-partition ntile
      // window (r12 hot-key audit, the last such site): rows rank inside
      // $1-wide price buckets (partitions bounded by price-tie density,
      // parallel across the price DOMAIN — the drift_ks domain-bounded
      // argument), only the per-bucket COUNT list — one row per distinct
      // dollar, domain-bounded, never corpus-proportional — prefixes in a
      // single partition, and n rides a broadcast scalar. Formula
      // equivalence with the real ntile() is pinned in Queries4Spec on an
      // n % k != 0 frame (the fixture row counts are all divisible by 4,
      // so the oracle alone would leave the uneven branch unexercised).
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"))
          // null-safe bucket: floor(NULL) is NULL and the bktPrefix
          // equi-join would silently DROP null-price rows; Long.MinValue
          // sorts before every real bucket, preserving the nulls-first
          // rank the previous global-ntile form gave them (Spark asc sort
          // puts NULLs first; the fixture has none, so outputs are
          // unchanged — this is a contract guard, not a behavior change)
          .withColumn("bkt", coalesce(
            expr("cast(floor(o_totalprice / 1.0d) as long)"), lit(Long.MinValue)))
        val inBkt = Window.partitionBy("bkt")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val bktPrefix = o.groupBy("bkt").agg(count(lit(1)).as("bc"))
          .withColumn("prev", coalesce(sum("bc").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "prev")
        val nRow = o.agg(count(lit(1)).as("n"))
        o.withColumn("rn_in", row_number().over(inBkt))
          .join(bktPrefix, "bkt")
          .crossJoin(broadcast(nRow))
          .withColumn("rank", col("prev") + col("rn_in"))
          .withColumn("q", expr("n div 4"))
          .withColumn("r", expr("n % 4"))
          .withColumn("tile",
            when(col("rank") <= col("r") * (col("q") + 1),
              expr("(rank - 1) div (q + 1) + 1"))
              .otherwise(expr("r + (rank - r * (q + 1) - 1) div q + 1"))
              .cast("int"))
          .groupBy("tile")
          .agg(count(lit(1)).as("cnt"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"))
          .orderBy("tile")
      },
      Some(
        """SELECT CAST(tile AS INT) AS tile, CAST(COUNT(*) AS BIGINT) AS cnt,
          |  ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
          |FROM (SELECT ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tile,
          |    o_totalprice FROM orders)
          |GROUP BY 1 ORDER BY tile""".stripMargin)),

    QSpec("q4_exists",
      // TPC-H Q4 shape: EXISTS correlated subquery → Catalyst plans a
      // left-semi join (no row multiplication, no distinct needed) keyed on
      // l_orderkey — the exact rewrite you'd hand-write at scale.
      //
      // opt-r16, examined and attempt REVERTED: pre-aggregating lineitem
      // to (l_orderkey, max(l_shipdate)) before the join (EXISTS(ship >
      // cutoff) ⟺ max(ship) > cutoff, guide §2.3) was built,
      // oracle-verified, and MEASURED SLOWER at sf1 (isolated interleaved
      // pair: 1.80/1.83 s EXISTS vs 2.23/3.35 s pre-agg): at every
      // broadcast-able scale the semi join needs ZERO exchanges (raw
      // (l_orderkey, l_shipdate) broadcast — plans/r16/
      // q4_exists_before.txt) while the pre-agg inserts a full fact
      // shuffle. The pre-agg only wins once the fact no longer fits a
      // broadcast (pure-shuffle regime: it cuts the shuffled rows by the
      // lines-per-order factor with map-side combine) — a regime no
      // measurable SF here reaches, so the EXISTS form stays and the
      // planner keeps choosing the right join per scale.
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("ord_q4")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q4")
        s.sql(
          """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
            |FROM ord_q4 o
            |WHERE EXISTS (SELECT 1 FROM li_q4 l
            |  WHERE l.l_orderkey = o.o_orderkey
            |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
          |FROM orders o
          |WHERE EXISTS (SELECT 1 FROM lineitem l
          |  WHERE l.l_orderkey = o.o_orderkey
          |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QSpec("q18_large_orders",
      // TPC-H Q18 shape: grouped HAVING subquery joined back; top-100
      // bounded by a total order.
      //
      // opt-r15: the original carried Q18's redundant `o_orderkey IN
      // (SELECT … HAVING …)` clause alongside the equivalent inner join on
      // sq. Catalyst does NOT dedup that subquery — the before-plan
      // (plans/r15/q18_large_orders_before.txt) scans lineitem THREE times
      // and runs the full l_orderkey aggregation three times (nodes 3-6,
      // 18-21, 26-28: the IN semi-join build twice, then sq itself
      // aggregated after a semi-join against another copy). The inner join
      // on sq already enforces exactly the IN membership, so dropping the
      // clause is result-identical (oracle untouched, still carries the
      // IN) and the plan collapses to ONE lineitem scan + ONE aggregation.
      // At 100 TB this deletes two full fact scans and two fact-sized
      // aggregation shuffles.
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("ord_q18")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q18")
        t(s, dir, "customer").createOrReplaceTempView("cust_q18")
        s.sql(
          """SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date,
            |  sq.total_qty
            |FROM ord_q18 o
            |JOIN cust_q18 c ON c.c_custkey = o.o_custkey
            |JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
            |      FROM li_q18 GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) sq
            |  ON sq.l_orderkey = o.o_orderkey
            |ORDER BY sq.total_qty DESC, o.o_orderkey LIMIT 100""".stripMargin)
      },
      Some(
        """SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date,
          |  sq.total_qty
          |FROM orders o
          |JOIN customer c ON c.c_custkey = o.o_custkey
          |JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          |      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) sq
          |  ON sq.l_orderkey = o.o_orderkey
          |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
          |                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
          |ORDER BY sq.total_qty DESC, o.o_orderkey LIMIT 100""".stripMargin)),

    QSpec("setop_intersect",
      // INTERSECT (distinct set semantics): nation keys present on both the
      // customer and supplier side. Plans as an aggregate + semi join on
      // already-distinct inputs — each side deduped before the shuffle.
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
      Some(
        """SELECT c_nationkey AS nationkey FROM customer
          |INTERSECT
          |SELECT s_nationkey FROM supplier
          |ORDER BY nationkey""".stripMargin)),

    QSpec("setop_except",
      // EXCEPT (distinct set semantics): nation keys with customers but no
      // suppliers — plans as a left-anti join on deduped sides.
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
      Some(
        """SELECT c_nationkey AS nationkey FROM customer
          |EXCEPT
          |SELECT s_nationkey FROM supplier
          |ORDER BY nationkey""".stripMargin)),

    QSpec("join_null_safe",
      // Null-safe equality (<=> / IS NOT DISTINCT FROM): the null bucket
      // joins to itself instead of disappearing. Both sides are aggregated
      // to their distinct key set BEFORE the join, so the null⋈null match
      // multiplies counts, not rows.
      (s, dir) => {
        val a = t(s, dir, "lineitem")
          .groupBy(nullif(col("l_tax"), lit(0.0)).as("k"))
          .agg(count(lit(1)).as("n_left"))
        val b = t(s, dir, "lineitem")
          .groupBy(nullif(col("l_discount"), lit(0.0)).as("k2"))
          .agg(count(lit(1)).as("n_right"))
        a.join(b, col("k") <=> col("k2"))
          .select(col("k").as("tax_key"), col("n_left"), col("n_right"))
          .orderBy(col("tax_key").asc_nulls_first)
      },
      Some(
        """WITH a AS (SELECT NULLIF(l_tax, 0.0) AS k, COUNT(*) AS n_left
          |    FROM lineitem GROUP BY 1),
          |b AS (SELECT NULLIF(l_discount, 0.0) AS k2, COUNT(*) AS n_right
          |    FROM lineitem GROUP BY 1)
          |SELECT a.k AS tax_key, CAST(a.n_left AS BIGINT) AS n_left,
          |  CAST(b.n_right AS BIGINT) AS n_right
          |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
          |ORDER BY tax_key NULLS FIRST""".stripMargin)),

    QSpec("expr_regexp_extract_all",
      // regexp_extract_all → array column: digit runs per document, with
      // the match count and first match (codegen'd regex, no UDF).
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)).as("nums"))
        .select(col("doc_id"),
          size(col("nums")).cast("long").as("n_matches"),
          coalesce(try_element_at(col("nums"), lit(1)), lit("")).as("first_match"))
        .where(col("doc_id") < 200)
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_matches,
          |  COALESCE(regexp_extract_all(text, '[0-9]+')[1], '') AS first_match
          |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    QSpec("window_rank_family",
      // The analytic-rank family per status over a total order, top-5 rows
      // per partition. The order (price DESC, orderkey ASC) is TOTAL — no
      // (price, key) pair repeats — so rank and dense_rank coincide with
      // row_number, percent_rank = (rn−1)/(n−1) and cume_dist = rn/n with
      // n the partition size. That identity is what makes the key
      // scale-safe: the top-5 cut comes from the bounded-heap TopKRows
      // aggregate (≤ 5 rows per group per MAP partition ride the shuffle)
      // and n rides a broadcast groupBy count — where the window form
      // sorts a third of the table on one task (o_orderstatus has 3
      // values: the unsplittable-partition trap, r12 hot-key audit). The
      // division expressions are byte-identical to what percent_rank /
      // cume_dist evaluate, so the oracle's real window functions agree
      // bit-for-bit.
      (s, dir) => {
        import graft.functions.TopKRows.topKRows
        val o = t(s, dir, "orders")
        val n = o.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        o.select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
          .groupBy("o_orderstatus")
          .agg(topKRows(struct(col("o_totalprice"), col("o_orderkey")), 5).as("top"))
          .select(col("o_orderstatus"), posexplode(col("top")))
          .join(broadcast(n), "o_orderstatus")
          .select(col("o_orderstatus"),
            (col("pos") + 1).cast("int").as("rn"),
            col("col.o_orderkey").as("o_orderkey"),
            (col("pos") + 1).cast("long").as("rnk"),
            (col("pos") + 1).cast("long").as("drnk"),
            // PERCENT_RANK of a single-row partition is DEFINED as 0.0;
            // the closed form pos/(n-1) would give 0.0/0.0 = NaN there
            round(when(col("n") === 1, lit(0.0))
              .otherwise(col("pos").cast("double") / (col("n") - 1).cast("double")), 6).as("prnk"),
            round((col("pos") + 1).cast("double") / col("n").cast("double"), 6).as("cdist"))
          .orderBy("o_orderstatus", "rn")
      },
      Some(
        """SELECT o_orderstatus, CAST(rn AS INT) AS rn, o_orderkey,
          |  CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
          |  ROUND(prnk, 6) AS prnk, ROUND(cdist, 6) AS cdist
          |FROM (SELECT o_orderstatus, o_orderkey,
          |    ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk,
          |    DENSE_RANK() OVER w AS drnk, PERCENT_RANK() OVER w AS prnk,
          |    CUME_DIST() OVER w AS cdist
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_orderstatus
          |               ORDER BY o_totalprice DESC, o_orderkey))
          |WHERE rn <= 5 ORDER BY o_orderstatus, rn""".stripMargin)),

    QSpec("agg_collect_sorted",
      // Deterministic array aggregation: collect_set is order-nondeterministic
      // under any partitioning, so the emitted array is sort_array'd — the
      // only arrangement with a stable cross-engine hash. The declared key
      // joins the array to a scalar string (the driver's pandas compare
      // can't hash raw array cells); Queries4Spec keeps the array-typed form.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
          countDistinct(col("l_linestatus")).as("n"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |  array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
          |  CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QSpec("split_train_test",
      // Deterministic train/test split: murmur3 of the stable id mod 100
      // against the 80/20 cut — reproducible under any partitioning or
      // re-run, no RNG state (the only split that survives a distributed
      // re-shuffle). Oracle replays the identical hash via murmurCte.
      (s, dir) => t(s, dir, "documents")
        .withColumn("split",
          when(pmod(hash(col("doc_id")), lit(100)) < 80, "train").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split"),
      Some(ExactMath.murmurCte("documents", "doc_id", 42) +
        """SELECT CASE WHEN ((sh % 100) + 100) % 100 < 80
          |    THEN 'train' ELSE 'test' END AS split,
          |  CAST(COUNT(*) AS BIGINT) AS n, MIN(v) AS min_id, MAX(v) AS max_id
          |FROM msigned GROUP BY 1 ORDER BY split""".stripMargin)),

    QSpec("transform_zscore",
      // Group-wise z-score normalization with the variance written out
      // explicitly — (ss - s²/n)/(n-1) over integral quantities is exact in
      // double on both engines (integer-valued doubles sum exactly below
      // 2^53, in ANY order — which is what licenses the partial-aggregable
      // form), and sqrt is IEEE-correctly-rounded, so the whole expression
      // tree is bit-reproducible (the built-in stddev's Welford order
      // wouldn't be). Group stats ride a groupBy + broadcast join back —
      // NOT a whole-partition window: l_returnflag has 3 values, so
      // Window.partitionBy would put a third of the table on one
      // unsplittable task, while the grouped form combines map-side and
      // lets the row-side l_orderkey filter push to the scan (r12 hot-key
      // window audit).
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val stats = li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).as("s"),
            sum(col("l_quantity") * col("l_quantity")).as("ss"))
        li.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
          .where(col("l_orderkey") < 500)
          .join(broadcast(stats), "l_returnflag")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"),
            round((col("l_quantity") - col("s") / col("n")) /
              sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)), 6)
              .as("z"))
          .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
      },
      Some(
        """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
          |  ROUND((l_quantity - s / n) / sqrt((ss - s * s / n) / (n - 1)), 6) AS z
          |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
          |    CAST(COUNT(*) OVER w AS DOUBLE) AS n,
          |    SUM(l_quantity) OVER w AS s,
          |    SUM(l_quantity * l_quantity) OVER w AS ss
          |  FROM lineitem WINDOW w AS (PARTITION BY l_returnflag))
          |WHERE l_orderkey < 500
          |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    QSpec("expr_array_hof",
      // Higher-order array functions as first-class scalar surface:
      // filter (positive components), exists (any > 0.3), aggregate
      // (L2 norm via fold + sqrt) — all codegen'd lambdas, no UDF, no
      // shuffle. The fold runs ascending on both engines → identical IEEE.
      (s, dir) => t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .select(col("vec_id"),
          size(filter(col("v"), x => x > 0)).cast("long").as("n_pos"),
          exists(col("v"), x => x > 0.3).as("has_big"),
          round(sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)), 6).as("l2"))
        .where(col("vec_id") < 100)
        .orderBy("vec_id"),
      Some(
        """SELECT vec_id,
          |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
          |  len(list_filter(v, x -> x > 0.3)) > 0 AS has_big,
          |  ROUND(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
          |    (acc, x) -> acc + x * x)), 6) AS l2
          |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings)
          |WHERE vec_id < 100 ORDER BY vec_id""".stripMargin)),

    QSpec("agg_median_by_group",
      // Exact per-group median (odd/even interpolation identical across
      // engines: percentile() interpolates, quantile_cont likewise) over a
      // grouped aggregate — one shuffle on the group key, imperative
      // percentile buffer kept AWAY from multi-DISTINCT Expand plans per
      // the profiling lesson.
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5D)").as("median_price"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          round(col("median_price"), 2).as("median_price"), col("n"))
        .orderBy("o_orderstatus"),
      Some(
        """SELECT o_orderstatus,
          |  ROUND(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    QSpec("q2_correlated_scalar",
      // Correlated scalar subquery (TPC-H Q2 shape): each customer's
      // cheapest order. Catalyst de-correlates to a grouped MIN + join —
      // the aggregate runs ONCE over orders, not per outer row (the rewrite
      // that makes correlated scalars viable at scale).
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("ord_q2")
        s.sql(
          """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price
            |FROM ord_q2 o
            |WHERE o_totalprice = (SELECT MIN(o2.o_totalprice) FROM ord_q2 o2
            |                      WHERE o2.o_custkey = o.o_custkey)
            |  AND o_custkey < 300
            |ORDER BY o_custkey, o_orderkey""".stripMargin)
      },
      Some(
        """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price
          |FROM orders o
          |WHERE o_totalprice = (SELECT MIN(o2.o_totalprice) FROM orders o2
          |                      WHERE o2.o_custkey = o.o_custkey)
          |  AND o_custkey < 300
          |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QSpec("q22_no_orders",
      // NOT IN subquery (TPC-H Q22 shape): customers with no urgent order.
      // NOT IN over a nullable column plans as a null-aware anti join —
      // the plan shape that silently returns zero rows if the subquery
      // yields a NULL, which is why the key column matters.
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("cust_q22")
        t(s, dir, "orders").createOrReplaceTempView("ord_q22")
        s.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
            |  MIN(c_custkey) AS min_key
            |FROM cust_q22
            |WHERE c_custkey NOT IN (SELECT o_custkey FROM ord_q22
            |                        WHERE o_orderpriority = '1-URGENT')
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      Some(
        """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
          |  MIN(c_custkey) AS min_key
          |FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
          |                        WHERE o_orderpriority = '1-URGENT')
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QSpec("setop_union_distinct",
      // UNION with set semantics (vs the existing union-all key): dedup
      // happens in ONE hash aggregate after the concat — no per-branch
      // distinct, one shuffle total.
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey"))).distinct()
        .orderBy("nationkey"),
      Some(
        """SELECT c_nationkey AS nationkey FROM customer
          |UNION
          |SELECT s_nationkey FROM supplier
          |ORDER BY nationkey""".stripMargin)),

    QSpec("window_range_frame",
      // RANGE-frame semantics (value-based peers): per status, count of
      // orders within 1000.00 of each order's price. The probe set is
      // declaration-bounded (o_orderkey < 300), so the scale-correct plan
      // is a broadcast range join — every corpus row checked against the
      // constant-size probe set in one scan-side pass with a partial-
      // aggregable count — not a Window.rangeBetween over the corpus,
      // which would sort a third of the table on one task per status
      // (3-value partition key; r12 hot-key window audit). The ±1000
      // bound arithmetic is the same IEEE double add the window frame
      // would evaluate, so boundary rows agree bit-for-bit with the
      // oracle's real RANGE window.
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        val probes = o.where(col("o_orderkey") < 300)
          .select(col("o_orderstatus").as("p_status"),
            col("o_orderkey").as("p_key"), col("o_totalprice").as("p_price"))
        o.join(broadcast(probes),
            col("o_orderstatus") === col("p_status") &&
              col("o_totalprice") >= col("p_price") - lit(1000.0d) &&
              col("o_totalprice") <= col("p_price") + lit(1000.0d))
          .groupBy("p_status", "p_key", "p_price")
          .agg(count(lit(1)).as("n_near"))
          .select(col("p_status").as("o_orderstatus"),
            col("p_key").as("o_orderkey"),
            round(col("p_price"), 2).as("price"), col("n_near"))
          .orderBy("o_orderstatus", "o_orderkey")
      },
      Some(
        """SELECT o_orderstatus, o_orderkey, ROUND(o_totalprice, 2) AS price,
          |  CAST(COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
          |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT) AS n_near
          |FROM orders QUALIFY o_orderkey < 300
          |ORDER BY o_orderstatus, o_orderkey""".stripMargin)),

    QSpec("join_skew_salted",
      // The skew-mitigation rewrite as an oracle-checked key: lineitem
      // (l_suppkey is the hot-key side at scale) salted over 8 buckets,
      // supplier replicated 8×, joined on (key, salt). The ORACLE is the
      // PLAIN join — hash equality proves the salted rewrite is
      // semantics-preserving, which is the whole point of salting (spread
      // one hot key over `buckets` reducers without changing the result).
      (s, dir) => graft.ext.Skew.saltedJoin(
          t(s, dir, "lineitem").select(col("l_suppkey").as("s_suppkey"),
            col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          "s_suppkey", xxhash64(col("l_orderkey"), col("l_linenumber")), 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
        .orderBy("s_nationkey"),
      Some(
        """SELECT s.s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  SUM(l.l_quantity) AS sum_qty
          |FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
          |GROUP BY 1 ORDER BY s_nationkey""".stripMargin)),

    QSpec("funnel_stages",
      // Sequential conversion funnel: per user, first view → first click
      // strictly after it → first purchase strictly after that; output the
      // user count surviving each stage. Each stage is a per-user MIN
      // aggregate joined to the (user-cardinality, i.e. tiny) previous
      // stage — the data-proportional scans are the three filtered event
      // passes; everything after is metadata-sized per-user state.
      (s, dir) => Curation.funnelStages(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
          expr(tsMs).as("ms")),
        Seq("view", "click", "purchase")),
      Some(
        """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ms FROM events),
          |v AS (SELECT user_id, MIN(ms) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
          |c AS (SELECT e.user_id, MIN(ms) AS t2 FROM e JOIN v ON e.user_id = v.user_id
          |  WHERE event_type = 'click' AND ms > t1 GROUP BY e.user_id),
          |p AS (SELECT e.user_id, MIN(ms) AS t3 FROM e JOIN c ON e.user_id = c.user_id
          |  WHERE event_type = 'purchase' AND ms > t2 GROUP BY e.user_id),
          |s AS (SELECT 1 AS stage, user_id FROM v
          |  UNION ALL SELECT 2, user_id FROM c
          |  UNION ALL SELECT 3, user_id FROM p)
          |SELECT d.stage, CAST(COALESCE(COUNT(s.user_id), 0) AS BIGINT) AS users
          |FROM (VALUES (1), (2), (3)) d(stage) LEFT JOIN s ON d.stage = s.stage
          |GROUP BY d.stage ORDER BY d.stage""".stripMargin)),

    QSpec("q7_volume",
      // Q7 shape: nation-to-nation trade volume through the full
      // supplier→lineitem→orders→customer chain with BOTH nation dims
      // joined (broadcast), grouped by the directed nation pair and year.
      // opt-r15 (guide §2.3 — filter before the big shuffle): the former
      // chain joined the FULL supplier and customer tables through
      // lineitem⋈orders and applied the two-nation predicate only at the
      // end, so ~all lineitem rows crossed both fact-sized joins to be
      // discarded (2 of N nations survive). The disjunction only ever
      // admits supp_nation ∈ {N0,N1} AND cust_nation ∈ {N0,N1}, so
      // prefiltering each dimension side to that superset is
      // result-identical (the exact OR is still applied before the
      // rollup; oracle untouched). Lineitem now shrinks to the two
      // nations' suppliers AT THE SCAN-SIDE join, before the o_orderkey
      // shuffle; orders shrinks via the filtered-customer join before
      // meeting lineitem.
      (s, dir) => {
        val n1 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))
        val supp2 = t(s, dir, "supplier")
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .where(col("supp_nation").isin("NATION_0", "NATION_1"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust2 = t(s, dir, "customer")
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .where(col("cust_nation").isin("NATION_0", "NATION_1"))
          .select(col("c_custkey"), col("cust_nation"))
        t(s, dir, "lineitem")
          .join(supp2, col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(cust2, col("o_custkey") === col("c_custkey"))
          .where((col("supp_nation") === "NATION_0" && col("cust_nation") === "NATION_1") ||
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_0"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(rev.cast("double"), 4).as("volume"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(
        s"""SELECT supp_nation, cust_nation, l_year,
           |  ROUND(CAST($revSql AS DOUBLE), 4) AS volume
           |FROM (
           |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |    CAST(year(l_shipdate) AS INT) AS l_year,
           |    l_extendedprice, l_discount
           |$supplierCustomerJoins
           |  WHERE (n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
           |     OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0')) v
           |GROUP BY supp_nation, cust_nation, l_year
           |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    QSpec("q8_mktshare",
      // Q8 shape: market share of one supplier nation inside one customer
      // region per year — conditional share of a revenue aggregate. The
      // share is ONE division of two decimal-exact sums per group.
      // opt-r15 (guide §2.3 — filter before the big shuffle): r_name =
      // 'ASIA' constrains only the customer→nation→region chain, yet the
      // former plan applied it after supplier⋈lineitem⋈orders⋈customer —
      // the full fact crossed every join first. Resolve the ASIA customer
      // set FIRST (nation/region broadcast), shrink orders through it
      // BEFORE the o_orderkey join, and lineitem then meets an
      // already-region-filtered orders side. All joins inner, filter
      // dimension-only → result-identical; oracle untouched.
      (s, dir) => {
        val nS = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
        val nC = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
          col("n_regionkey").as("c_rk"))
        val asiaCust = t(s, dir, "customer")
          .join(broadcast(nC), col("c_nationkey") === col("c_nk"))
          .join(broadcast(t(s, dir, "region")), col("c_rk") === col("r_regionkey"))
          .where(col("r_name") === "ASIA")
          .select(col("c_custkey"))
        val joined = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").join(asiaCust,
              col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nS), col("s_nationkey") === col("s_nk"))
        joined
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            // both sums are exact decimal(·,4) rationals — integer-exact
            // rounding via the x10000 unscale (ExactMath r8)
            graft.ext.ExactMath.ratioRounded(
              sum(when(col("supp_nation") === "NATION_2",
                (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
                .otherwise(lit(0).cast("decimal(18,4)"))) * lit(10000),
              rev * lit(10000), 6).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(
        s"""SELECT o_year,
           |  (CAST(((2000000::HUGEINT * CAST(SUM(CASE WHEN supp_nation = 'NATION_2'
           |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
           |      ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS HUGEINT)
           |    + CAST($revSql * 10000 AS HUGEINT))
           |    // (2::HUGEINT * CAST($revSql * 10000 AS HUGEINT))) AS DOUBLE) / 1000000) AS mkt_share
           |FROM (
           |  SELECT n1.n_name AS supp_nation,
           |    CAST(year(o_orderdate) AS INT) AS o_year,
           |    l_extendedprice, l_discount
           |$supplierCustomerJoins
           |    JOIN region ON n2.n_regionkey = r_regionkey
           |  WHERE r_name = 'ASIA') v
           |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    QSpec("q12_priority_late",
      // Q12 shape: two-way conditional counts after the orders⋈lineitem
      // join — here "late" = shipped more than 60 days after the order
      // date (the fixture has no shipmode/commitdate; the conditional-
      // count-after-join plan is what Q12 exercises).
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L)
            .otherwise(0L)).as("late_count"),
          sum(when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L)
            .otherwise(0L)).as("ontime_count"))
        .orderBy("o_orderpriority"),
      Some(
        """SELECT o_orderpriority,
          |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
          |    THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
          |  CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY
          |    THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QSpec("q14_promo",
      // Q14 shape: promo revenue share — conditional-sum ratio over the
      // lineitem⋈part join restricted to one ship year.
      (s, dir) => t(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1997)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(graft.ext.ExactMath.ratioRounded(
          sum(when(col("p_type") === "PROMO",
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .otherwise(lit(0).cast("decimal(18,4)"))) * lit(1000000),
          rev * lit(10000), 6).as("promo_revenue_pct")),
      Some(
        s"""SELECT (CAST(((2000000::HUGEINT * CAST(SUM(CASE WHEN p_type = 'PROMO'
           |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
           |      ELSE CAST(0 AS DECIMAL(18,4)) END) * 1000000 AS HUGEINT)
           |    + CAST($revSql * 10000 AS HUGEINT))
           |    // (2::HUGEINT * CAST($revSql * 10000 AS HUGEINT))) AS DOUBLE) / 1000000) AS promo_revenue_pct
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE year(l_shipdate) = 1997""".stripMargin)),

    QSpec("q17_small_qty",
      // Q17 shape: per-part average-quantity correlated aggregate — never
      // a correlated re-scan per row.
      //
      // opt-r15 (guide §2.4 — two operations keyed the same way share one
      // exchange): the former groupBy-then-join-back scanned lineitem
      // TWICE and shuffled twice (the narrow partkey aggregate, then the
      // full fact for the join — the aggregate is fact-derived, so at
      // scale that join is a second fact-sized shuffle). The per-part
      // average is a window over l_partkey: ONE scan, ONE shuffle, and
      // the avg expression is arithmetic-identical (same decimal(18,2)
      // sum / count per part, divided as double), so every row lands the
      // same side of the 0.5·avg predicate — oracle (which keeps the
      // join-back form) hash-identical at all SFs. partkey is
      // high-cardinality/unskewed, so no hot-key window task (the r12
      // window audit criterion).
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
        li.withColumn("avg_qty",
            sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double") /
              count(lit(1)).over(w))
          .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 2).as("small_qty_revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some(
        """WITH a AS (SELECT l_partkey AS ap_partkey,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
          |  FROM lineitem GROUP BY l_partkey)
          |SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
          |    AS small_qty_revenue,
          |  CAST(COUNT(*) AS BIGINT) AS n_lines
          |FROM lineitem JOIN a ON l_partkey = ap_partkey
          |WHERE l_quantity < 0.5 * avg_qty""".stripMargin)),

    QSpec("q19_disjunctive",
      // Q19 shape: OR-of-ANDs across both join sides — the predicate a
      // planner must NOT turn into a cross product; Spark pushes the
      // common l_partkey = p_partkey equi-key and evaluates the
      // disjunction as a post-join filter.
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(5, 25) &&
            col("l_quantity").between(5, 25)) ||
          (col("p_brand") === "Brand#20" && col("p_size").between(10, 50) &&
            col("l_quantity").between(10, 35)))
        .agg(round(rev.cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_lines")),
      Some(
        s"""SELECT ROUND(CAST($revSql AS DOUBLE), 4) AS revenue,
           |  CAST(COUNT(*) AS BIGINT) AS n_lines
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           |    AND l_quantity BETWEEN 1 AND 15)
           |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 5 AND 25
           |    AND l_quantity BETWEEN 5 AND 25)
           |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 50
           |    AND l_quantity BETWEEN 10 AND 35)""".stripMargin)),

    QSpec("q21_waiting",
      // Q21 shape: the double-correlated EXISTS / NOT EXISTS — suppliers
      // who were the ONLY supplier with returned items in a multi-supplier
      // order. Both engines evaluate it as per-order distinct counts
      // joined back (the decorrelated plan Q21 forces), so no correlated
      // re-scan per row anywhere.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // two distinct aggregates over one group would plan through an
        // Expand (every input row replicated once per distinct clause —
        // 2-3× the shuffle bytes at 100 TB); aggregating the distinct
        // (order, supplier) PAIRS first then counting them needs one
        // un-replicated shuffle and map-side combine at both stages.
        // Equivalent because countDistinct skips NULL suppkeys and the
        // pair form filters them explicitly.
        //
        // r14: the qualifying condition (exactly ONE returning supplier in
        // a ≥2-supplier order) means the pair frame already NAMES that
        // supplier — max(suppkey WHERE ret) over the order is the unique
        // returner — so the former second lineitem scan + fact-sized join
        // back (the biggest shuffle in the plan at 10× rows) collapses to
        // an orders-sized projection; numwait = plain count (each
        // qualifying order contributes its one returner exactly once —
        // the countDistinct is implied by construction).
        // opt-r16 (guide §2.4 "two operations keyed the same way share one
        // exchange"): the pair agg (l_orderkey, l_suppkey) and the order
        // agg (l_orderkey) each demanded their own hashpartitioning, so
        // the fact crossed the wire twice (the pair frame is ~as large as
        // the fact — lines per (order, supplier) ≈ 1, map-side combine
        // merges almost nothing). hashpartitioning(l_orderkey) satisfies
        // ClusteredDistribution(l_orderkey, l_suppkey) — same orderkey ⇒
        // same partition — so ONE explicit repartition on l_orderkey
        // serves both groupBys back to back in a single stage: 2
        // fact-sized exchanges → 1. Results identical (grouping is
        // partition-local either way).
        val waiting = li.where(col("l_suppkey").isNotNull)
          .select("l_orderkey", "l_suppkey", "l_returnflag")
          .repartition(col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret"))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_supp"), sum("ret").cast("long").as("n_supp_ret"),
            max(when(col("ret") === 1, col("l_suppkey"))).as("ret_supp"))
          .where(col("n_supp") >= 2 && col("n_supp_ret") === 1)
        waiting
          .join(t(s, dir, "supplier"), col("ret_supp") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), asc("s_name"))
      },
      Some(
        """WITH po AS (SELECT l_orderkey AS po_orderkey,
          |    COUNT(DISTINCT l_suppkey) AS n_supp,
          |    COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_supp_ret
          |  FROM lineitem GROUP BY l_orderkey)
          |SELECT s_name, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS numwait
          |FROM lineitem JOIN po ON l_orderkey = po_orderkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |WHERE l_returnflag = 'R' AND n_supp >= 2 AND n_supp_ret = 1
          |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)),

    QSpec("q13_custdist",
      // Q13 shape: customer-order distribution — LEFT OUTER join so
      // zero-order customers survive with c_count = 0, then a second
      // aggregation over the counts themselves. The order-side filter
      // stands in for Q13's o_comment NOT LIKE (the fixture carries no
      // comment column); what's exercised is the outer-join-then-
      // double-agg plan: count(o_orderkey) ignores the nulls the outer
      // join manufactures, and both aggregations shuffle ONCE each on
      // their own key (custkey then c_count) with map-side combine —
      // no row explosion anywhere at 100 TB.
      (s, dir) => {
        val filteredOrders = t(s, dir, "orders")
          .where(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey")
        t(s, dir, "customer")
          .join(filteredOrders, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some(
        """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
          |FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          |      FROM customer LEFT OUTER JOIN (
          |        SELECT o_orderkey, o_custkey FROM orders
          |        WHERE o_orderpriority <> '5-LOW') o
          |      ON c_custkey = o_custkey
          |      GROUP BY c_custkey) cc
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    QSpec("q15_top_supplier",
      // Q15 shape: the revenue "view" (per-supplier quarter revenue) joined
      // against its own scalar MAX — the equality runs on the EXACT decimal
      // sum, never the rounded double (a rounded tie-compare could admit a
      // near-max supplier; decimal equality cannot). The 1-row max side is
      // broadcast, so the view is computed once and scanned once; rendering
      // to double happens after the join, for display only.
      (s, dir) => {
        val q = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(rev.as("trev"))
        val mx = q.agg(max(col("trev")).as("mxrev"))
        q.join(broadcast(mx), col("trev") === col("mxrev"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("trev").cast("double"), 4).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(
        s"""WITH revenue AS (
           |  SELECT l_suppkey AS supplier_no, $revSql AS trev
           |  FROM lineitem
           |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           |  GROUP BY l_suppkey)
           |SELECT s_suppkey, s_name,
           |  ROUND(CAST(trev AS DOUBLE), 4) AS total_revenue
           |FROM supplier JOIN revenue ON s_suppkey = supplier_no
           |WHERE trev = (SELECT MAX(trev) FROM revenue)
           |ORDER BY s_suppkey""".stripMargin)),

    QSpec("cohort_retention",
      // Cohort-retention matrix over events: each user's cohort is their
      // first active epoch-week; each (cohort, offset) cell counts users
      // still active offset weeks later. Week index is TRUNCATING integer
      // division on the epoch-nanos contract (604800e9 ns/week): Spark
      // `div` and DuckDB `//` both truncate toward zero (they agree even
      // for pre-1970 instants, where floor and trunc differ), so there is
      // no timestamp rounding ambiguity between engines. Plan shape:
      // distinct
      // (user, week) pairs collapse map-side, the cohort comes from a
      // window over the user partition (one shuffle on user_id, NO
      // self-join back), then the cell rollup — since (user, week) rows
      // are already distinct, a plain COUNT per cell IS the distinct-user
      // count, sparing a countDistinct at 100 TB.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wk = t(s, dir, "events")
          .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
          .distinct()
        wk.withColumn("cohort_week", min(col("wk")).over(Window.partitionBy("user_id")))
          .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some(
        """WITH wk AS (SELECT DISTINCT user_id,
          |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
          |c AS (SELECT user_id, wk,
          |    MIN(wk) OVER (PARTITION BY user_id) AS cohort_week FROM wk)
          |SELECT cohort_week, wk - cohort_week AS week_offset,
          |  CAST(COUNT(*) AS BIGINT) AS n_users
          |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QSpec("anomaly_mad",
      // Robust per-type outlier screen: median + MAD (median absolute
      // deviation), flagging |x − med| > 3·1.4826·MAD. Plan shape: the
      // per-type stats are TINY (one row per event_type), so each pass
      // re-joins them back by BROADCAST — the events table is scanned
      // three times but never shuffled by value, and rows are never
      // replicated through a per-type window. NOTE the honest caveat:
      // exact percentile() still accumulates a distinct-value map per
      // group in its agg buffer, so per-group memory is distinct-values-
      // bound either way — at 100 TB the swap is approx_percentile
      // (fixed-size sketch, same plan shape); this key keeps the exact
      // form because the oracle compare must be bit-exact. The PROMOTED
      // default for pipelines/reports is graft.ext.Anomaly.madScreenApprox
      // (the sketch path — ReportExporter's anomaly_metrics artifact uses
      // it); this exact form exists only as the oracle twin. Both engines
      // interpolate even-
      // count medians identically (the agg_median_by_group precedent), and
      // the threshold expression keeps the same literal/multiply order on
      // both sides so the IEEE result is bit-identical.
      (s, dir) => {
        val base = t(s, dir, "events").select("event_type", "value")
        val med = base.groupBy("event_type")
          .agg(expr("percentile(value, 0.5D)").as("med"))
        val stats = base.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(max(col("med")).as("med"),
            expr("percentile(abs(value - med), 0.5D)").as("mad"))
        base.join(broadcast(stats), "event_type")
          .groupBy("event_type")
          .agg(round(max(col("med")), 6).as("med_r"),
            round(max(col("mad")), 6).as("mad_r"),
            sum(when(abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some(madOracle(""))),

    QSpec("anomaly_mad_approx",
      // The 100 TB form of anomaly_mad: the same three-pass median+MAD
      // plan shape with approx_percentile (GK sketch, accuracy 10000 —
      // a FIXED-SIZE agg buffer) in place of exact percentile's
      // distinct-value map. The driver-visible columns are the EXACT
      // med/MAD/outlier-count (hash-stable, DuckDB-reproducible) plus
      // within-band ASSERTIONS of the sketch path against them — the
      // agg_approx_distinct banding pattern: the key hash-checks that the
      // sketch lands inside the band at every SF the gates run, not just
      // that it produced a row. The production swap simply drops the exact
      // columns from each aggregate; the plan shape (broadcast stats back,
      // events never shuffled by value) is identical. Bands: med within 1%,
      // MAD within 2%, outlier count within max(5%, ±2) — GK at 1e-4 rank
      // error measures ≲0.1% on the fixtures, so each holds with ≥10×
      // margin. Raw sketch outputs stay out of the hashed surface (SURVEY
      // §5 rule 1).
      (s, dir) => {
        val base = t(s, dir, "events").select("event_type", "value")
        val med = base.groupBy("event_type").agg(
          expr("percentile(value, 0.5D)").as("med"),
          expr("approx_percentile(value, 0.5D, 10000)").as("amed"))
        val stats = base.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(max(col("med")).as("med"), max(col("amed")).as("amed"),
            expr("percentile(abs(value - med), 0.5D)").as("mad"),
            expr("approx_percentile(abs(value - amed), 0.5D, 10000)").as("amad"))
        base.join(broadcast(stats), "event_type")
          .groupBy("event_type")
          .agg(max(col("med")).as("med"), max(col("amed")).as("amed"),
            max(col("mad")).as("mad"), max(col("amad")).as("amad"),
            sum(when(abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"),
            sum(when(abs(col("value") - col("amed")) > lit(3) * lit(1.4826) * col("amad"), 1L)
              .otherwise(0L)).as("an_outliers"))
          .select(col("event_type"),
            round(col("med"), 6).as("med_r"),
            round(col("mad"), 6).as("mad_r"),
            col("n_outliers"),
            // band floors SCALE WITH THE DISTRIBUTION (mad is its natural
            // dispersion unit), not a fixed absolute: a group whose median
            // sits near zero would make a |med|-relative band collapse to
            // the absolute floor while GK's value error stays density-
            // dependent (rank error maps to a value gap ~ fractions of
            // mad) — the same fixed-premise class the r9 sf1 stress run
            // killed in agg_heavy_hitters. 1e-6 remains only as the
            // degenerate-group fallback (all-equal values ⇒ both sketches
            // return the exact member, difference 0).
            (abs(col("amed") - col("med")) <=
              greatest(lit(0.01) * abs(col("med")), lit(0.02) * col("mad"),
                lit(1e-6))).as("amed_within_1pct"),
            (abs(col("amad") - col("mad")) <=
              greatest(lit(0.02) * abs(col("mad")), lit(0.01) * abs(col("med")),
                lit(1e-6))).as("amad_within_2pct"),
            (abs(col("an_outliers") - col("n_outliers")).cast("double") <=
              greatest(col("n_outliers").cast("double") * lit(0.05), lit(2.0)))
              .as("outliers_within_5pct"))
          .orderBy("event_type")
      },
      Some(madOracle(""",
          |  TRUE AS amed_within_1pct, TRUE AS amad_within_2pct,
          |  TRUE AS outliers_within_5pct""".stripMargin))),

    QSpec("cdc_merge_upsert",
      // The lakehouse MERGE shape: apply a keyed change log latest-wins.
      // events is read as a CDC stream over user state — key user_id,
      // total order (ts, event_id), op DELETE when event_type = 'error',
      // else UPSERT carrying `value`. The surviving state is the max-seq
      // row per key unless that row is a delete. Latest-wins is an ARGMAX,
      // so it runs as max_by over the (ts, event_id) struct order in ONE
      // partial-aggregable groupBy beside the change count — map-side
      // combine collapses a hot key (a bot user producing half the log, the
      // skew fixture's exact shape) to one row per mapper before the
      // shuffle, where the previous row_number window shipped the hot key's
      // every event to one unsplittable task (r12 hot-key window audit).
      // Values pass through both engines untouched, so the compare is
      // bit-exact with no rounding step. This is how merge-on-read
      // compaction resolves at 100 TB: partial-combine by key, never a
      // self-join against the base.
      (s, dir) => {
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(
            max_by(
              struct(col("value"), col("event_id"), col("ts"), col("event_type")),
              struct(col("ts"), col("event_id"))).as("last"),
            count(lit(1)).as("n_changes"))
          .where(col("last.event_type") =!= "error")
          .select(col("user_id"), col("last.value").as("last_value"),
            col("last.event_id").as("last_event_id"),
            expr("last.ts div 1000000000").as("last_ts_sec"), col("n_changes"))
          .orderBy("user_id")
      },
      Some(
        """WITH c AS (SELECT user_id, value, event_id, event_type,
          |    epoch_ns(ts) AS tns,
          |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes,
          |    ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
          |  FROM events)
          |SELECT user_id, value AS last_value, event_id AS last_event_id,
          |  tns // 1000000000 AS last_ts_sec, n_changes
          |FROM c WHERE rn = 1 AND event_type <> 'error'
          |ORDER BY user_id""".stripMargin)),

    QSpec("scd2_intervals",
      // Slowly-changing-dimension type 2 from a change log — the
      // warehouse-modeling sibling of cdc_merge_upsert's latest-wins:
      // every change event becomes a version row with
      // [valid_from, valid_to) from the NEXT change of the same key
      // (lead window; null valid_to = the current version). The window
      // orders on (ts, event_id) so simultaneous events still produce a
      // total, engine-independent interval chain. One shuffle on the
      // entity key, parallel across keys at any history length; the
      // user_id < 20 cap bounds the DECLARED surface only — the build is
      // the same plan uncapped.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .where(col("user_id") < 20)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts").as("valid_from"),
            lead(col("ts"), 1).over(w).as("valid_to"))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy("user_id", "valid_from", "event_id")
      },
      Some(
        """SELECT user_id, event_id, event_type,
          |  epoch_ns(ts) AS valid_from,
          |  LEAD(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS valid_to,
          |  LEAD(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL AS is_current
          |FROM events WHERE user_id < 20
          |ORDER BY user_id, valid_from, event_id""".stripMargin)),

    QSpec("agg_hll_mergeable",
      // The MERGEABLE-sketch scale pattern: per-shard (event_type) HLL
      // sketches (lgK=14 Datasketches) union to the SAME registers as one
      // direct pass — the property that lets 1000 executors sketch their
      // partitions independently and a coordinator merge O(shards) byte
      // arrays instead of re-scanning 100 TB. Driver-visible columns are
      // the exact distinct counts plus ASSERTIONS (the agg_approx_distinct
      // discipline): merged estimate within 5% of exact, and merged
      // ESTIMATE == direct-build ESTIMATE. (Estimate equality, not register
      // bytes: Datasketches may back the two paths with different
      // estimators/target types, so serialized forms aren't comparable —
      // the user-visible contract is that sharded+merged answers match the
      // one-pass answer, which is exactly what this asserts.)
      (s, dir) => {
        val ev = t(s, dir, "events")
        val merged = ev.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("m"))
        ev.agg(
            countDistinct(col("user_id")).as("exact_users"),
            countDistinct(col("event_type")).as("n_shards"),
            expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("d"))
          .crossJoin(broadcast(merged))
          .select(col("exact_users"), col("n_shards"),
            (abs(col("m") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.05).as("merged_within_5pct"),
            (col("m") === col("d")).as("merged_equals_direct"))
      },
      Some(
        """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
          |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_shards,
          |  TRUE AS merged_within_5pct, TRUE AS merged_equals_direct
          |FROM events""".stripMargin)))
}
