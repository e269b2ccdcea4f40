package graft
package surface

import graft.ext.{ExactMath, TextAnalysis}
import graft.streaming.{StreamingAdmission, StreamingUsage}
import org.apache.spark.sql.functions._

/** Batch twins of the streaming operators: sessionization, tumbling and
  * sliding usage windows, watermarked dedup, the stream-stream interval
  * join and the admission gate. The streaming paths themselves are checked
  * against these twins in StreamingSpec.
  */
object StreamKeys {

  val specs: Seq[QSpec] = Seq(

    QSpec("sessionize_batch",
      // gap-based sessionization (lag → break flag → running-sum session id
      // → group); the streaming flatMapGroupsWithState twin is verified
      // equivalent in StreamingSpec
      (s, dir) => StreamingUsage.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30),
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
          |l AS (SELECT user_id, event_id, tus,
          |  LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
          |b AS (SELECT user_id, tus,
          |  CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
          |s AS (SELECT user_id, tus,
          |  SUM(brk) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid FROM b)
          |SELECT user_id, CAST(MIN(tus) // 1000000 AS BIGINT) AS session_start,
          |  CAST(MAX(tus) // 1000000 AS BIGINT) AS session_end,
          |  CAST(COUNT(*) AS BIGINT) AS n_events
          |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    QSpec("stream_usage_window",
      // X5 batch twin of the streaming hourly usage windows (streaming path
      // itself is exercised in StreamingSpec with a memory source).
      (s, dir) => StreamingUsage.batchTwin(t(s, dir, "events")),
      Some(
        """SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS window_start,
          |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    QSpec("stream_sliding_window",
      // X5 batch twin of SLIDING windows (1 h window / 15 min slide — each
      // event in 4 overlapping windows). The oracle replays Spark's window
      // replication as an explicit slide-index cross join over epoch-µs
      // integer arithmetic.
      (s, dir) => StreamingUsage.slidingBatchTwin(t(s, dir, "events")),
      Some(
        """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
          |w AS (SELECT event_type,
          |    ((tus // 900000000) - r.i) * 900000000 AS win_us
          |  FROM e CROSS JOIN range(0, 4) r(i)
          |  WHERE tus >= ((tus // 900000000) - r.i) * 900000000
          |    AND tus < ((tus // 900000000) - r.i) * 900000000 + 3600000000)
          |SELECT win_us // 1000000 AS window_start, event_type,
          |  CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

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

    QSpec("event_pair_join",
      // Batch twin of the watermarked stream-stream interval join
      // (StreamingUsage.pairJoinStream): click→purchase pairs for the same
      // user within ±30 min, summarized per user. The stream version bounds
      // state with watermarks + the same interval predicate; this twin is
      // what the streaming spec asserts equality against. Equi-key on
      // user_id means the interval predicate is evaluated join-locally — no
      // cross product.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), expr(tsMs).as("c_ms"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), expr(tsMs).as("p_ms"))
        clicks.join(purchases,
            col("user_id") === col("p_user") &&
              col("p_ms") >= col("c_ms") - lit(30L * 60 * 1000) &&
              col("p_ms") <= col("c_ms") + lit(30L * 60 * 1000))
          .groupBy("user_id")
          .agg(count(lit(1)).as("pairs"),
            min(abs(col("p_ms") - col("c_ms"))).as("min_gap_ms"))
          .orderBy("user_id")
      },
      Some(
        """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000000 AS c_ms FROM events
          |    WHERE event_type = 'click'),
          |p AS (SELECT user_id, epoch_ns(ts) // 1000000 AS p_ms FROM events
          |    WHERE event_type = 'purchase')
          |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS pairs,
          |  CAST(MIN(ABS(p.p_ms - c.c_ms)) AS BIGINT) AS min_gap_ms
          |FROM c JOIN p ON p.user_id = c.user_id
          |  AND p.p_ms BETWEEN c.c_ms - 1800000 AND c.c_ms + 1800000
          |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),

    QSpec("admission_gate",
      // X67 batch twin — per-source admission stats under the production
      // screening semantics: a doc is ADMITTED iff all four Gopher rules
      // pass (quality_gopher_rules' exact predicates, shared via
      // TextAnalysis.gopherRules) AND the X62 sequential redaction chain
      // finds zero PII. The driver fixture plants no PII, so n_pii_hit = 0
      // and admitted == quality-pass is the honest corpus answer; the
      // planted-PII path and the streaming face's bounded-state merge are
      // pinned in Queries15Spec / StreamingSpec.
      (s, dir) => StreamingAdmission.batchTwin(t(s, dir, "documents")),
      Some(
        s"""WITH s1 AS (SELECT source, text, n_chars,
           |    len(regexp_extract_all(text, '${TextAnalysis.emailPat}')) AS n_email,
           |    regexp_replace(text, '${TextAnalysis.emailPat}', '<EMAIL>', 'g') AS t1
           |  FROM documents),
           |s2 AS (SELECT source, text, n_chars, n_email,
           |    len(regexp_extract_all(t1, '${TextAnalysis.ipv4Pat}')) AS n_ipv4,
           |    regexp_replace(t1, '${TextAnalysis.ipv4Pat}', '<IP>', 'g') AS t2
           |  FROM s1),
           |s3 AS (SELECT source, text, n_chars, n_email, n_ipv4,
           |    len(regexp_extract_all(t2, '${TextAnalysis.phonePat}')) AS n_phone
           |  FROM s2),
           |m AS (SELECT source, n_email + n_ipv4 + n_phone AS n_red,
           |    string_split(text, ' ') AS sp, n_chars FROM s3),
           |r AS (SELECT source, n_red,
           |    $gopherCounts
           |  FROM m),
           |q AS (SELECT source, n_red,
           |    CASE WHEN n BETWEEN 20 AND 90 AND ch >= 3 * n AND ch <= 5 * n
           |      AND st >= 2 AND (tbi - dbi) * 20 <= tbi THEN 1 ELSE 0 END AS qp
           |  FROM r)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_red) AS BIGINT) AS n_redactions,
           |  CAST(SUM(1 - qp) AS BIGINT) AS n_quality_fail,
           |  CAST(COUNT(*) FILTER (WHERE n_red > 0) AS BIGINT) AS n_pii_hit,
           |  CAST(SUM(CASE WHEN qp = 1 AND n_red = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           |  ${ExactMath.ratioRoundedSql(
             "SUM(CASE WHEN qp = 1 AND n_red = 0 THEN 1 ELSE 0 END)",
             "COUNT(*)", 6)} AS admit_frac
           |FROM q GROUP BY source ORDER BY source""".stripMargin)))
}
