package graft

import graft.catalog.TableRegistry
import graft.ext.{Curation, SimSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-5 operator surface — the training-data-pipeline hygiene set plus
  * the bucketed-storage co-located join:
  *
  *  - benchmark decontamination (n-gram overlap vs a held-out eval set),
  *  - PII detection/redaction (regex scrub with per-doc provenance flags),
  *  - sequential conversion funnel over the event stream,
  *  - length-bucketed dynamic batching (the loader-side counterpart of
  *    `pack_sequences`),
  *  - int8-quantized similarity top-k (the memory side of ANN at scale),
  *  - bucketed `saveAsTable` + co-located join (the storage layout the
  *    advisor's recommendations exist to produce).
  *
  * Oracle-determinism rules as in Queries.scala; event timestamps compare in
  * ms via the `ts div 1000000` idiom (see Queries3.tsMs) on both engines.
  */
object Queries5 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  private def tmpOut(tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${java.util.UUID.randomUUID}"

  /** The (session, fixture dir) whose bucketed-join tables are currently
    * materialized — guards the one-time layout write in
    * `join_bucketed_colocated` (single-slot: switching dirs rewrites). */
  private val bucketedJoinDir =
    new java.util.concurrent.atomic.AtomicReference[(SparkSession, String)]()

  /** ns→ms integer division (see Queries3.tsMs). */
  private val tsMs = "ts div 1000000"

  /** DuckDB w-token shingle list over `sp` (a string_split result), matching
    * [[Dedup.shingles]]: short docs collapse to one whole-text shingle. */
  private def duckShingles(w: Int): String = {
    val join = (1 to w).map(j => s"sp[i+${j - 1}]").mkString(" || ' ' || ")
    s"CASE WHEN len(sp) < $w THEN [text] ELSE list_transform(range(1, len(sp)-${w - 2}), i -> $join) END"
  }

  val specs: Seq[QSpec] = Seq(

    QSpec("decontaminate_ngram",
      // Benchmark decontamination: docs 0..19 stand in for a held-out eval
      // set; a training doc is contaminated when it shares ANY 5-token
      // shingle with the eval set. Scale shape: eval sets are tiny by
      // construction, so the distinct eval-shingle set broadcasts and the
      // check is a broadcast LEFT SEMI against a single scan of the corpus
      // — no shuffle grows with training-set size. (Contrast dedup, where
      // both sides are corpus-sized and LSH banding is needed.)
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val train = docs.where(col("doc_id") >= 20)
        val contaminated = Curation.contaminatedDocIds(docs,
            benchPred = col("doc_id") < 20, trainPred = col("doc_id") >= 20, w = 5)
          .withColumn("hit", lit(1L))
        train.join(contaminated, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
          .orderBy("source")
      },
      Some(
        s"""WITH sh AS (
           |  SELECT doc_id, unnest(${duckShingles(5)}) AS sh
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d
           |), bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
           |cont AS (SELECT DISTINCT doc_id FROM sh
           |  WHERE doc_id >= 20 AND sh IN (SELECT sh FROM bench))
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train,
           |  CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM cont)) AS BIGINT)
           |    AS n_contaminated
           |FROM documents WHERE doc_id >= 20
           |GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("decontaminate_embedding",
      // Semantic decontamination — the embedding-space complement of
      // decontaminate_ngram: a training vector is flagged when its MAX
      // cosine to ANY held-out eval vector (vec_id < 20) crosses the
      // threshold. Same scale shape as the n-gram form: the eval side is
      // tiny by construction, so it BROADCASTS (norms precomputed once)
      // and the corpus is scanned once — per-row work is |eval| codegen
      // VectorDots, shuffle only for the per-label rollup; nothing grows
      // with training-set size. Threshold 0.35 is fixture-calibrated (the
      // synthetic embeddings have no true near-dups across the eval split
      // — max observed cos 0.49; real deployments sit at 0.9+): it flags
      // a discriminating 2–10% per label at both verify SFs, so the
      // oracle checks the flagging arithmetic, not a constant zero.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val ev = broadcast(emb.where(col("vec_id") < 20)
          .select(SimSearch.asDouble(col("embedding")).as("ev"))
          .withColumn("en", SimSearch.norm(col("ev"))))
        val tr = emb.where(col("vec_id") >= 20)
          .select(col("vec_id"), col("label"),
            SimSearch.asDouble(col("embedding")).as("v"))
          .withColumn("vn", SimSearch.norm(col("v")))
        tr.crossJoin(ev)
          .select(col("vec_id"), col("label"),
            round(SimSearch.dot(col("v"), col("ev")) / (col("vn") * col("en")), 6)
              .as("cos"))
          .groupBy("vec_id", "label").agg(max("cos").as("max_cos"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("max_cos") >= 0.35, 1L).otherwise(0L)).as("n_flagged"))
          .orderBy("label")
      },
      Some(
        """WITH e AS (SELECT vec_id, label,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |ev AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
          |tr AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 20),
          |mc AS (SELECT tr.vec_id, tr.label,
          |    MAX(ROUND(list_sum(list_transform(range(1, len(tr.v)+1), i -> tr.v[i]*ev.v[i])) /
          |      (sqrt(list_sum(list_transform(tr.v, x -> x*x)))
          |        * sqrt(list_sum(list_transform(ev.v, x -> x*x)))), 6)) AS max_cos
          |  FROM tr, ev GROUP BY tr.vec_id, tr.label)
          |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_train,
          |  CAST(SUM(CASE WHEN max_cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
          |FROM mc GROUP BY label ORDER BY label""".stripMargin)),

    QSpec("pii_redact",
      // PII scrub: deterministic synthetic PII (emails on doc_id%3=0, phone
      // numbers on doc_id%5=0 — the fixture corpus is a clean word-bag) is
      // embedded, then detected (rlike flags) and redacted (global
      // regexp_replace) in one codegen scan pass — no shuffle, no UDF. The
      // flags make selectivity observable: only the injected rows redact.
      (s, dir) => {
        val emailRe = "[a-z0-9]+@[a-z0-9.]+"
        val phoneRe = "555-[0-9]{4}"
        val raw = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" contact u"), col("doc_id").cast("string"), lit("@mail.test")))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" call 555-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("raw"))
        raw.select(col("doc_id"),
            col("raw").rlike(emailRe).cast("int").as("had_email"),
            col("raw").rlike(phoneRe).cast("int").as("had_phone"),
            regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("clean"))
          .orderBy("doc_id")
      },
      Some(
        """WITH r AS (SELECT doc_id,
          |  text
          |    || CASE WHEN doc_id % 3 = 0
          |         THEN ' contact u' || doc_id || '@mail.test' ELSE '' END
          |    || CASE WHEN doc_id % 5 = 0
          |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |         ELSE '' END AS raw
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(regexp_matches(raw, '[a-z0-9]+@[a-z0-9.]+') AS INT) AS had_email,
          |  CAST(regexp_matches(raw, '555-[0-9]{4}') AS INT) AS had_phone,
          |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
          |    '555-[0-9]{4}', '<PHONE>', 'g') AS clean
          |FROM r ORDER BY doc_id""".stripMargin)),

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

    QSpec("length_bucket_batches",
      // Loader-side dynamic batching: docs bucketed by token length (floor
      // to 16) and numbered into fixed-size batches of 8 within each
      // (source, bucket) — similar-length sequences batch together, so
      // padding waste is bounded by the bucket width. Most corpora pile up
      // around the modal length, so a (source, bucket) partition is
      // data-proportional — the in-batch number is therefore a TWO-LEVEL
      // count (the vocab_growth_curve discipline): row_number inside
      // 8192-doc-id sub-buckets (bounded frames, parallel), plus a prefix
      // over the per-sub counts — corpus/8192 rows per (source, bucket) —
      // so no window ever sorts a hot length bucket on one task (r12
      // hot-key window audit).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok"))
          .withColumn("bucket", (expr("n_tok div 16") * 16).cast("int"))
          .withColumn("sub", expr("doc_id div 8192"))
        val inSub = Window.partitionBy("source", "bucket", "sub").orderBy("doc_id")
        val subPrefix = d.groupBy("source", "bucket", "sub")
          .agg(count(lit(1)).as("sc"))
          .withColumn("prev", coalesce(sum("sc").over(
            Window.partitionBy("source", "bucket").orderBy("sub")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("source", "bucket", "sub", "prev")
        d.withColumn("rn_in", row_number().over(inSub))
          .join(subPrefix, Seq("source", "bucket", "sub"))
          .withColumn("rn", col("prev") + col("rn_in"))
          .withColumn("batch_id", expr("(rn - 1) div 8").cast("int"))
          .groupBy("source", "bucket", "batch_id")
          .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tok"),
            sum("n_tok").as("sum_tok"))
          .orderBy("source", "bucket", "batch_id")
      },
      Some(
        """WITH d AS (SELECT doc_id, source,
          |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents),
          |b AS (SELECT *, CAST((n_tok // 16) * 16 AS INT) AS bucket FROM d),
          |r AS (SELECT *, row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id) AS rn FROM b)
          |SELECT source, bucket, CAST((rn - 1) // 8 AS INT) AS batch_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(n_tok) AS max_tok,
          |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
          |FROM r GROUP BY source, bucket, batch_id
          |ORDER BY source, bucket, batch_id""".stripMargin)),

    QSpec("simsearch_quant",
      // int8-quantized brute-force top-k: per-vector symmetric scales cancel
      // out of the cosine, so both engines evaluate exact small-integer
      // sums — bit-reproducible despite the lossy codes. Recall vs the
      // exact topK is asserted in ExtSpec.
      (s, dir) => SimSearch.quantizedTopK(s, t(s, dir, "embeddings"),
        queryVecId = 0, k = 10),
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
          |q AS (SELECT vec_id, CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0)
          |    ELSE list_transform(v, x -> floor(x / (ma / 127) + 0.5)) END AS q FROM m),
          |n AS (SELECT vec_id, q, sqrt(list_sum(list_transform(q, x -> x*x))) AS qn FROM q),
          |qq AS (SELECT q AS qv, qn AS qvn FROM n WHERE vec_id = 0)
          |SELECT vec_id,
          |  ROUND(list_sum(list_transform(range(1, len(q)+1), i -> q[i]*qv[i])) / (qn*qvn), 6) AS qcos
          |FROM n, qq WHERE vec_id <> 0
          |ORDER BY qcos DESC, vec_id LIMIT 10""".stripMargin)),

    QSpec("knn_join",
      // k-NN JOIN: 8 probe vectors each ranked against the disjoint corpus
      // in one pass — broadcast probes, codegen VectorDot cosines, and the
      // bounded-heap TopKRows aggregate for per-probe top-3 (map-side
      // partial heaps; the exchange carries O(probes × partitions × k)
      // rows, no Sort operator). The oracle replays it with a rank window.
      (s, dir) => SimSearch.knnJoin(s, t(s, dir, "embeddings"),
        nQueries = 8, k = 3),
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
          |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
          |c AS (SELECT vec_id, v, nrm FROM n WHERE vec_id >= 8),
          |p AS (SELECT q_id, vec_id,
          |  ROUND(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i])) / (nrm*qn), 6) AS cos
          |  FROM c, q),
          |r AS (SELECT q_id, vec_id, cos, CAST(ROW_NUMBER() OVER (
          |    PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM p)
          |SELECT q_id, rank, vec_id, cos FROM r WHERE rank <= 3
          |ORDER BY q_id, rank""".stripMargin)),

    QSpec("doc_lm_quality",
      // Unigram-LM quality scoring (the cheap stand-in for perplexity
      // filtering): mean corpus probability of each doc's tokens. Integer
      // sums end-to-end, one final division — bit-reproducible where a
      // log-space perplexity would drift across libm implementations.
      (s, dir) => graft.ext.TextAnalysis.unigramLmScore(t(s, dir, "documents")),
      Some(
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
          |tot AS (SELECT SUM(cnt) AS n FROM tc),
          |per AS (SELECT doc_id, SUM(cnt) AS s, COUNT(*) AS n_tok
          |  FROM toks JOIN tc USING (tok) GROUP BY doc_id)
          |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
          |  (CAST(((2000000000::HUGEINT * s + n_tok * n) // (2::HUGEINT * n_tok * n)) AS DOUBLE) / 1000000000) AS lm_score
          |FROM per, tot ORDER BY doc_id""".stripMargin)),

    QSpec("join_bucketed_colocated",
      // The storage layout the advisor's scripts exist to produce, driven
      // end-to-end: both fact and dim written as 8-bucket tables on the
      // join key (`bucketBy` + `sortBy` + saveAsTable), then joined and
      // rolled up. With matching bucket counts the join needs NO exchange
      // on either side — PlanSpec asserts the shuffle-free plan (with
      // broadcast disabled; under AQE at fixture scale the small side may
      // broadcast instead, which is also shuffle-free). The oracle proves
      // the bucketed round trip is layout-only.
      (s, dir) => {
        // bucketing is a ONE-TIME layout investment (exactly what the
        // advisor's scripts produce); materialize it once per (session,
        // fixture dir) — same contract as Memo.frame's sketch passes — so the
        // steady state this key measures is the exchange-free JOIN, not a
        // repeated table rewrite. Switching dirs re-materializes.
        Queries5.synchronized {
          if (bucketedJoinDir.get() != ((s, dir))) {
            s.sql("DROP TABLE IF EXISTS graft_bj_orders")
            s.sql("DROP TABLE IF EXISTS graft_bj_customer")
            t(s, dir, "orders").write.mode("overwrite")
              .bucketBy(8, "o_custkey").sortBy("o_custkey")
              .option("path", tmpOut("bj_orders")).saveAsTable("graft_bj_orders")
            t(s, dir, "customer").write.mode("overwrite")
              .bucketBy(8, "c_custkey").sortBy("c_custkey")
              .option("path", tmpOut("bj_customer")).saveAsTable("graft_bj_customer")
            bucketedJoinDir.set((s, dir))
          }
        }
        s.table("graft_bj_orders")
          .join(s.table("graft_bj_customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
              .as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some(
        """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)))
}
