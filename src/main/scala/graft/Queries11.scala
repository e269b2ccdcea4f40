package graft

import graft.catalog.TableRegistry
import graft.ext.{ExactMath, SimSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-11 — corpus-scale curation operators beyond the batch-10 learned
  * tier: cluster-partitioned semantic dedup (the SemDeDup shape: Abbas et
  * al. 2023, arXiv:2303.09540), clustering observability, DSIR-style
  * importance selection (Xie et al. 2023, arXiv:2302.03169), bigram-LM
  * perplexity scoring (the CCNet/KenLM filter shape), and deterministic
  * curriculum scheduling.
  *
  * Numeric discipline (the batch-10 lessons, applied throughout):
  * - `ln` enters only on ratios of INTEGER-exact products whose operands
  *   are identical longs on every engine — the input double is the same
  *   IEEE value everywhere, and each ln is rounded to integer milli-units
  *   PER TYPE before any summation, so per-doc totals are integer sums
  *   with no float-summation-order exposure at all.
  * - every ratio surfaces through [[ExactMath.ratioRounded]] (HALF_UP in
  *   exact integer arithmetic).
  * - ordering keys are integers or rounded values (never raw doubles), so
  *   head selection cannot flip on last-ulp jitter.
  */
object Queries11 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableRegistry.table(s, dir, name)

  /** The per-doc bigram explode (doc_id, bg), memoized per (session, dir):
    * it feeds doc_ppl_bigram's count chain (c12 → c1 → V, with c12 itself
    * read twice inside the weight frame) AND its doc-scoring probe join,
    * and heldout_ppl reuses the SAME frame (its is_train flag derives from
    * doc_id post-hoc). Unmaterialized, Catalyst inlined the corpus explode
    * three times per plan — measured 4.5 s → 1.0 s at sf1 for
    * doc_ppl_bigram alone (the memoizedSignatures double-compute class). */
  private def pplBigramsMemo(s: SparkSession, dir: String): DataFrame =
    Memo.frame(s, Some(dir), "ppl_bigrams") {
      // opt-r15: word bigrams ARE the 2-shingle kernel output for docs of
      // ≥ 2 tokens (the guard excludes the kernel's whole-text collapse),
      // so the interpreted transform+concat runs as one codegen pass
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(graft.ext.Dedup.shingles(col("text"), 2)).as("bg"))
    }

  /** The [[SimSearch.assignClusters]] frame at corpus-scaled k, memoized
    * seeds per (session, fixture dir). */
  private def assigned(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    SimSearch.assignClusters(emb, SimSearch.scaledK(emb, Some(dir)), Some(dir))
  }

  /** Shared oracle CTE chain: nonzero-norm vectors, the scaled-k centroid
    * head, and the nearest-centroid assignment (same −2·v·c + ‖c‖² ranking
    * and low-index tie-break as the engine's min-struct argmin), carrying the assigned
    * minimum m for distance math. Ends after `asg` — callers append. */
  private[graft] val assignCtes: String =
    """WITH e AS (SELECT vec_id, v FROM (
      |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |    FROM embeddings) raw
      |  WHERE list_sum(list_transform(v, x -> x*x)) > 0),
      |kk AS (SELECT GREATEST(8, COUNT(*) // 256) AS k FROM embeddings),
      |cent AS (SELECT ci, cv, c2 FROM (
      |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv,
      |      list_sum(list_transform(v, x -> x*x)) AS c2 FROM e) c, kk
      |  WHERE c.ci < kk.k),
      |asg AS (SELECT vec_id, v, ci AS cluster, m FROM (
      |    SELECT e.vec_id, e.v, cent.ci,
      |      list_sum(list_transform(range(len(e.v)), i -> e.v[i+1]*cent.cv[i+1])) * -2.0 + cent.c2 AS m,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(len(e.v)), i -> e.v[i+1]*cent.cv[i+1])) * -2.0 + cent.c2,
      |        cent.ci) AS rk
      |    FROM e, cent) r WHERE rk = 1)""".stripMargin

  def specs: Seq[QSpec] = Seq(

    QSpec("dedup_semantic",
      // SemDeDup (cluster-then-dedup): k-means-assign every embedding to
      // one of k = max(8, n/256) seed centroids, then detect near-dups
      // (cos ≥ 0.9, the dedup_embedding_cosine threshold) ONLY within a
      // cluster, dropping the higher vec_id of each pair (the keep-first
      // policy every dedup key uses). Scale shape: k grows with the corpus
      // so expected cluster size stays ~256 — pairwise work is O(n · 256)
      // total however large n gets, vs the exact key's documented O(cap²);
      // the self-join shuffles on the cluster id, bodies ride it once.
      // Surface = per-cluster population / dropped / kept, all
      // integer-exact. The driver fixture plants NO semantic near-dups
      // (max pairwise cos ≈ 0.6 at every SF), so n_dup = 0 is the honest
      // corpus answer here — the oracle still pins the scaled-k assignment
      // populations, and the drop path itself is pinned by Queries11Spec's
      // planted-duplicate case.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        SimSearch.semanticDedup(emb, SimSearch.scaledK(emb, Some(dir)),
          threshold = 0.9, cacheKey = Some(dir))
      },
      Some(
        s"""$assignCtes,
           |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    ROUND(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])) /
           |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
           |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
           |d AS (SELECT DISTINCT b_id FROM p WHERE cos >= 0.9)
           |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |  CAST(SUM(CASE WHEN d.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           |  CAST(COUNT(*) - SUM(CASE WHEN d.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM asg LEFT JOIN d ON asg.vec_id = d.b_id
           |GROUP BY cluster ORDER BY cluster""".stripMargin)),

    QSpec("cluster_assign_stats",
      // Clustering observability for the SemDeDup index: per-cluster
      // population and mean squared distance to the assigned centroid.
      // ‖v−c*‖² = ‖v‖² + min(−2·v·c + ‖c‖²) — the min is the SAME
      // per-centroid doubles the assignment fold ranks, so distance and
      // assignment can never disagree. Each distance is rounded to integer
      // MICROS before aggregation (per-row, order-free), the cluster sums
      // are exact integer sums, and the mean is ExactMath — no
      // float-summation-order exposure. One scan + one O(k)-group shuffle.
      (s, dir) => assigned(s, dir)
        .withColumn("d2_micros",
          round((SimSearch.dot(col("v"), col("v")) + col("m")) * lit(1000000.0d), 0)
            .cast("long"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          sum("d2_micros").as("inertia_micros"))
        .select(col("cluster"), col("n_vecs"), col("inertia_micros"),
          ExactMath.ratioRounded(col("inertia_micros"),
            col("n_vecs") * lit(1000000L), 6).as("mean_dist2"))
        .orderBy("cluster"),
      Some(
        s"""$assignCtes,
           |d AS (SELECT cluster,
           |    CAST(ROUND((list_sum(list_transform(v, x -> x*x)) + m) * 1000000.0, 0) AS BIGINT) AS d2_micros
           |  FROM asg),
           |g AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |    CAST(SUM(d2_micros) AS BIGINT) AS inertia_micros
           |  FROM d GROUP BY cluster)
           |SELECT cluster, n_vecs, inertia_micros,
           |  ${ExactMath.ratioRoundedSql("inertia_micros", "n_vecs * 1000000", 6)} AS mean_dist2
           |FROM g ORDER BY cluster""".stripMargin)),

    QSpec("select_dsir",
      // DSIR-shaped importance selection: score every CANDIDATE doc
      // (sources src10+) by how much more likely its tokens are under the
      // TARGET unigram distribution (sources src0-9, the drift_psi split)
      // than under the candidate distribution — per-token log ratio of
      // Laplace-smoothed probabilities, summed per doc; top-20 by score.
      // Determinism: the ln argument is a ratio of integer-exact long
      // products ((2c_t+1)(2N_c+V)) / ((2c_c+1)(2N_t+V)) — identical IEEE
      // input everywhere — rounded to integer MILLI-units per token TYPE
      // before the per-doc sum, so doc scores are exact integers and the
      // top-20 order (score desc, doc_id) cannot jitter. Scale shape: two
      // corpus scans (type counts; doc join on the token hash), weight
      // frame is vocabulary-sized, head is TakeOrdered. Long products hold
      // to ~10^18 token corpora; beyond that lift them to decimal(38,0).
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("doc_id"), col("source"),
          (substring(col("source"), 4, 10).cast("int") < 10).as("is_ref"),
          explode(split(col("text"), " ")).as("tok"))
        // memoized + persisted: the totals scalar and the weight frame
        // both derive from this vocabulary-sized count — without the cache
        // AQE may or may not reuse the underlying corpus scan between them
        val tc = Memo.frame(s, Some(dir), "dsirtc") {
          toks.groupBy("tok").agg(
            sum(when(col("is_ref"), 1L).otherwise(0L)).as("ct"),
            sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
        }
        val tot = tc.agg(sum("ct").as("nt"), sum("cc").as("nc"),
          count(lit(1)).as("vsz"))
        val w = tc.crossJoin(broadcast(tot)).select(col("tok"),
          round(log(((col("ct") * 2 + 1) * (col("nc") * 2 + col("vsz"))).cast("double") /
            ((col("cc") * 2 + 1) * (col("nt") * 2 + col("vsz"))).cast("double")) * 1000.0, 0)
            .cast("long").as("milli"))
        toks.where(!col("is_ref"))
          .join(w, "tok")
          .groupBy("doc_id")
          .agg(min("source").as("source"), count(lit(1)).as("n_tok"),
            sum("milli").as("score_milli"))
          .orderBy(col("score_milli").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("source"), col("n_tok"), col("score_milli"),
            ExactMath.ratioRounded(col("score_milli"), col("n_tok"), 3).as("avg_milli"))
      },
      Some(
        s"""WITH toks AS (SELECT doc_id, source,
           |    CAST(source[4:] AS INT) < 10 AS is_ref,
           |    unnest(string_split(text, ' ')) AS tok FROM documents),
           |tc AS (SELECT tok,
           |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
           |  FROM toks GROUP BY tok),
           |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cc) AS BIGINT) AS nc,
           |    CAST(COUNT(*) AS BIGINT) AS vsz FROM tc),
           |w AS (SELECT tok,
           |    CAST(ROUND(ln(CAST((ct*2 + 1) * (nc*2 + vsz) AS DOUBLE) /
           |      CAST((cc*2 + 1) * (nt*2 + vsz) AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM tc, tot),
           |d AS (SELECT doc_id, MIN(source) AS source,
           |    CAST(COUNT(*) AS BIGINT) AS n_tok,
           |    CAST(SUM(milli) AS BIGINT) AS score_milli
           |  FROM toks JOIN w USING (tok) WHERE NOT is_ref GROUP BY doc_id)
           |SELECT doc_id, source, n_tok, score_milli,
           |  ${ExactMath.ratioRoundedSql("score_milli", "n_tok", 3)} AS avg_milli
           |FROM d ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin)),

    QSpec("doc_ppl_bigram",
      // Bigram-LM negative log-likelihood per doc (the CCNet/KenLM
      // perplexity-filter shape, one order up from doc_lm_quality's
      // unigram): train bigram counts on the corpus itself, score each doc
      // by Σ −ln p(w2|w1) with p = (2c₁₂+1)/(2c₁+V) Laplace-smoothed over
      // V = distinct context types. Same integer-milli discipline as
      // select_dsir: each bigram TYPE's −ln p is rounded to milli-units
      // once (identical IEEE input from integer-exact longs), per-doc
      // totals are exact integer sums, the mean is ExactMath. Scale shape:
      // c₁ and V derive FROM the bigram-type frame (no extra corpus pass) —
      // one bigram-count shuffle + one doc-join shuffle, both on the
      // bigram string key.
      (s, dir) => {
        val bi = pplBigramsMemo(s, dir)
        val c12 = Memo.frame(s, Some(dir), "ppl_bigram_types") {
          bi.groupBy("bg").agg(count(lit(1)).as("c12"))
        }
        val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum("c12").as("c1"))
        val v = c1.agg(count(lit(1)).as("vsz"))
        val w = c12.withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(c1, "w1").crossJoin(broadcast(v))
          .select(col("bg"),
            round(log((col("c1") * 2 + col("vsz")).cast("double") /
              (col("c12") * 2 + 1).cast("double")) * 1000.0, 0)
              .cast("long").as("milli"))
        bi.join(w, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("milli").as("nll_milli"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_milli"),
            ExactMath.ratioRounded(col("nll_milli"), col("n_bigrams"), 3).as("avg_milli"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           |bi AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS bg
           |  FROM sp WHERE len(sp) >= 2),
           |c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY bg),
           |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           |  FROM c12 GROUP BY 1),
           |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM c1),
           |w AS (SELECT bg,
           |    CAST(ROUND(ln(CAST(c1.c1*2 + vsz AS DOUBLE) /
           |      CAST(c12.c12*2 + 1 AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1, v),
           |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(milli) AS BIGINT) AS nll_milli
           |  FROM bi JOIN w USING (bg) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, nll_milli,
           |  ${ExactMath.ratioRoundedSql("nll_milli", "n_bigrams", 3)} AS avg_milli
           |FROM d ORDER BY doc_id""".stripMargin)),

    QSpec("curriculum_order",
      // Deterministic curriculum schedule: rank docs within each source by
      // length (shortest-first — the classic easy-to-hard proxy), then
      // interleave sources round-robin by (rank, source) so every training
      // prefix mixes all sources at matched difficulty. Surface = the
      // first 50 schedule positions. Scale shape: position 50 of the
      // (rank, source) interleave needs per-source rank ≤ 50, so the
      // per-source rank comes from the bounded-heap TopKRows aggregate
      // (≤ 50 rows per source per MAP partition ride the shuffle) — never
      // a row_number window over the corpus partitioned by the ~20-value
      // source key, which would sort a source's every doc on one
      // unsplittable task (r12 hot-key window audit). The global
      // interleave order is only MATERIALIZED for the constant-size head
      // (TakeOrdered 50, then a 50-row window for positions) — at full
      // scale the schedule is a sorted WRITE on the same (rn, source) key.
      (s, dir) => {
        import graft.functions.TopKRows.topKRows
        // heap order is (first field DESC, rest ASC): negate n_chars for
        // shortest-first; doc_id breaks length ties ascending
        val r = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .groupBy("source")
          .agg(topKRows(struct((-col("n_chars")).as("neg"), col("doc_id"),
            col("n_chars")), 50).as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(col("col.doc_id").as("doc_id"), col("source"),
            col("col.n_chars").as("n_chars"), (col("pos") + 1).cast("long").as("rn"))
        r.orderBy(col("rn"), col("source")).limit(50)
          .withColumn("position",
            row_number().over(Window.orderBy(col("rn"), col("source"))).cast("long"))
          .select(col("position"), col("doc_id"), col("source"),
            col("n_chars"), col("rn"))
          .orderBy("position")
      },
      Some(
        """WITH r AS (SELECT doc_id, source, n_chars,
          |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn
          |  FROM documents),
          |h AS (SELECT doc_id, source, n_chars, rn FROM r ORDER BY rn, source LIMIT 50)
          |SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS position,
          |  doc_id, source, n_chars, rn
          |FROM h ORDER BY position""".stripMargin)),

    QSpec("mine_hard_negatives",
      // Hard-negative mining for contrastive embedding training: for each
      // of the first 8 anchors, the 5 most-similar vectors with a
      // DIFFERENT label (the boundary-hugging negatives a triplet/InfoNCE
      // loss wants). Anchors broadcast, corpus scans once, label
      // inequality applied before any distance math, bounded-heap TopKRows
      // rollup — no window over the corpus, no shuffle of vector bodies.
      // Ranking on (rounded cos desc, vec_id) is jitter-proof.
      (s, dir) => SimSearch.hardNegatives(s, t(s, dir, "embeddings"),
        nQueries = 8, k = 5),
      Some(
        """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings),
          |n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
          |  FROM e WHERE list_sum(list_transform(v, x -> x*x)) > 0),
          |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
          |  FROM n WHERE vec_id < 8),
          |p AS (SELECT q_id, q_label, vec_id, label AS neg_label,
          |    ROUND(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i])) / (nrm*qn), 6) AS cos
          |  FROM n, q WHERE vec_id >= 8 AND label <> q_label),
          |r AS (SELECT q_id, q_label, vec_id, neg_label, cos,
          |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rank
          |  FROM p)
          |SELECT q_id, q_label, rank, vec_id, neg_label, cos
          |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    QSpec("sample_weight_systematic",
      // Deterministic weighted systematic sampling (the reproducible
      // importance-sampling pass a corpus build wants instead of RNG):
      // within each source, walk docs in id order accumulating weight
      // (n_chars); a doc is selected exactly when its weight interval
      // crosses a multiple of step = max(1, source_total div 16) — docs
      // are picked proportionally to weight, ~16 per source, same picks on
      // every engine and every re-run; all arithmetic integer-exact.
      // Output is O(sources × 16) at ANY corpus size. The running sum is a
      // TWO-LEVEL prefix (the vocab_growth_curve discipline): per-doc
      // weights window inside 8192-doc-id buckets (parallel across
      // buckets), only the per-bucket totals — corpus/8192 rows — prefix
      // within a source, and source totals ride a broadcast groupBy — so
      // no window ever sees a source-proportional row count (source is a
      // ~20-value key: the unsplittable-partition trap, r12 hot-key
      // window audit).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("bkt", expr("doc_id div 8192"))
        val inBkt = Window.partitionBy("source", "bkt").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bktPrefix = d.groupBy("source", "bkt")
          .agg(sum("n_chars").as("bt"))
          .withColumn("prev", coalesce(sum("bt").over(
            Window.partitionBy("source").orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("source", "bkt", "prev")
        val totals = d.groupBy("source").agg(sum("n_chars").as("src_total"))
        d.withColumn("cum_in", sum("n_chars").over(inBkt))
          .join(bktPrefix, Seq("source", "bkt"))
          .join(broadcast(totals), "source")
          .withColumn("cum_w", col("prev") + col("cum_in"))
          .withColumn("step", greatest(lit(1L), expr("src_total div 16")))
          .where(expr("cum_w div step") > expr("(cum_w - n_chars) div step"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("cum_w"), col("step"))
          .orderBy("source", "doc_id")
      },
      Some(
        """WITH w AS (SELECT doc_id, source, n_chars,
          |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w,
          |    CAST(GREATEST(1, SUM(n_chars) OVER (PARTITION BY source) // 16) AS BIGINT) AS step
          |  FROM documents)
          |SELECT doc_id, source, n_chars, cum_w, step
          |FROM w WHERE cum_w // step > (cum_w - n_chars) // step
          |ORDER BY source, doc_id""".stripMargin)),

    QSpec("privacy_k_anon_report",
      // k-anonymity governance report over the quasi-identifier
      // (lang, source, 100-char length band): per language, how many QI
      // groups exist, how many fall under k = 5 members, and what share
      // of documents sits in those re-identifiable groups. Two grouped
      // aggregations (QI groups, then language rollup), O(groups) rows
      // after the first — the standard privacy screen before corpus
      // release, integer-exact throughout.
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("band"))
        .agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum("n").as("n_docs"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_docs_at_risk"))
        .select(col("lang"), col("n_groups"), col("n_small_groups"),
          col("n_docs"), col("n_docs_at_risk"),
          ExactMath.ratioRounded(col("n_docs_at_risk"), col("n_docs"), 6)
            .as("risk_share"))
        .orderBy("lang"),
      Some(
        s"""WITH g AS (SELECT lang, source, n_chars // 100 AS band,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM documents GROUP BY 1, 2, 3)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_groups,
           |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           |  CAST(SUM(n) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
           |  ${ExactMath.ratioRoundedSql("SUM(CASE WHEN n < 5 THEN n ELSE 0 END)", "SUM(n)", 6)} AS risk_share
           |FROM g GROUP BY lang ORDER BY lang""".stripMargin)),

    QSpec("simsearch_pq",
      // Product-quantization retrieval (the IVF-PQ compression half): 8×8
      // subspaces, 4 codes each (first-4 seed slices), asymmetric-distance
      // top-10 vs query vec 0. Codebook and query tables are plan-time
      // literals rounded to integer micros, so scoring is 8 exact long
      // lookups per row after 32 8-dim codegen dots for encoding — one
      // scan, no shuffle, TakeOrdered head. The oracle replays the
      // sub-assignment with the engine's own −2·v·c + ‖c‖² ranking and the
      // same micro-rounded tables.
      (s, dir) => SimSearch.pqTopK(s, t(s, dir, "embeddings"),
        queryVecId = 0, k = 10, cacheKey = Some(dir)),
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |nz AS (SELECT vec_id, v FROM e WHERE list_sum(list_transform(v, x -> x*x)) > 0),
          |seed AS (SELECT ci, v FROM (
          |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v FROM nz) s
          |  WHERE ci < 4),
          |subm AS (SELECT r.s, seed.ci, seed.v[r.s*8+1 : r.s*8+8] AS cs,
          |    list_sum(list_transform(seed.v[r.s*8+1 : r.s*8+8], x -> x*x)) AS c2
          |  FROM seed CROSS JOIN range(8) r(s)),
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          |qt AS (SELECT s, ci,
          |    CAST(ROUND(list_sum(list_transform(range(8), i -> qv[s*8+i+1] * cs[i+1])) * 1000000.0, 0) AS BIGINT) AS qdot_m,
          |    CAST(ROUND(c2 * 1000000.0, 0) AS BIGINT) AS c2_m
          |  FROM subm, q),
          |qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x*x))) AS qn FROM q),
          |enc AS (SELECT vec_id, s, ci AS code FROM (
          |    SELECT n.vec_id, sm.s, sm.ci,
          |      row_number() OVER (PARTITION BY n.vec_id, sm.s ORDER BY
          |        list_sum(list_transform(range(8), i -> n.v[sm.s*8+i+1] * sm.cs[i+1])) * -2.0 + sm.c2,
          |        sm.ci) AS rk
          |    FROM nz n CROSS JOIN subm sm WHERE n.vec_id <> 0) z WHERE rk = 1),
          |agg AS (SELECT vec_id, CAST(SUM(qt.qdot_m) AS BIGINT) AS am,
          |    CAST(SUM(qt.c2_m) AS BIGINT) AS rm
          |  FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.ci
          |  GROUP BY vec_id)
          |SELECT vec_id,
          |  ROUND((CAST(am AS DOUBLE)/1000000.0) / (sqrt(CAST(rm AS DOUBLE)/1000000.0) * qn.qn), 6) AS pq_cos
          |FROM agg, qn WHERE rm > 0
          |ORDER BY pq_cos DESC, vec_id LIMIT 10""".stripMargin)),

    QSpec("source_token_entropy",
      // Corpus-composition dial: per-source unigram entropy (diversity)
      // and KL divergence to the corpus-wide distribution (how atypical a
      // source's language is) — the two numbers a mixture designer reads
      // before setting weights. Same integer-milli discipline as
      // select_dsir: each token TYPE's ln is taken on a ratio of
      // integer-exact long products, rounded to milli-nats per type, then
      // per-source totals are exact integer Σ c·milli, surfaced through
      // ExactMath. Scale shape: one token-count shuffle on (source, tok),
      // a vocabulary-sized corpus-count join, O(sources) output.
      (s, dir) => {
        // memoized + persisted: three consumers below (per-source totals,
        // corpus counts, the scored join) read this vocabulary-sized frame
        val cst = Memo.frame(s, Some(dir), "srctokcnt") {
          t(s, dir, "documents")
            .select(col("source"), explode(split(col("text"), " ")).as("tok"))
            .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        }
        val totals = cst.groupBy("source").agg(sum("c").as("n_s"),
          count(lit(1)).as("n_types"))
        val corpus = cst.groupBy("tok").agg(sum("c").as("cc"))
        val tot = corpus.agg(sum("cc").as("n_c"))
        cst.join(corpus, "tok").join(broadcast(totals), "source")
          .crossJoin(broadcast(tot))
          .select(col("source"), col("n_s"), col("n_types"), col("c"),
            round(log(col("n_s").cast("double") / col("c").cast("double")) * 1000.0, 0)
              .cast("long").as("h_milli"),
            round(log((col("c") * col("n_c")).cast("double") /
              (col("cc") * col("n_s")).cast("double")) * 1000.0, 0)
              .cast("long").as("kl_milli"))
          .groupBy("source")
          .agg(min("n_s").as("n_tokens"), min("n_types").as("n_types"),
            sum(col("c") * col("h_milli")).as("h_sum"),
            sum(col("c") * col("kl_milli")).as("kl_sum"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            ExactMath.ratioRounded(col("h_sum"), col("n_tokens"), 3)
              .as("entropy_milli"),
            ExactMath.ratioRounded(col("kl_sum"), col("n_tokens"), 3)
              .as("kl_milli"))
          .orderBy("source")
      },
      Some(
        s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
           |cst AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
           |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s,
           |    CAST(COUNT(*) AS BIGINT) AS n_types FROM cst GROUP BY source),
           |corpus AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM cst GROUP BY tok),
           |tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS n_c FROM corpus),
           |m AS (SELECT cst.source, n_s, n_types, c,
           |    CAST(ROUND(ln(CAST(n_s AS DOUBLE) / CAST(c AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS h_milli,
           |    CAST(ROUND(ln(CAST(c * n_c AS DOUBLE) / CAST(cc * n_s AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS kl_milli
           |  FROM cst JOIN corpus USING (tok) JOIN totals ON cst.source = totals.source, tot),
           |g AS (SELECT source, MIN(n_s) AS n_tokens, MIN(n_types) AS n_types,
           |    CAST(SUM(c * h_milli) AS BIGINT) AS h_sum,
           |    CAST(SUM(c * kl_milli) AS BIGINT) AS kl_sum
           |  FROM m GROUP BY source)
           |SELECT source, n_tokens, n_types,
           |  ${ExactMath.ratioRoundedSql("h_sum", "n_tokens", 3)} AS entropy_milli,
           |  ${ExactMath.ratioRoundedSql("kl_sum", "n_tokens", 3)} AS kl_milli
           |FROM g ORDER BY source""".stripMargin)),

    QSpec("source_overlap_matrix",
      // Pairwise source redundancy: for every source pair, the count of
      // shared distinct 3-shingles plus Jaccard and containment — the
      // matrix that tells a mixture designer which sources duplicate each
      // other before weights are spent on both. Inverted-index shape: the
      // per-shingle source list NEVER materializes pairs beyond the
      // shingle's own sources (≤ sources each), so total pair work is
      // O(shingles · sources) worst-case and O(shingles) typical — never
      // doc-pairwise. Engine joins on the 64-bit shingle hash (the
      // span_dup_fraction collision argument), the oracle on shingle
      // identity. Output O(sources²) rows, all ratios ExactMath.
      (s, dir) => {
        // memoized + persisted: the per-source sizes and BOTH sides of the
        // inverted-index self-join read this distinct-shingle frame
        val sh = Memo.frame(s, Some(dir), "srcshingle") {
          // opt-r15: one-pass DistinctShingleHashes kernel (no shingle
          // strings materialize; values bit-identical — see Queries6's
          // span_shh note)
          t(s, dir, "documents")
            .select(col("source"),
              explode(graft.ext.Dedup.distinctShingleHashes(col("text"), 3)).as("shh"))
            .distinct()
        }
        val perSrc = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
        val inter = sh.join(sh.select(col("source").as("src_b"), col("shh")), "shh")
          .where(col("source") < col("src_b"))
          .groupBy(col("source").as("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_inter"))
        // the MATRIX includes disjoint pairs at n_inter = 0 (the skew
        // fixture surfaced them) — enumerate all pairs from the tiny
        // per-source frame and left-join the overlap counts
        perSrc.select(col("source").as("src_a"), col("n_sh").as("na"))
          .crossJoin(broadcast(perSrc.select(col("source").as("src_b"), col("n_sh").as("nb"))))
          .where(col("src_a") < col("src_b"))
          .join(inter, Seq("src_a", "src_b"), "left_outer")
          .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
          .select(col("src_a"), col("src_b"), col("n_inter"),
            ExactMath.ratioRounded(col("n_inter"),
              col("na") + col("nb") - col("n_inter"), 6).as("jaccard"),
            ExactMath.ratioRounded(col("n_inter"),
              least(col("na"), col("nb")), 6).as("containment"))
          .orderBy("src_a", "src_b")
      },
      Some(
        s"""WITH sh AS (SELECT DISTINCT source, sh FROM (
           |    SELECT source, unnest(CASE WHEN len(sp) < 3 THEN [text]
           |      ELSE list_transform(range(1, len(sp) - 1),
           |        i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
           |    FROM (SELECT source, text, string_split(text, ' ') AS sp FROM documents) d)),
           |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
           |ov AS (SELECT a.source AS src_a, b.source AS src_b,
           |    CAST(COUNT(*) AS BIGINT) AS n_inter
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
           |  GROUP BY 1, 2),
           |inter AS (SELECT pa.source AS src_a, pb.source AS src_b,
           |    pa.n_sh AS na, pb.n_sh AS nb, COALESCE(ov.n_inter, 0) AS n_inter
           |  FROM per pa JOIN per pb ON pa.source < pb.source
           |  LEFT JOIN ov ON pa.source = ov.src_a AND pb.source = ov.src_b)
           |SELECT src_a, src_b, n_inter,
           |  ${ExactMath.ratioRoundedSql("n_inter", "na + nb - n_inter", 6)} AS jaccard,
           |  ${ExactMath.ratioRoundedSql("n_inter", "LEAST(na, nb)", 6)} AS containment
           |FROM inter
           |ORDER BY src_a, src_b""".stripMargin)),

    QSpec("bm25_topk",
      // BM25 retrieval (Lucene-standard nonnegative idf, k1 = 1.2,
      // b = 0.75)
      // for the query {join, vector, dup} — the lexical-ranking
      // counterpart of the embedding retrievers. k1 = 6/5 and b = 3/4 are
      // RATIONAL, so the whole per-(doc, term) score reduces to
      //   idf · 44·T·tf / (20·T·tf + 6·T + 18·dl·D)
      // (T = corpus tokens, D = docs, dl = doc length) — integer
      // numerator/denominator with idf = ln(1 + (N−df+½)/(df+½)) =
      // ln((2N+2)/(2df+1)) in milli-nats (ln of an integer-product ratio,
      // the select_dsir discipline; the Lucene form is STRICTLY POSITIVE,
      // so every integer division below sees nonnegative operands — no
      // floor-vs-truncate exposure), rounded to
      // integer MICROS per term, summed exactly per doc; the top-20 ranks
      // on the integer micros (desc, doc_id) so order cannot jitter.
      // Decimal(38,0) products — no overflow cliff at 100 TB token counts.
      // Scale shape: one token scan serves dl and tf (the tf branch is
      // pre-filtered to the 3 query terms before its shuffle); df/idf and
      // corpus stats are metadata-sized broadcasts; TakeOrdered head.
      (s, dir) => {
        val qTerms = Seq("join", "vector", "dup")
        val dec = "decimal(38,0)"
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tt"))
        val tf = toks.where(col("tok").isin(qTerms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(stats))
          .select(col("tok"),
            round(log((col("nd") * 2 + 2).cast("double") /
              (col("df") * 2 + 1).cast("double")) * 1000.0, 0)
              .cast("long").as("idf_milli"))
        val num = col("idf_milli").cast(dec) * 44 * col("tt").cast(dec) *
          col("tf").cast(dec) * 1000
        val den = col("tf").cast(dec) * 20 * col("tt").cast(dec) +
          col("tt").cast(dec) * 6 + col("dl").cast(dec) * col("nd").cast(dec) * 18
        tf.join(broadcast(idf), "tok").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"),
            ExactMath.ratioRounded(num, den, 0).cast("long").as("sm"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"), sum("sm").as("score_micros"))
          .orderBy(col("score_micros").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("n_terms"), col("score_micros"),
            ExactMath.ratioRounded(col("score_micros"), lit(1000000L), 6)
              .as("bm25"))
      },
      Some(
        s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tt FROM dl),
           |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
           |  WHERE tok IN ('join', 'vector', 'dup') GROUP BY 1, 2),
           |idf AS (SELECT tok,
           |    CAST(ROUND(ln(CAST(nd*2 + 2 AS DOUBLE) / CAST(df*2 + 1 AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS idf_milli
           |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok), stats),
           |term AS (SELECT doc_id,
           |    CAST(${ExactMath.ratioRoundedSql(
                  "idf_milli::HUGEINT * 44 * tt * tf * 1000",
                  "tf::HUGEINT * 20 * tt + tt::HUGEINT * 6 + dl::HUGEINT * nd * 18", 0)} AS BIGINT) AS sm
           |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), stats),
           |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           |    CAST(SUM(sm) AS BIGINT) AS score_micros
           |  FROM term GROUP BY doc_id)
           |SELECT doc_id, n_terms, score_micros,
           |  ${ExactMath.ratioRoundedSql("score_micros", "1000000", 6)} AS bm25
           |FROM d ORDER BY score_micros DESC, doc_id LIMIT 20""".stripMargin)),

    QSpec("heldout_ppl",
      // HELD-OUT perplexity — the no-leakage eval twin of doc_ppl_bigram:
      // the bigram LM trains on the murmur3 80% split (split_train_test's
      // exact hash rule) and scores ONLY the held-out 20%. Unseen bigrams
      // and unseen contexts degrade smoothly through the same Laplace
      // formula (coalesce both counts to 0: an unseen context scores
      // ln(V) — the uniform-over-vocabulary floor). Same integer-milli
      // discipline; train counts never see test docs, so this is the
      // number a curation pipeline can legitimately report as model-ready
      // eval evidence. Scale shape identical to doc_ppl_bigram plus two
      // vocabulary-keyed left joins.
      (s, dir) => {
        // shared memoized explode (see pplBigramsMemo); the split flag
        // derives from doc_id, so it rides the cached frame as a cheap
        // post-hoc column instead of forcing a second corpus explode
        val bi = pplBigramsMemo(s, dir)
          .withColumn("is_train", pmod(hash(col("doc_id")), lit(100)) < 80)
        val c12 = bi.where(col("is_train")).groupBy("bg").agg(count(lit(1)).as("c12"))
        val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum("c12").as("c1"))
        val v = c1.agg(count(lit(1)).as("vsz"))
        bi.where(!col("is_train"))
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(c12, Seq("bg"), "left_outer")
          .join(c1, Seq("w1"), "left_outer")
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            round(log((coalesce(col("c1"), lit(0L)) * 2 + col("vsz")).cast("double") /
              (coalesce(col("c12"), lit(0L)) * 2 + 1).cast("double")) * 1000.0, 0)
              .cast("long").as("milli"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("milli").as("nll_milli"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_milli"),
            ExactMath.ratioRounded(col("nll_milli"), col("n_bigrams"), 3).as("avg_milli"))
          .orderBy("doc_id")
      },
      Some(Queries.murmurCte("documents", "doc_id", 42) +
        s""",
           |sp AS (SELECT doc_id, string_split(text, ' ') AS sp,
           |    ((sh % 100) + 100) % 100 < 80 AS is_train
           |  FROM documents JOIN msigned ON doc_id = msigned.v),
           |bi AS (SELECT doc_id, is_train,
           |    unnest(list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS bg
           |  FROM sp WHERE len(sp) >= 2),
           |c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi WHERE is_train GROUP BY bg),
           |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           |  FROM c12 GROUP BY 1),
           |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM c1),
           |sc AS (SELECT t.doc_id,
           |    CAST(ROUND(ln(CAST(COALESCE(c1.c1, 0)*2 + vsz AS DOUBLE) /
           |      CAST(COALESCE(c12.c12, 0)*2 + 1 AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bi WHERE NOT is_train) t
           |  LEFT JOIN c12 USING (bg) LEFT JOIN c1 USING (w1), v),
           |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(milli) AS BIGINT) AS nll_milli
           |  FROM sc GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, nll_milli,
           |  ${ExactMath.ratioRoundedSql("nll_milli", "n_bigrams", 3)} AS avg_milli
           |FROM d ORDER BY doc_id""".stripMargin)),

    QSpec("drift_timeline",
      // Temporal drift monitoring — drift_psi's time axis: per UTC day,
      // the population stability index of that day's event-type
      // distribution against the whole stream's mix (the "when did the
      // workload change?" dial; the source-slice PSI answers "which
      // slice?"). Same Laplace smoothing and op order as drift_psi; one
      // (day, type) count pass feeds day totals AND the overall mix (no
      // second scan), both joined back as broadcasts. O(days × types)
      // rows before the O(days) rollup at any stream length.
      (s, dir) => {
        val c = t(s, dir, "events")
          .select(expr("ts div 86400000000000").as("day"), col("event_type"))
          .groupBy("day", "event_type").agg(count(lit(1)).as("c"))
        val dayTot = c.groupBy("day").agg(sum("c").as("n_d"))
        val overall = c.groupBy("event_type").agg(sum("c").as("c_t"))
        val tot = overall.agg(sum("c_t").as("n"), count(lit(1)).as("nt"))
        c.join(broadcast(dayTot), "day")
          .join(broadcast(overall), "event_type")
          .crossJoin(broadcast(tot))
          .select(col("day"), col("n_d"), col("c"),
            ((col("c") + lit(0.5)) / (col("n_d") + lit(0.5) * col("nt"))).as("p"),
            ((col("c_t") + lit(0.5)) / (col("n") + lit(0.5) * col("nt"))).as("q"))
          .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
          .groupBy("day")
          .agg(min("n_d").as("n_events"), round(sum("term"), 6).as("psi"))
          .orderBy("day")
      },
      Some(
        """WITH c AS (SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
          |    CAST(COUNT(*) AS BIGINT) AS c
          |  FROM events GROUP BY 1, 2),
          |dt AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n_d FROM c GROUP BY day),
          |ov AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS c_t FROM c GROUP BY event_type),
          |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nt FROM ov),
          |x AS (SELECT day, n_d, c,
          |    (c + 0.5) / (n_d + 0.5 * nt) AS p,
          |    (c_t + 0.5) / (n + 0.5 * nt) AS q
          |  FROM c JOIN dt USING (day) JOIN ov USING (event_type), tot)
          |SELECT day, MIN(n_d) AS n_events,
          |  ROUND(SUM((p - q) * ln(p / q)), 6) AS psi
          |FROM x GROUP BY day ORDER BY day""".stripMargin)),

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
          |ORDER BY user_id, valid_from, event_id""".stripMargin))
  )
}
