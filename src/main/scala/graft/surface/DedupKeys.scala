package graft
package surface

import graft.ext.{Curation, Dedup, ExactMath, SimSearch, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication and decontamination: exact, MinHash/SimHash/LSH, n-gram
  * Jaccard and containment, embedding and cluster-partitioned semantic
  * dedup, winnowing fingerprints and span removal, incremental (cross-run)
  * dedup, and benchmark decontamination against a held-out eval split.
  */
object DedupKeys {

  /** DuckDB w-token shingle list over `sp` (a string_split result), matching
    * [[Dedup.shingles]]: short docs collapse to one whole-text shingle. */
  private def duckShingles(w: Int): String = {
    val join = (1 to w).map(j => s"sp[i+${j - 1}]").mkString(" || ' ' || ")
    s"CASE WHEN len(sp) < $w THEN [text] ELSE list_transform(range(1, len(sp)-${w - 2}), i -> $join) END"
  }

  /** The [[SimSearch.assignClusters]] frame at corpus-scaled k, memoized
    * per corpus. */
  private def assigned(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    SimSearch.assignClusters(emb, SimSearch.scaledK(emb))
  }

  /** Shared oracle CTE chain: nonzero-norm vectors, the scaled-k centroid
    * head, and the nearest-centroid assignment (same −2·v·c + ‖c‖² ranking
    * and low-index tie-break as the engine's min-struct argmin), carrying the assigned
    * minimum m for distance math. Ends after `asg` — callers append. */
  private val assignCtes: String =
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

  /** Oracle CTE body: each doc's distinct 3-word shingle list `sh` (the
    * [[Dedup.shingles]] family, w = 3). `from` follows `AS sp` in the
    * inner select: the table, any doc filter, and any line break before
    * them. */
  private def shingleSets(from: String): String =
    s"""SELECT doc_id, list_distinct(CASE WHEN len(sp) < 3 THEN [text]
       |    ELSE list_transform(range(1, len(sp)-1), i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp$from) d""".stripMargin

  /** Oracle CTE chain of the MinHash signatures ([[Dedup.minhashNearDups]]'s
    * family): the shingle CTE named `sh`, the polynomial shingle hashes
    * `hs` and the 20-value signature `sig` (the shingle list kept beside
    * it for verification). Starts at the CTE name, ends after `sig`. */
  private def minhashSigCtes(sh: String, from: String): String =
    s"""$sh AS (
       |  ${shingleSets(from)}
       |), hs AS (
       |  SELECT doc_id, sh, list_transform(sh, g ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
       |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS hs
       |  FROM $sh
       |), sig AS (
       |  SELECT doc_id, sh, list_transform(range(20), i ->
       |    list_min(list_transform(hs, h ->
       |      (((i+1) * 2654435761 % 1000000007) * h + ((i+1) * 40503 + 17) % 1000000007) % 1000000007))) AS sig
       |  FROM hs
       |)""".stripMargin

  /** [[minhashSigCtes]] plus the 5×4 band slices and the distinct
    * band-collision candidate pairs `cand` (a_id < b_id). */
  private def minhashCandCtes(from: String): String =
    s"""${minhashSigCtes("sh", from)}, bands AS (
       |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM sig, range(5) t(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Oracle CTE chain of connected components over a `pairs` (a_id, b_id)
    * CTE: undirected `edges`, recursive reachability seeded with every
    * `documents` row that passes `seedFilter` (empty: all), min-id labels
    * `lab` and component sizes `sz`. Needs `WITH RECURSIVE`; starts at
    * `edges`, ends after `sz`. */
  private def componentCtes(seedFilter: String): String =
    s"""edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs
       |), reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents$seedFilter
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
       |), lab AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), sz AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM lab GROUP BY cluster_id
       |)""".stripMargin

  /** The capped (doc_id < 500) n-gram Jaccard pairs at ≥ 0.2 and their
    * components: the oracle head of `dedup_cluster` and
    * `cluster_keep_policy` ([[Dedup.jaccardClustersMemo]]). */
  private val cappedJaccardComponentCtes: String =
    s"""WITH RECURSIVE sh AS (
       |  ${shingleSets("\n        FROM documents WHERE doc_id < 500")}
       |), pairs AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |      ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
       |    FROM sh a, sh b WHERE a.doc_id < b.doc_id) j
       |  WHERE jaccard >= 0.2
       |), ${componentCtes(" WHERE doc_id < 500")}""".stripMargin

  /** The capped (doc_id < 500) all-pairs shingle overlap: intersection and
    * both set sizes, the oracle head of the exact Jaccard and containment
    * keys. */
  private val cappedOverlapCtes: String =
    s"""WITH sh AS (
       |  ${shingleSets(" FROM documents WHERE doc_id < 500")}
       |), pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
       |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
       |)""".stripMargin

  /** Oracle CTEs of the polynomial hash stream of a 4-token shingle CTE
    * `sh` (doc_id, sh): the hash list `hs` and its (doc_id, pos, h) rows
    * `p`. */
  private val shingleHashCtes: String =
    """hs AS (SELECT doc_id, list_transform(sh, g ->
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
      |      (a, c) -> (a * 131 + c) % 1000000007)) AS hl FROM sh),
      |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(hl)+1),
      |      i -> {'pos': i - 1, 'h': hl[i]})) AS u FROM hs))""".stripMargin

  /** Oracle CTE chain of [[graft.ext.Winnow.matchSpans]]: 4-token shingle
    * hashes, w = 4 winnowing fingerprints, candidate pairs on fingerprints
    * of document frequency 2–16, then the shared-gram points of each pair
    * split into diagonal runs `seg2` (a_id, b_id, diag, pa, pb, seg). */
  private val winnowSpanCtes: String =
    s"""WITH sp AS (SELECT doc_id, source, text, string_split(text, ' ') AS sp
       |  FROM documents),
       |sh AS (SELECT doc_id, CASE WHEN len(sp) < 4 THEN [text]
       |    ELSE list_transform(range(1, len(sp) - 2),
       |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END AS sh
       |  FROM sp),
       |$shingleHashCtes,
       |wn AS (SELECT doc_id, pos, h,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin FROM p),
       |fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM wn
       |  WHERE pos <= GREATEST(0, n - 4)),
       |ok AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 16),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM fp a JOIN ok USING (fp) JOIN fp b USING (fp)
       |  WHERE a.doc_id < b.doc_id),
       |g0 AS (SELECT doc_id, list_transform(range(1, len(sp) - 2),
       |    i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) AS gs
       |  FROM sp WHERE len(sp) >= 7),
       |grams AS (SELECT doc_id, u.p AS p, u.g AS g FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(gs)+1),
       |      i -> {'p': i - 1, 'g': gs[i]})) AS u FROM g0)),
       |pts AS (SELECT pr.a_id, pr.b_id, ga.p AS pa, gb.p AS pb
       |  FROM pairs pr
       |  JOIN grams ga ON ga.doc_id = pr.a_id
       |  JOIN grams gb ON gb.doc_id = pr.b_id AND gb.g = ga.g),
       |seg AS (SELECT a_id, b_id, pb - pa AS diag, pa, pb,
       |    CASE WHEN pa - LAG(pa) OVER (PARTITION BY a_id, b_id, pb - pa
       |      ORDER BY pa) = 1 THEN 0 ELSE 1 END AS brk FROM pts),
       |seg2 AS (SELECT a_id, b_id, diag, pa, pb,
       |    SUM(brk) OVER (PARTITION BY a_id, b_id, diag ORDER BY pa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg FROM seg)""".stripMargin

  /** [[winnowSpanCtes]] plus the maximal runs of ≥ 7 tokens and the
    * distinct later-doc token positions `cov` (doc_id, pos) they cover
    * ([[graft.ext.Winnow.coveredPositions]]). */
  private val coveredPositionCtes: String =
    s"""$winnowSpanCtes,
       |runs AS (SELECT a_id, b_id, MIN(pa) AS a_start, MIN(pb) AS b_start,
       |    COUNT(*) + 3 AS run_tokens
       |  FROM seg2 GROUP BY a_id, b_id, diag, seg
       |  HAVING COUNT(*) + 3 >= 7),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |    SELECT b_id AS doc_id,
       |      unnest(range(b_start, b_start + run_tokens)) AS pos FROM runs))""".stripMargin

  /** [[assignCtes]] plus the within-cluster cosine pairs `p` and the
    * keep-first drop set `d` at cos ≥ 0.9 ([[SimSearch.semanticDedup]]). */
  private val semanticDupCtes: String =
    s"""$assignCtes,
       |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    $cosineAB
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |d AS (SELECT DISTINCT b_id FROM p WHERE cos >= 0.9)""".stripMargin

  /** Per-doc decontamination manifest (X72): per TRAIN document, how much
    * of its distinct 3-word-shingle set also appears anywhere in the EVAL
    * split — the removal DECISION artifact a cleaning anti-join consumes
    * (GPT-3 appendix C / Dolma §5 n-gram decontamination; shingle family
    * shared verbatim with the dedup tier via [[Dedup.shingles]]). The
    * per-SOURCE any-hit rollup already exists as `decontaminate_ngram`
    * (the observability dial) and its semantic complement as
    * `decontaminate_embedding`; this key scores PARTIAL overlap — a doc
    * quoting one benchmark line is not condemned with a full clone — and
    * names the docs, closing the loop the way X64 closed SemDeDup's.
    * Scale shape: the eval side of the join is benchmark-sized BY NATURE
    * (eval sets don't grow with the crawl), so its distinct-shingle set is
    * broadcast and the train side streams through one scan → explode →
    * broadcast-hash probe → per-doc fold; nothing shuffles proportional to
    * the corpus except the per-doc groupBy, which is map-side combined.
    * Contamination ratio is half-up-rounded via the exact-integer
    * [[graft.ext.ExactMath.ratioRounded]] contract and the flag compares
    * ON THE ROUNDED VALUE, so all three engines agree on boundary docs. */
  private[graft] def decontaminateEval(docs: DataFrame, evalMod: Long,
      flagAt: Double): DataFrame = {
    // opt-r15: the #1 sf1 key (12.6 s at 10× data). Root cause was never
    // the probe side but per-shingle STRING construction: the HOF
    // shingles() form ran an interpreted per-window lambda allocating
    // every window string (an earlier xxhash64-variant that still BUILT
    // the strings before hashing measured SLOWER, 1.32 → 1.59 s at
    // sf0.1/32c — hashing on top of construction only added work). The
    // distinctShingleHashes kernel deletes construction itself: one
    // codegen pass over the text bytes dedups window VIEWS and emits
    // 64-bit hashes, so only (doc_id, gh:long) rows flow through the
    // explode → broadcast probe → map-side-combined per-doc fold. Engine
    // joins on the 64-bit shingle hash, the oracle on shingle identity —
    // the span_dup_fraction / source_overlap_matrix collision convention
    // (same shingle space, w=3, already accepted there; counts identical
    // short of a 64-bit birthday collision, re-verified on the oracle at
    // sf0.001/0.01/0.1 + skew + sf1). Expected-collision bound (r15
    // ADVICE): with n distinct shingles across train+eval, P(some pair of
    // DIFFERENT shingles sharing an xxhash64 value) ≈ n²/2^65 — ~2.7e-6 at
    // n=10^7 (sf1 is ~10^6), ~2.7% at n=10^9. The divergence grows
    // QUADRATICALLY with corpus scale: re-evaluate before trusting this
    // gate past ~10^8 distinct shingles (false-hit odds ~0.03%); the
    // oracle's string-identity compare is the detector. Plan shape
    // unchanged: one train
    // scan, eval subtree benchmark-sized, no corpus-sized shuffle.
    val sh = docs.select(col("doc_id"),
      explode(Dedup.distinctShingleHashes(col("text"), 3)).as("gh"))
    val evalSet = sh.where(col("doc_id") % 10 === evalMod)
      .select("gh").distinct().withColumn("hit", lit(1L))
    sh.where(col("doc_id") % 10 =!= evalMod)
      .join(broadcast(evalSet), Seq("gh"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        graft.ext.ExactMath.ratioRounded(col("n_hits"), col("n_shingles"), 6)
          .as("contamination"))
      .withColumn("flagged", (col("contamination") >= flagAt).cast("int"))
      .orderBy("doc_id")
  }

  val specs: Seq[QSpec] = Seq(

    QSpec("dedup_exact",
      // X1: exact dedup on text, min-doc_id winner (stable tiebreak)
      (s, dir) => t(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
        .select("doc_id", "dup_count")
        .orderBy("doc_id"),
      Some(
        """SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
          |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    QSpec("dedup_minhash",
      // X2 MinHash+LSH banding over the polynomial prime-field hash family:
      // the oracle replays the exact signature arithmetic (codepoint
      // polynomial mod 1e9+7, affine per-seed re-mix), the 5×4 banding
      // candidates (band-slice equality), and the Jaccard verification —
      // a full hash-compared check of the whole LSH pipeline.
      (s, dir) => Dedup.minhashNearDups(t(s, dir, "documents")),
      Some(
        s"""WITH ${minhashCandCtes(" FROM documents")}
          |SELECT a_id, b_id, jaccard FROM (
          |  SELECT c.a_id, c.b_id,
          |    ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |      (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
          |  FROM cand c JOIN sig x ON x.doc_id = c.a_id JOIN sig y ON y.doc_id = c.b_id) v
          |WHERE jaccard >= 0.7 ORDER BY a_id, b_id""".stripMargin)),

    QSpec("dedup_simhash",
      // X2 SimHash near-dups over 61-bit polynomial token hashes: the
      // oracle replays per-token hashing, the 61 bit-majority sums, the
      // four 16-bit LSH bands, and the hamming-distance filter.
      (s, dir) => Dedup.simhashNearDups(t(s, dir, "documents")),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          |), hs AS (
          |  SELECT doc_id, list_transform(tk, g ->
          |    (list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
          |      (acc, c) -> (acc * 131 + c) % 1000000007) * 2654435761 + 986244679) % 2305843009213693951) AS hs
          |  FROM tok
          |), sig AS (
          |  SELECT doc_id, CAST(SUM(CASE WHEN list_sum(list_transform(hs, h ->
          |      CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
          |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
          |  FROM hs, range(61) t(b) GROUP BY doc_id
          |), bands AS (
          |  SELECT doc_id, b, (sig >> CAST(b*16 AS INT)) & 65535 AS key FROM sig, range(4) t(b)
          |), cand AS (
          |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
          |)
          |SELECT a_id, b_id, dist FROM (
          |  SELECT c.a_id, c.b_id, CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS dist
          |  FROM cand c JOIN sig x ON x.doc_id = c.a_id JOIN sig y ON y.doc_id = c.b_id) v
          |WHERE dist <= 3 ORDER BY a_id, b_id""".stripMargin)),

    QSpec("dedup_ngram_jaccard",
      (s, dir) => Dedup.exactJaccard(t(s, dir, "documents"),
        shingleW = 3, threshold = 0.2, idCap = 500),
      Some(
        s"""$cappedOverlapCtes
          |SELECT a_id, b_id, jaccard FROM (
          |  SELECT a_id, b_id, ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
          |  FROM pairs) j
          |WHERE jaccard >= 0.2 ORDER BY a_id, b_id""".stripMargin)),

    QSpec("dedup_embedding_cosine",
      // near-dup removal by embedding similarity: drop rows with an
      // earlier near-neighbor (cos ≥ 0.9), keep survivors
      (s, dir) => Dedup.embeddingNearDups(s, t(s, dir, "embeddings"),
        threshold = 0.9, idCap = 500),
      Some(
        s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings WHERE vec_id < 500),
          |$cosinePairCte,
          |dups AS (SELECT DISTINCT b_id AS vec_id FROM p WHERE cos >= 0.9)
          |SELECT vec_id, label FROM e WHERE vec_id NOT IN (SELECT vec_id FROM dups)
          |ORDER BY vec_id""".stripMargin)),

    QSpec("doc_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.polyFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, CAST(list_sum(list_transform(range(1, len(sp)+1),
          |    i -> (length(sp[i]) * i) % 1000003)) % 1000003 AS BIGINT) AS fingerprint
          |FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d
          |ORDER BY doc_id""".stripMargin)),

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
        s"""$cappedJaccardComponentCtes
          |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
          |FROM lab JOIN sz USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    QSpec("fuzzy_name_pairs",
      // Blocked fuzzy matching: distinct names, blocked on the first word
      // (the classic dedup blocking-key move — the O(n²) edit-distance join
      // only runs within blocks), pairs within edit distance 5. At 100 TB
      // the distinct+block side is tiny relative to the corpus, and
      // levenshtein runs on the post-block pairs only.
      (s, dir) => {
        val names = t(s, dir, "part").select("p_name").distinct()
          .withColumn("w", split(col("p_name"), " ").getItem(0))
        names.as("a").join(names.as("b"),
            col("a.w") === col("b.w") && col("a.p_name") < col("b.p_name"))
          .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name")))
          .where(col("dist") <= 5)
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
            col("dist").cast("int").as("dist"))
          .orderBy("name_a", "name_b")
      },
      Some(
        """WITH names AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS w
          |    FROM part)
          |SELECT a.p_name AS name_a, b.p_name AS name_b,
          |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
          |FROM names a JOIN names b ON a.w = b.w AND a.p_name < b.p_name
          |WHERE levenshtein(a.p_name, b.p_name) <= 5
          |ORDER BY name_a, name_b""".stripMargin)),

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

    QSpec("span_dup_fraction",
      // Cross-doc repeated-span fraction: for each doc, the share of its
      // distinct 4-token shingles that also occur in at least one OTHER
      // document — the classic boilerplate/template signal
      // (quality_repetition is the within-doc counterpart). Scale shape:
      // per-doc dedup happens BEFORE the explode (array_distinct — no
      // shuffle), the cross-doc count is a groupBy(shh).count + join back
      // on the 64-bit shingle hash (shuffle rows are (long,long), never
      // shingle bodies) — the grouped form gets map-side combine, so a hot
      // boilerplate shingle collapses to per-mapper partials before the
      // shuffle, and the join-back is AQE-skew-splittable, where a
      // Window.partitionBy(shh) would put the hot posting on one
      // unsplittable task — and the per-doc rollup is the only other
      // exchange: all linear in corpus size, no pairwise comparison.
      // (the 30-bit poly-hash kernel is NOT usable here: the distinct and
      // the cross-doc count are over shingle IDENTITY, and mod-1e9+7 would
      // merge ~n²/2e9 shingle pairs — xxhash64's 64 bits keep collision
      // odds negligible, matching the string-identity oracle)
      (s, dir) => {
        // Memo.frame: the (doc_id, shh) frame feeds BOTH join branches (the
        // per-shh count and the row side) — unmaterialized, Catalyst
        // inlines the explode+hash pass into each and computes it TWICE
        // (measured 2× the key at sf1); persisted once, both branches
        // read the materialized sketch (the memoizedSignatures discipline)
        val docs = t(s, dir, "documents")
        val sh = Memo.frame("span_shh", docs) {
          // opt-r15: one-pass distinctShingleHashes kernel — the former
          // explode(array_distinct(shingles)) + xxhash64(sh) built every
          // distinct window STRING only to hash it at the next projection;
          // values bit-identical (dedup on string identity, then xxhash64)
          docs.select(col("doc_id"),
            explode(Dedup.distinctShingleHashes(col("text"), 4)).as("shh"))
        }
        val df = sh.groupBy("shh").agg(count(lit(1)).as("ndocs"))
        sh.join(df, "shh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_shingles"), col("n_shared"),
            graft.ext.ExactMath.ratioRounded(col("n_shared"), col("n_shingles"), 6)
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(
        """WITH sh AS (
          |  SELECT DISTINCT doc_id, sh FROM (
          |    SELECT doc_id, unnest(CASE WHEN len(sp) < 4 THEN [text]
          |      ELSE list_transform(range(1, len(sp) - 2),
          |        i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END) AS sh
          |    FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d)
          |), c AS (SELECT sh, COUNT(*) AS ndocs FROM sh GROUP BY sh)
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |  (CAST(((2000000::HUGEINT * SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS dup_frac
          |FROM sh JOIN c USING (sh)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QSpec("dedup_incremental",
      // Incremental dedup: a new shard (doc_id % 10 >= 7) arrives against
      // an already-ingested corpus index (doc_id % 10 < 7). The content key
      // is a sha2 digest of the first-8-token head fingerprint (the fixture
      // corpus has no byte-exact duplicates, but head fingerprints do
      // collide — same policy a crawler uses against near-identical page
      // heads). New docs whose fingerprint exists in the index are dropped.
      // The join runs on 32-byte digests, never bodies — the shuffle
      // carries hashes, and at real scale the historical index is exactly
      // the dedup-state table a pipeline persists between ingestion runs.
      (s, dir) => {
        val fp = sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256)
        val docs = t(s, dir, "documents")
        val hist = docs.where(expr("doc_id % 10 < 7"))
          .select(fp.as("h")).distinct()
          .withColumn("in_index", lit(1))
        docs.where(expr("doc_id % 10 >= 7"))
          .withColumn("h", fp)
          .join(hist, Seq("h"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_new"),
            sum(when(col("in_index").isNull, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("in_index").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("source")
      },
      Some(
        """WITH f AS (SELECT doc_id, source,
          |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS fp
          |  FROM documents),
          |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 7),
          |nw AS (SELECT * FROM f WHERE doc_id % 10 >= 7)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
          |  CAST(COUNT(*) FILTER (WHERE fp NOT IN (SELECT fp FROM hist)) AS BIGINT) AS n_kept,
          |  CAST(COUNT(*) FILTER (WHERE fp IN (SELECT fp FROM hist)) AS BIGINT) AS n_dropped
          |FROM nw GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("bloom_prefilter",
      // Bloom-filter dedup prefilter (m=4096 bits, k=3) in front of the
      // incremental-dedup anti-join: historical head fingerprints set the
      // bits; a new-shard doc is flagged iff all its k positions are set.
      // Reports per-source (n_new, n_flagged, n_dup, n_false_pos) — no
      // false negatives by construction, and the fixture corpus produces
      // real false positives, so the key verifies the filter's soundness
      // AND its error behavior. Scale shape: the bit set is an O(m)
      // broadcast (the filter a pipeline persists between ingestion runs);
      // only flagged docs — a few % — would proceed to the exact
      // anti-join of dedup_incremental.
      (s, dir) => Sketches.bloomPrefilter(t(s, dir, "documents"),
        histPred = expr("doc_id % 10 < 7"), newPred = expr("doc_id % 10 >= 7"),
        headTokens = 8, k = 3, m = 4096),
      Some(
        """WITH f AS (SELECT doc_id, source,
          |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS fp
          |  FROM documents),
          |h AS (SELECT doc_id, source, fp, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(fp)+1), i -> CAST(unicode(fp[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM f),
          |pos AS (SELECT doc_id, source, fp, th, i,
          |    ((((i * 2654435761) % 1000000007) * th
          |      + (i * 40503 + 17) % 1000000007) % 1000000007) % 4096 AS p
          |  FROM h, range(1, 4) t(i)),
          |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 10 < 7),
          |histfp AS (SELECT DISTINCT fp FROM h WHERE doc_id % 10 < 7),
          |nw AS (SELECT doc_id, source, fp,
          |    BOOL_AND(p IN (SELECT p FROM bits)) AS maybe_seen
          |  FROM pos WHERE doc_id % 10 >= 7 GROUP BY doc_id, source, fp)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
          |  CAST(SUM(CASE WHEN maybe_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
          |  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM histfp) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |  CAST(SUM(CASE WHEN maybe_seen AND fp NOT IN (SELECT fp FROM histfp)
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
          |FROM nw GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("chunk_cdc",
      // Content-defined chunking: a chunk boundary opens wherever the
      // rolling 4-token shingle hash ≡ 0 (mod 16) — expected chunk ≈ 16
      // spans, but boundaries depend only on CONTENT, so an insertion
      // early in a doc shifts chunk ids, not every chunk's bytes (the
      // property fixed-stride chunk_overlap lacks, and the reason CDC is
      // the dedup-friendly chunker). Per-doc spans go through one window
      // partitioned by doc — the cumulative boundary count IS the chunk id.
      // (An array-domain HOF rewrite was tried and reverted in r7:
      // Catalyst's project collapse inlines each derived array column into
      // its consumers, so the INTERPRETED shingle-hash subtree re-evaluated
      // per reference — 3.5× slower than the shuffle-bearing window form.
      // opt-r16 closes it properly with a CODEGEN kernel instead: the
      // boundary test, the cumulative chunk id (== the window cumsum — the
      // count of boundary windows at or before pos) and the per-chunk
      // run-length stats are one pass over the text inside the scan
      // projection, so the per-SPAN explode (≈ token count × corpus), its
      // window shuffle+sort and the grouped aggregation all disappear —
      // only per-CHUNK rows (~1/16 of spans) ever exist, and the only
      // exchange left is the output orderBy. Oracle (window-form SQL)
      // untouched; hash-identical at sf0.001/0.01/0.1 + skew + sf1.
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          explode(Sketches.cdcChunkStats(col("text"), 4, 16)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.n_spans").as("n_spans"), col("c.start_pos").as("start_pos"),
          col("c.end_pos").as("end_pos"))
        .orderBy("doc_id", "chunk_id"),
      Some(
        s"""WITH sh AS (
          |  SELECT doc_id, CASE WHEN len(sp) < 4 THEN [text]
          |    ELSE list_transform(range(1, len(sp) - 2),
          |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END AS sh
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d),
          |$shingleHashCtes,
          |c AS (SELECT doc_id, pos,
          |    SUM(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id FROM p)
          |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_spans,
          |  CAST(MIN(pos) AS INT) AS start_pos, CAST(MAX(pos) AS INT) AS end_pos
          |FROM c GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin)),

    QSpec("lsh_recall_curve",
      // Sketch CALIBRATION — the audit a 100 TB pipeline runs on a sample
      // before trusting LSH parameters corpus-wide: exact-Jaccard ground
      // truth (capped region) vs the banding's candidate set, recall per
      // threshold. With 5 bands × 4 rows, P(candidate | J) = 1−(1−J⁴)⁵ —
      // near-0 at J≈0.05, near-1 at J≥0.7 — and the fixture's bimodal pair
      // distribution makes the curve discriminating (recall ≈0.86 at 0.05,
      // 1.0 from 0.2 up). Reuses the memoized signature sketch and the
      // inverted-index exact join; the DuckDB twin replays signatures,
      // banding AND ground truth, so the whole calibration is hash-exact.
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val ex = Dedup.exactJaccard(docs, shingleW = 3, threshold = 0.05,
          idCap = 500)
        val cand = Dedup.bandCandidates(Dedup.bandedBuckets(
            Dedup.memoizedSignatures(docs, 3, 20)
              .where(col("doc_id") < 500), 20, 4))
          .withColumn("is_cand", lit(1L))
        val ths = Seq(0.05, 0.2, 0.7).toDF("thresh")
        ex.join(cand, Seq("a_id", "b_id"), "left")
          .crossJoin(broadcast(ths))
          .where(col("jaccard") >= col("thresh"))
          .groupBy("thresh")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("is_cand"), lit(0L))).as("n_hit"))
          .select(col("thresh"), col("n_exact"), col("n_hit"),
            graft.ext.ExactMath.ratioRounded(col("n_hit"), col("n_exact"), 6)
              .as("recall"))
          .orderBy("thresh")
      },
      Some(
        s"""WITH ${minhashCandCtes(" FROM documents WHERE doc_id < 500")}, ex AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS j
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |), th AS (SELECT unnest([0.05::DOUBLE, 0.2::DOUBLE, 0.7::DOUBLE]) AS thresh
          |), jj AS (
          |  SELECT ex.a_id, ex.b_id, ex.j,
          |    CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS is_cand
          |  FROM ex LEFT JOIN cand c ON ex.a_id = c.a_id AND ex.b_id = c.b_id)
          |SELECT thresh, CAST(COUNT(*) AS BIGINT) AS n_exact,
          |  CAST(SUM(is_cand) AS BIGINT) AS n_hit,
          |  (CAST(((2000000::HUGEINT * SUM(is_cand) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS recall
          |FROM jj, th WHERE jj.j >= thresh GROUP BY thresh ORDER BY thresh""".stripMargin)),

    QSpec("dedup_cluster_lsh",
      // The 100 TB dedup pipeline END-TO-END as the verified path: minhash
      // signatures → band-slice candidates → exact-Jaccard verification on
      // candidates only → star-contraction connected components. This is
      // `dedup_cluster` with the pair source swapped from the capped
      // inverted-index exact join to the LSH candidate path — the shape
      // that scales (pair generation never leaves band buckets). The
      // DuckDB twin replays every stage: polynomial signature arithmetic,
      // raw-slice banding, candidate verification, and recursive-CTE
      // reachability for the components.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // UNCAPPED (r6 verdict item 5): the whole corpus goes through the
        // verified path — 500 docs at the sf0.01 verify gate, 5000 at the
        // sf0.1 bench. Tractable for the DuckDB twin because candidate
        // generation (banding) bounds the recursive-CTE edge set; only
        // lsh_recall_curve keeps a cap (its oracle is exact all-pairs).
        //
        // r14: rides the distinct-shingle-set collapse (Dedup.
        // groupedSignatures — the dedup_simhash discipline): banding +
        // verification on one rep per distinct set, and since contraction
        // only needs CONNECTIVITY, clone cliques contract through rep→
        // member STAR edges (gsz−1 per group) instead of the clique's
        // all-pairs edge list — same components, same labels, same sizes,
        // so the raw-doc recursive-CTE oracle is untouched, while edge
        // count drops from Σ clique² to Σ clique.
        //
        // r15 (r14 advice): both sides threshold on ROUND(jaccard, 6) ≥ 0.2
        // — the engine inherits the rounded compare from minhashRepPairs,
        // and the oracle's pairs CTE now rounds identically (the
        // dedup_minhash oracle convention), so a borderline pair lands the
        // same side of the threshold on every engine by construction.
        val grp = Dedup.groupedSignatures(docs, 3, 20)
        val repPairs = Dedup.minhashRepPairs(docs, 3, 20, 4,
            threshold = 0.2)
          .select("a_id", "b_id")
        val starEdges = Dedup.signatureMembers(docs, 3, 20)
          .join(grp.select(col("gkey"), col("rid")), Seq("gkey"))
          .where(col("doc_id") =!= col("rid"))
          .select(col("rid").as("a_id"), col("doc_id").as("b_id"))
        Dedup.clusters(s, docs, repPairs.unionAll(starEdges))
      },
      Some(
        s"""WITH RECURSIVE ${minhashCandCtes(" FROM documents")}, pairs AS (
          |  SELECT a_id, b_id FROM (
          |    SELECT c.a_id, c.b_id,
          |      ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
          |    FROM cand c JOIN sig x ON x.doc_id = c.a_id JOIN sig y ON y.doc_id = c.b_id) v
          |  WHERE jaccard >= 0.2
          |), ${componentCtes("")}
          |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
          |FROM lab JOIN sz USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    QSpec("cluster_keep_policy",
      // The dedup endgame: near-dup clusters (same pairs/labels as
      // dedup_cluster) each keep their HIGHEST-QUALITY member (quality
      // argmax, doc_id tiebreak) instead of the naive min-id — at sf0.01
      // the two policies disagree on 10 of 23 multi-member clusters, so
      // the key verifies the policy, not just the clustering. One window
      // over cluster_id after a metadata-sized label join; the heavy
      // lifting (pair generation, label propagation) reuses the memoized
      // sketch passes the dedup keys already share.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // same memoized labels frame as dedup_cluster — see
        // Dedup.jaccardClustersMemo (one star-contraction pass, two keys)
        val cl = Dedup.jaccardClustersMemo(s, dir)
        val q = docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("quality"))
        val w = Window.partitionBy("cluster_id")
          .orderBy(desc("quality"), asc("doc_id"))
        cl.join(q, "doc_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
            col("cluster_size"), col("quality").as("kept_quality"))
          .orderBy("cluster_id")
      },
      Some(
        s"""$cappedJaccardComponentCtes, q AS (
          |  SELECT doc_id,
          |    CAST(${graft.ext.TextAnalysis.qualityMicrosSql("sp")} AS DOUBLE) / 1000000 AS quality
          |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents WHERE doc_id < 500) d
          |), r AS (
          |  SELECT lab.cluster_id, lab.doc_id, sz.cluster_size, q.quality,
          |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id ORDER BY q.quality DESC, lab.doc_id) AS rn
          |  FROM lab JOIN sz USING (cluster_id) JOIN q USING (doc_id))
          |SELECT cluster_id, doc_id AS kept_doc_id, cluster_size, quality AS kept_quality
          |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    QSpec("dedup_ngram_containment",
      // Near-superset dedup: containment C(a,b) = |A∩B| / min(|A|,|B|)
      // flags truncations/quotations at 1.0 where Jaccard reads only
      // inter/union (the fixture's prefix-truncated near-dups score
      // containment 1.0 vs jaccard ≈0.97; a 10%-prefix quote scores ≈1.0
      // vs ≈0.1 — the case this metric exists for). Same inverted-index
      // candidate shape as dedup_ngram_jaccard — the shingle frame is
      // Memo-shared with it — and the ratio is integer-exact through
      // ExactMath (count / min(count), a rational that CAN sit on a
      // rounding half-boundary, unlike irrational cosines).
      (s, dir) => Dedup.exactContainment(t(s, dir, "documents"),
        shingleW = 3, threshold = 0.5, idCap = 500),
      Some(
        s"""$cappedOverlapCtes
          |SELECT a_id, b_id, containment FROM (
          |  SELECT a_id, b_id,
          |    (CAST(((2000000::HUGEINT * inter + LEAST(na, nb)) // (2::HUGEINT * LEAST(na, nb))) AS DOUBLE) / 1000000) AS containment
          |  FROM pairs) c
          |WHERE containment >= 0.5 ORDER BY a_id, b_id""".stripMargin)),

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
        SimSearch.semanticDedup(emb, SimSearch.scaledK(emb),
          threshold = 0.9)
      },
      Some(
        s"""$semanticDupCtes
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

    QSpec("dedup_exact_normalized",
      // Normalization-aware exact dedup: NFC-compose (X49's kernel), case-
      // fold and collapse whitespace BEFORE the dedup key — the pass that
      // catches "Café␣␣X" vs "café x", byte-different twins plain
      // sha2 dedup misses. Keep-first (min doc_id per normalized key, the
      // engine-wide policy); surface = per-source docs/kept/dropped. The
      // normalization chain is codegen end to end (TextSketch.nfc → lower →
      // regexp_replace → trim → sha2); shuffle rows carry only the 32-byte
      // digest + ids, never bodies (the dedup_exact shape). ASCII
      // single-space fixture ⇒ result equals plain exact dedup — the
      // honest corpus answer; the normalized-twin drop path is pinned in
      // Queries12Spec. Oracle groups on the normalized TEXT itself,
      // certifying the digest compare agrees with text equality (the
      // corpus_diff discipline). Case-fold caveat: Spark lower(),
      // DuckDB lower() and python .lower() agree on the simple 1:1
      // mappings (all this corpus has); locale-sensitive forms (Turkish
      // dotted İ) are out of contract. The whitespace class is EXPLICIT
      // ([ \t\n\x0B\f\r]) because `\s` means three different things here —
      // Java default ASCII, RE2 without \x0B, python Unicode-aware — and
      // an NBSP doc would dedup differently per engine under bare \s.
      (s, dir) => {
        // opt-r16: the former keep-frame + join-back referenced the
        // normalized frame twice, and the join's isnotnull(k) pushdown
        // recomputed the chain a third/fourth time inside each scan's
        // Filter (before-plan, plans/r16/dedup_exact_normalized_before.txt:
        // the NFC→lower→regexp→sha2 chain appears in 2 Filters + 2
        // Projects). Aggregate to the (k, source) grid FIRST — the chain
        // runs ONCE per row, map-side combined — then derive both reports
        // from the grid: the keeper of group k is its min-doc_id row
        // (doc_id unique ⇒ min(struct(mdoc, source)) names it exactly),
        // so per-source n_kept counts keeper rows and n_docs sums the
        // grid's counts. The grid is CHECKPOINTED (the X74/phash
        // discipline): column pruning specializes its two consumers'
        // aggregates (count-only vs min-only), so without it neither
        // ReuseExchange nor the optimizer dedups the subtree and the
        // chain runs twice. The grid is distinct-(k,source)-sized — KBs —
        // while the chain is the dominant per-row cost, so one
        // materialization job buys the second full-corpus normalization
        // pass. Row-identical output; oracle untouched (still the
        // normalized-text join-back).
        val norm = sha2(trim(regexp_replace(
          lower(TextAnalysis.nfc(col("text"))), "[ \\t\\n\\x0B\\f\\r]+", " ")), 256)
        val grid = graft.ext.Dedup.truncate(t(s, dir, "documents")
          .select(col("doc_id"), col("source"), norm.as("k"))
          .groupBy("k", "source")
          .agg(min("doc_id").as("mdoc"), count(lit(1)).as("c")))
        val kept = grid.groupBy("k")
          .agg(min(struct(col("mdoc"), col("source"))).as("r"))
          .groupBy(col("r.source").as("source"))
          .agg(count(lit(1)).as("n_kept"))
        grid.groupBy("source").agg(sum("c").as("n_docs"))
          .join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
          .orderBy("source")
      },
      Some(
        """WITH n AS (SELECT doc_id, source,
          |    trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS k
          |  FROM documents),
          |keep AS (SELECT k, MIN(doc_id) AS keep_id FROM n GROUP BY k)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
          |FROM n JOIN keep USING (k) GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("fingerprint_winnowing",
      // Corpus fingerprint audit: per source, how many fingerprints the
      // winnowed index holds, how many docs share at least one fingerprint
      // with an earlier (smaller-id) doc — the overlap-candidate rate the
      // MOSS matcher would go on to verify — and the hottest fingerprint's
      // document frequency (the posting the matcher must cap).
      //
      // Scale shape: text is dropped at the first projection (only
      // (doc_id, source, hash, pos) longs ride); per-doc windows are ONE
      // shuffle by doc_id with frames bounded by doc length; the global
      // min-doc/df pass is a groupBy(fp).agg(min, count) + join back, NOT
      // a whole-partition window — the grouped form gets map-side combine
      // (a hot boilerplate fingerprint collapses to one partial row per
      // mapper before the shuffle) and the join-back is AQE-skew-splittable,
      // where a Window.partitionBy(fp) would ship the hot posting's every
      // row to one unsplittable task. Docs shorter than W + k − 1 tokens
      // keep pos 0's (truncated) window, so every doc carries ≥ 1
      // fingerprint.
      (s, dir) => {
        // k = 4-token shingles, w = 4-hash winnowing window (ext.Winnow
        // holds the selection core, shared with PropertySpec's randomized
        // guarantee sweep)
        val fp = graft.ext.Winnow.fingerprintFrameMemo(t(s, dir, "documents"))
        val fpStats = fp.groupBy("fp")
          .agg(min("doc_id").as("min_doc"), count(lit(1)).as("fp_df"))
        fp.join(fpStats, "fp")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_fp"),
            max((col("min_doc") < col("doc_id")).cast("long")).as("flag"),
            max("fp_df").as("max_df"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_fp").as("n_fingerprints"),
            sum("flag").as("flagged_docs"),
            max("max_df").as("max_fp_df"))
          .orderBy("source")
      },
      Some(
        """WITH sh AS (
          |  SELECT doc_id, source, CASE WHEN len(sp) < 4 THEN [text]
          |    ELSE list_transform(range(1, len(sp) - 2),
          |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) END AS sh
          |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS sp FROM documents) d),
          |hs AS (SELECT doc_id, source, list_transform(sh, g ->
          |    list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(range(1, length(g)+1), i -> CAST(unicode(g[i]) AS BIGINT))),
          |      (a, c) -> (a * 131 + c) % 1000000007)) AS hl FROM sh),
          |p AS (SELECT doc_id, source, u.pos AS pos, u.h AS h FROM (
          |    SELECT doc_id, source, unnest(list_transform(range(1, len(hl)+1),
          |      i -> {'pos': i - 1, 'h': hl[i]})) AS u FROM hs)),
          |w AS (SELECT doc_id, source, pos, h,
          |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
          |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin FROM p),
          |fp AS (SELECT DISTINCT doc_id, source, wmin AS fp FROM w
          |  WHERE pos <= GREATEST(0, n - 4)),
          |g AS (SELECT doc_id, source,
          |    MIN(doc_id) OVER (PARTITION BY fp) AS min_doc,
          |    COUNT(*) OVER (PARTITION BY fp) AS fp_df FROM fp),
          |d2 AS (SELECT doc_id, source, COUNT(*) AS n_fp,
          |    MAX(CASE WHEN min_doc < doc_id THEN 1 ELSE 0 END) AS flag,
          |    MAX(fp_df) AS max_df FROM g GROUP BY doc_id, source)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_fp) AS BIGINT) AS n_fingerprints,
          |  CAST(SUM(flag) AS BIGINT) AS flagged_docs,
          |  CAST(MAX(max_df) AS BIGINT) AS max_fp_df
          |FROM d2 GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("winnow_match_spans",
      // X57 — fingerprint-VERIFIED span extraction: candidate pairs come
      // from the winnowed index (docs sharing a fingerprint whose document
      // frequency is in [2, 16] — the df cap is the boilerplate screen
      // source_overlap_matrix uses: a fingerprint in 30% of the corpus is
      // template noise, and capping it bounds pair work by cap²·|fps|, not
      // corpus²); each pair is then verified EXACTLY by joining its 4-token
      // shingle streams and reading maximal diagonal runs (gaps-and-islands
      // on pb − pa), emitting every maximal shared run of ≥ 7 tokens —
      // exactly the runs the winnowing guarantee promises the index
      // discovers (w + k − 1 = 7), so discovery and verification close.
      //
      // Scale shape: the df pass is groupBy + join-back (map-side combine,
      // AQE-splittable — the r12 posting discipline); pair generation is a
      // self-equi-join on capped fingerprints (≤ cap²/2 pairs per fp);
      // verification joins ride (doc_id) and (doc_id, gram-hash) keys —
      // bodies never shuffle, shingle identity travels as xxhash64 (64-bit;
      // collisions only INFLATE candidate points and are filtered by the
      // consecutive-run check, while the 30-bit polyhash family stays
      // confined to the winnowing stage where its collisions only ADD
      // candidate pairs that verify to nothing); the islands window
      // partitions by (pair, diagonal) — frames bounded by doc length, the
      // accepted doc-bounded window class. Docs shorter than 7 tokens are
      // dropped before the gram join (they cannot contain a 7-token run).
      // Implementation core shared with `dedup_span_removal` (X58):
      // ext.Winnow.matchSpans, memoized per corpus.
      (s, dir) =>
        graft.ext.Winnow.matchSpans(t(s, dir, "documents"))
          .orderBy("a_id", "b_id", "a_start", "b_start"),
      Some(
        s"""$winnowSpanCtes
          |SELECT a_id, b_id, CAST(MIN(pa) AS INT) AS a_start,
          |  CAST(MIN(pb) AS INT) AS b_start,
          |  CAST(COUNT(*) + 3 AS BIGINT) AS run_tokens
          |FROM seg2 GROUP BY a_id, b_id, diag, seg
          |HAVING COUNT(*) + 3 >= 7
          |ORDER BY a_id, b_id, a_start, b_start""".stripMargin)),

    QSpec("dedup_span_removal",
      // X58 — APPLY the verified spans: the keep-first policy (Lee et al.,
      // arXiv:2107.06499 — remove the duplicated substring from the later
      // occurrence): the LATER doc of each discovered pair sheds the
      // tokens its shared runs cover; coverage is the UNION of the doc's
      // b-side spans (distinct token positions, so overlapping runs on
      // different diagonals never double-count a token). Surface = per-doc
      // before/removed/after token counts + keep ratio — the attrition
      // accounting a span-dedup stage reports (curation_attrition's
      // sibling at span granularity). Scale shape: spans ride the
      // memoized matchSpans frame (shared with X57 — computed ONCE per
      // session); the position explode is bounded by covered-token count
      // ≤ doc length; then one distinct, one grouped count (map-side
      // combine), and a left join back to the per-doc token counts.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val covered = graft.ext.Winnow.coveredPositions(docs)
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        docs.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_tokens"),
            (col("n_tok") - coalesce(col("n_dup"), lit(0L))).as("n_keep"),
            graft.ext.ExactMath.ratioRounded(
              col("n_tok") - coalesce(col("n_dup"), lit(0L)), col("n_tok"), 6)
              .as("keep_ratio"))
          .orderBy("doc_id")
      },
      Some(
        s"""$coveredPositionCtes,
          |cc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
          |  FROM cov GROUP BY doc_id),
          |tk AS (SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
          |SELECT tk.doc_id AS doc_id, n_tok,
          |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_tokens,
          |  CAST(n_tok - COALESCE(n_dup, 0) AS BIGINT) AS n_keep,
          |  ${ExactMath.ratioRoundedSql("n_tok - COALESCE(n_dup, 0)", "n_tok", 6)} AS keep_ratio
          |FROM tk LEFT JOIN cc ON tk.doc_id = cc.doc_id
          |ORDER BY doc_id""".stripMargin)),

    QSpec("dedup_span_clean",
      // X59 — EMIT the deduplicated corpus: each doc's text with its
      // covered token positions (the X58 keep-first union) removed and the
      // survivors re-joined — the artifact a span-dedup stage actually
      // ships (Lee et al., arXiv:2107.06499 §4 trains on the deduplicated
      // text, not on attrition counts). Scale shape: covered positions
      // collapse to ONE sorted per-doc array (bounded by doc length), join
      // docs on doc_id — one row per doc, text rides the join exactly once
      // — and the removal is a per-row indexed-filter HOF over the token
      // array: no token-granularity explode, no token-level shuffle, and
      // docs without spans pass through untouched via the left join.
      // Uncovered docs keep their text verbatim (token-join with single
      // spaces is identity on the single-space fixture contract the whole
      // token surface shares — see n_tok in X58). Removal is kept-position
      // SET SUBTRACTION (r14, closing the r13 verdict's minor finding):
      // array_except(all positions, covered) is hash-set linear in doc
      // length, where the previous per-token array_contains re-scanned the
      // covered array per token — O(len·cov) per doc; both inputs are
      // duplicate-free position arrays and array_except preserves
      // left-operand order, so kept tokens (duplicates included — they sit
      // at distinct positions) are byte-identical to the filter form.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val covArr = graft.ext.Winnow.coveredPositions(docs)
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("cps"))
        docs.join(covArr, Seq("doc_id"), "left")
          .select(col("doc_id"), split(col("text"), " ").as("toks"),
            coalesce(col("cps"), array().cast("array<long>")).as("cps"))
          .select(col("doc_id"), col("toks"),
            array_except(
              sequence(lit(0L), size(col("toks")).cast("long") - 1L),
              col("cps")).as("keep_pos"))
          .select(col("doc_id"),
            transform(col("keep_pos"),
              p => element_at(col("toks"), (p + 1L).cast("int"))).as("kept"))
          .select(col("doc_id"),
            size(col("kept")).cast("long").as("n_keep"),
            array_join(col("kept"), " ").as("clean_text"))
          .orderBy("doc_id")
      },
      Some(
        s"""$coveredPositionCtes,
          |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(sp)+1),
          |      i -> {'pos': i - 1, 'tok': sp[i]})) AS u FROM sp)),
          |keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
          |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
          |  WHERE c.doc_id IS NULL),
          |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_keep,
          |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
          |  FROM keep GROUP BY doc_id)
          |SELECT d.doc_id AS doc_id,
          |  CAST(COALESCE(a.n_keep, 0) AS BIGINT) AS n_keep,
          |  COALESCE(a.clean_text, '') AS clean_text
          |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
          |ORDER BY doc_id""".stripMargin)),

    QSpec("dedup_semantic_clean",
      // X64 — the keeper manifest dedup_semantic only counts: one row per
      // nonzero-norm vector with (cluster, kept) under the keep-first
      // policy at cos ≥ 0.9 and corpus-scaled k. The fixture plants no
      // semantic dups, so kept = 1 everywhere is the honest corpus answer
      // (the oracle still pins the full assignment + pair chain; the drop
      // path is pinned by Queries14Spec's planted duplicate).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        SimSearch.semanticKeepers(emb, SimSearch.scaledK(emb),
          threshold = 0.9)
      },
      Some(
        s"""$semanticDupCtes
           |SELECT vec_id, cluster,
           |  CAST(CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
           |FROM asg LEFT JOIN d ON asg.vec_id = d.b_id
           |ORDER BY vec_id""".stripMargin)),

    QSpec("dedup_semantic_incremental",
      // X66 — a NEW embedding batch (vec_id % 10 >= 7) arrives against an
      // already-deduped corpus (vec_id % 10 < 7): assigned to the
      // EXISTING centroid frame, checked against KEPT base vectors only,
      // the base manifest untouched (keep-first across runs). The batch
      // split is the dedup_incremental fixture policy; k scales with the
      // BASE corpus (the index that exists at ingest time). The driver
      // fixture plants no cross-batch near-dups, so kept = 1 everywhere is
      // the honest corpus answer — the oracle still re-derives both
      // assignments, the base keeper set, and the cross join from scratch;
      // the drop path is pinned by Queries15Spec's planted duplicate.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val b1 = emb.where(expr("vec_id % 10 < 7"))
        val b2 = emb.where(expr("vec_id % 10 >= 7"))
        SimSearch.incrementalKeepers(b2, b1,
          SimSearch.scaledK(b1),
          threshold = 0.9)
      },
      Some(
        s"""WITH e AS (SELECT vec_id, v FROM (
          |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |    FROM embeddings) raw
          |  WHERE list_sum(list_transform(v, x -> x*x)) > 0),
          |b1 AS (SELECT * FROM e WHERE vec_id % 10 < 7),
          |b2 AS (SELECT * FROM e WHERE vec_id % 10 >= 7),
          |kk AS (SELECT GREATEST(8, COUNT(*) // 256) AS k FROM embeddings WHERE vec_id % 10 < 7),
          |cent AS (SELECT ci, cv, c2 FROM (
          |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv,
          |      list_sum(list_transform(v, x -> x*x)) AS c2 FROM b1) c, kk
          |  WHERE c.ci < kk.k),
          |asg1 AS (SELECT vec_id, v, ci AS cluster FROM (
          |    SELECT b1.vec_id, b1.v, cent.ci,
          |      row_number() OVER (PARTITION BY b1.vec_id ORDER BY
          |        list_sum(list_transform(range(len(b1.v)), i -> b1.v[i+1]*cent.cv[i+1])) * -2.0 + cent.c2,
          |        cent.ci) AS rk
          |    FROM b1, cent) r WHERE rk = 1),
          |asg2 AS (SELECT vec_id, v, ci AS cluster FROM (
          |    SELECT b2.vec_id, b2.v, cent.ci,
          |      row_number() OVER (PARTITION BY b2.vec_id ORDER BY
          |        list_sum(list_transform(range(len(b2.v)), i -> b2.v[i+1]*cent.cv[i+1])) * -2.0 + cent.c2,
          |        cent.ci) AS rk
          |    FROM b2, cent) r WHERE rk = 1),
          |p1 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          |    $cosineAB
          |  FROM asg1 a JOIN asg1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
          |d1 AS (SELECT DISTINCT b_id FROM p1 WHERE cos >= 0.9),
          |kept1 AS (SELECT asg1.vec_id, asg1.v, asg1.cluster
          |  FROM asg1 LEFT JOIN d1 ON asg1.vec_id = d1.b_id WHERE d1.b_id IS NULL),
          |p2 AS (SELECT n.vec_id AS a_id,
          |    ROUND(list_sum(list_transform(range(1, len(n.v)+1), i -> n.v[i]*k.v[i])) /
          |      (sqrt(list_sum(list_transform(n.v, x -> x*x))) * sqrt(list_sum(list_transform(k.v, x -> x*x)))), 6) AS cos
          |  FROM asg2 n JOIN kept1 k ON n.cluster = k.cluster),
          |d2 AS (SELECT DISTINCT a_id FROM p2 WHERE cos >= 0.9)
          |SELECT asg2.vec_id, asg2.cluster,
          |  CAST(CASE WHEN d2.a_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
          |FROM asg2 LEFT JOIN d2 ON asg2.vec_id = d2.a_id
          |ORDER BY vec_id""".stripMargin)),

    QSpec("dedup_minhash_incremental",
      // X69 — cross-run incremental MinHash dedup, the text-tier sibling
      // of dedup_semantic_incremental: the NEW batch (doc_id%10 >= 7, the
      // dedup_incremental fixture policy) is screened against the KEPT
      // docs of the already-deduped BASE corpus (doc_id%10 < 7) under the
      // exact dedup_minhash family; the base manifest never changes. The
      // oracle replays the whole chain per-doc — signatures, base banding
      // + keep-first drop set, cross banding against keepers, rounded
      // Jaccard ≥ 0.7 — with no group collapse, certifying the engine's
      // rep-level derivation is a pure optimization.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.minhashIncrementalKeepers(
          docs.where(expr("doc_id % 10 >= 7")),
          docs.where(expr("doc_id % 10 < 7")))
      },
      Some(
        s"""WITH ${minhashSigCtes("sh0", " FROM documents")}, bsig AS (SELECT * FROM sig WHERE doc_id % 10 < 7),
          |nsig AS (SELECT * FROM sig WHERE doc_id % 10 >= 7),
          |bb AS (SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM bsig, range(5) t(b)),
          |bc AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM bb a JOIN bb b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
          |bdrop AS (SELECT DISTINCT c.b_id FROM bc c
          |  JOIN bsig x ON x.doc_id = c.a_id JOIN bsig y ON y.doc_id = c.b_id
          |  WHERE ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) >= 0.7),
          |kept AS (SELECT * FROM bsig WHERE doc_id NOT IN (SELECT b_id FROM bdrop)),
          |nb AS (SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM nsig, range(5) t(b)),
          |kb AS (SELECT doc_id, b, sig[b*4+1 : b*4+4] AS key FROM kept, range(5) t(b)),
          |xc AS (SELECT DISTINCT n.doc_id AS n_id, k.doc_id AS k_id
          |  FROM nb n JOIN kb k ON n.b = k.b AND n.key = k.key),
          |hit AS (SELECT DISTINCT c.n_id FROM xc c
          |  JOIN nsig x ON x.doc_id = c.n_id JOIN kept y ON y.doc_id = c.k_id
          |  WHERE ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) >= 0.7)
          |SELECT n.doc_id,
          |  CAST(CASE WHEN h.n_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
          |FROM nsig n LEFT JOIN hit h ON n.doc_id = h.n_id
          |ORDER BY doc_id""".stripMargin)),

    QSpec("decontaminate_eval",
      // X72 — per-doc decontamination manifest (the decision-artifact face
      // of decontaminate_ngram's per-source rollup): per train doc
      // (doc_id%10 != 3),
      // the fraction of its distinct 3-shingles that appear anywhere in
      // the eval split (doc_id%10 == 3); flag at rounded fraction >= 0.5.
      // The eval shingle set is broadcast (benchmark-sized by nature).
      (s, dir) => decontaminateEval(t(s, dir, "documents"),
        evalMod = 3L, flagAt = 0.5),
      Some(
        s"""WITH sh0 AS (${shingleSets(" FROM documents")}),
          |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh0),
          |ev AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 3),
          |a AS (SELECT doc_id, COUNT(*) AS n_shingles,
          |    COUNT(*) FILTER (WHERE g IN (SELECT g FROM ev)) AS n_hits
          |  FROM ex WHERE doc_id % 10 <> 3 GROUP BY 1)
          |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
          |  CAST(n_hits AS BIGINT) AS n_hits,
          |  ${graft.ext.ExactMath.ratioRoundedSql("n_hits", "n_shingles", 6)} AS contamination,
          |  CAST(CASE WHEN ${graft.ext.ExactMath.ratioRoundedSql("n_hits", "n_shingles", 6)} >= 0.5
          |    THEN 1 ELSE 0 END AS INT) AS flagged
          |FROM a ORDER BY doc_id""".stripMargin)))
}
