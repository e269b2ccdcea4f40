package graft.ext

import graft.Memo
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** X3/X4: similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path is a broadcast of the (tiny) query
  * vector against a single scan of the corpus — no shuffle, fully
  * codegen'd higher-order expressions, linear in corpus size and
  * embarrassingly parallel across partitions. The bucketed (LSH) path cuts
  * candidate pairs to co-bucketed vectors so the self-join shuffles only
  * bucket-local groups — the 100 TB posture where O(n²) is not an option.
  */
object SimSearch {

  /** Cast float embedding to double once — keeps all arithmetic in fp64 so
    * results are reproducible against the DuckDB oracle. */
  // opt-r15: plain Cast — codegen'd elementwise widening; the former
  // transform(c, _.cast("double")) ran an interpreted per-element lambda
  // (HOFs are CodegenFallback) on every embedding row
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Native codegen dot product — bit-identical to the interpreted
    * `aggregate(zip_with(…))` fold (same ascending summation order) but
    * ~100× cheaper per pair; see graft.functions.VectorDot. */
  def dot(a: Column, b: Column): Column = {
    GraftColumnBridge.column(graft.functions.VectorDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** (vec_id, v, nrm) — norms precomputed once per vector so pairwise work
    * is only the dot product (norms in the pair expression would be
    * recomputed per partner — 3× the flops).
    *
    * Zero-norm (all-zero) vectors are DROPPED here: their cosine is 0/0 =
    * NaN, and Spark's NaN-greatest semantics would pass `cos >= threshold`
    * and rank them FIRST under desc ordering — spurious top matches from
    * vectors that have no direction. Cosine similarity is undefined for
    * them; excluding at the one norm site keeps every retriever consistent. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .where(col("nrm") > 0)

  /** The `k` rows of `cands` with the highest 6-place rounded cosine to the
    * one-row `query` (both [[withNorm]] frames), vec_id ascending among
    * ties: the query row is broadcast against one scan of the candidates. */
  private def topByCosine(cands: DataFrame, query: DataFrame, k: Int): DataFrame =
    cands.crossJoin(broadcast(query.select(col("v").as("qv"), col("nrm").as("qnrm"))))
      .select(col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)

  /** Brute-force top-k cosine neighbors of one query vector. */
  def topK(spark: SparkSession, emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val e = withNorm(emb)
    topByCosine(e.where(col("vec_id") =!= queryVecId),
      e.where(col("vec_id") === queryVecId), k)
  }

  /** Filtered ANN (X61): metadata predicate + top-k cosine in ONE scan —
    * the most common real retrieval shape (RAG with a tenant/source/label
    * filter). The predicate is applied to the RAW scan columns before any
    * vector math, so it reaches the parquet reader as a pushed filter
    * (pinned in PlanSpec): at 100 TB a label that keeps 10% of the corpus
    * means 90% of row groups never decode an embedding, and with a
    * label-partitioned layout the pruning is partition-level. Everything
    * after the filter is exactly [[topK]]'s shape: broadcast one query
    * row, one codegen-dot scan, TakeOrdered — no shuffle, no corpus
    * window. The query vector is looked up UNFILTERED (a probe may carry
    * any label); candidates with the query's own vec_id are excluded as
    * usual. */
  def filteredTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      k: Int, labelValue: Int): DataFrame = {
    topByCosine(
      withNorm(emb.where(col("label") === labelValue && col("vec_id") =!= queryVecId)),
      withNorm(emb.where(col("vec_id") === queryVecId)), k)
  }

  /** Deterministic hyperplane weight for plane `q`, dimension `i`:
    * w(q,i) = ((i·2654435761 + q·2246822519 + i·q·3266489917) mod 1000) − 500.
    *
    * The i·q cross term is what makes planes INDEPENDENT of each other —
    * the r12 family w(p,i) = ((i·2654435761 + p·40503) mod 1000 − 500)
    * varied only by a per-plane shift, so sign(v·w_p) was strongly
    * correlated across p: at sf1 just 46 of 256 buckets were populated and
    * the top bucket held 30% of all vectors (measured), turning the
    * "bucketed" join quadratic inside a handful of hot buckets. With the
    * cross term every bucket populates and the max bucket drops ~66×.
    * All terms are positive and < 5e12, so plain int64 arithmetic is exact
    * and any SQL engine replays the weights bit-for-bit. */
  def planeWeight(q: Int, i: Int): Double =
    ((i.toLong * 2654435761L + q.toLong * 2246822519L +
      i.toLong * q.toLong * 3266489917L) % 1000L).toDouble - 500.0

  /** Sign-pattern bucket of band `band` (planes band·r … band·r+r−1): bit j
    * set iff v · w(band·r+j) ≥ 0. The weights are plan-time literal arrays,
    * so each projection is one codegen VectorDot (ascending fold — exactly
    * the arithmetic the DuckDB oracle replays). */
  def bandBucket(v: Column, dim: Int, rPlanes: Int, band: Int): Column = {
    val bits = (0 until rPlanes).map { j =>
      val q = band * rPlanes + j
      val w = array((0 until dim).map(i => lit(planeWeight(q, i))): _*)
      when(dot(v, w) >= 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Fixed band count for the ANN OR-amplification (see [[annSelfJoin]]):
    * a pair is a candidate if it agrees on ALL r planes of ANY of the
    * `annBands` bands — recall 1−(1−p^r)^L per the standard LSH AND-OR
    * construction, paid for with L× candidate-generation work. */
  val annBands: Int = 8

  /** Corpus-scaled planes-per-band for [[annSelfJoin]]: the smallest r with
    * 2^r ≥ ⌈n/8⌉, clamped to [8, 30] — expected band-bucket population
    * stays ~8 as the corpus grows, so per-band candidate work stays O(n)
    * instead of O(n²/2^r) with a stale fixed r (the r12 shape: r=8 forever
    * = 256 buckets forever, measured ×60 at 10× rows). The count is a
    * build-time driver action by necessity (r shapes the plan's literal
    * plane set), memoized per (session, corpus) alongside [[scaledK]]'s.
    * The 30-plane cap keeps band buckets in INT range; past n ≈ 8·2^30
    * vectors bucket population starts growing again — at that scale the
    * band id becomes a BIGINT and the cap lifts. */
  def scaledPlanes(emb: DataFrame): Int = {
    val n = corpusSize(emb)
    val target = math.max(1L, (n + 7L) / 8L)
    val ceilLog2 = if (target <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(target - 1L)
    math.max(8, math.min(30, ceilLog2))
  }

  /** The ANN pair set of the fixture embeddings table, materialized once
    * per corpus — consumed by simjoin_ann's downstream keys (the
    * PageRank recurrence references it in every iteration's subtree) and
    * warmed untimed by Bench like the pipeline's profile caches. Single
    * definition so call sites can't drift on the LSH parameters. */
  def annPairsMemo(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.catalog.TableRegistry.table(spark, dir, "embeddings")
    Memo.frame("annpairs", emb) {
      // truncate lineage, not just persist: the banded projection's LOGICAL
      // plan carries nBands·r 64-literal weight arrays, and the PageRank
      // recurrence re-analyzes the pair frame's plan ~2 trees per iteration
      // — with the r13 banded build that re-analysis alone cost +2.2 s at
      // sf0.1 (1.6 → 3.8 s, data UNchanged). localCheckpoint collapses the
      // consumer-visible plan to a flat scan; the cached data is identical.
      Dedup.truncate(
        annSelfJoin(spark, emb, dim = 64,
          rPlanes = scaledPlanes(emb), nBands = annBands, threshold = 0.25)
          .select("a_id", "b_id"))
    }
  }

  /** Banded random-hyperplane ANN self-join: pairs (a < b) with cosine ≥
    * threshold, candidates restricted to pairs agreeing on all `rPlanes`
    * sign bits of at least one of `nBands` bands (the AND-OR LSH
    * construction — per-band precision from r planes, recall recovered by
    * OR-ing L bands; same shape as the minhash banding one file over).
    *
    * Scale design (r13, replacing the single fixed 8-plane band):
    *  - r is corpus-scaled by the caller (see [[scaledPlanes]]) so expected
    *    band-bucket population — and with it per-band candidate work per
    *    vector — stays constant as the corpus grows (measured: sf1/sf0.1
    *    candidate ratio ×10 at 10× rows, vs ×100 with fixed r).
    *  - candidates are generated SKINNY: only (band, bucket, vec_id) rides
    *    the self-join shuffle; the 512-byte vectors join back onto the
    *    deduplicated pair set for verification instead of riding every
    *    band-bucket collision (the r12 form shuffled both vectors through
    *    the join and materialized them per candidate row).
    * The banded projection (nBands · rPlanes codegen VectorDots) feeds both
    * join sides, so it is materialized once per corpus. */
  def annSelfJoin(spark: SparkSession, emb: DataFrame, dim: Int,
      rPlanes: Int, nBands: Int, threshold: Double): DataFrame = {
    val e = Memo.frame(s"ann:$dim:$rPlanes:$nBands", emb) {
      withNorm(emb)
    }
    val banded = Memo.frame(s"annbands:$dim:$rPlanes:$nBands", emb) {
      e.select(col("vec_id"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            bandBucket(col("v"), dim, rPlanes, b).as("bucket"))): _*)).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    val a = banded.select(col("band"), col("bucket"), col("vec_id").as("a_id"))
    val b = banded.select(col("band"), col("bucket"), col("vec_id").as("b_id"))
    val cand = a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val va = e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Drop every memo owned by `spark` ([[Memo.clear]]): centroid
    * matrices, corpus sizes, PCA directions and persisted index frames. */
  def clear(spark: org.apache.spark.sql.SparkSession): Unit = Memo.clear(spark)

  /** Corpus-scaled cluster count k = max(8, n div 256): SemDeDup-style
    * clustering keeps the EXPECTED cluster size constant (~256) as the
    * corpus grows, so within-cluster pairwise work stays O(n · 256), never
    * O(n² / k) with a stale fixed k. The count is a build-time driver
    * action by necessity (k shapes the plan's literal centroid set,
    * exactly like [[seedCentroids]]'s collect) — memoized per corpus so
    * repeated builds over one fixture cost one metadata-sized job total. */
  def scaledK(emb: DataFrame): Int =
    math.max(8L, corpusSize(emb) / 256L).toInt

  /** Corpus row count backing every corpus-scaled index parameter
    * ([[scaledK]], [[scaledPlanes]]) — memoized per corpus so repeated
    * index builds over one fixture cost one metadata-sized job. */
  def corpusSize(emb: DataFrame): Long =
    Memo.of("corpussize", emb)(emb.count())

  /** (ci, cv, c2) centroid index frame for the corpus-scaled assignment:
    * the first `k` nonzero-norm vectors by vec_id, indexed 0..k−1 in
    * vec_id order, with ‖c‖² precomputed (the same ascending-fold sum of
    * squares the oracle replays). Centroids stay a DATAFRAME end to end —
    * they reach executors through the broadcast machinery (torrent blocks),
    * never as plan literals through the driver: with k = n/256 the r12
    * literal form would have pushed ~50 GB of centroid constants through
    * plan compilation at 100 TB. The row_number window runs AFTER limit(k)
    * — a k-row index-build step (one TakeOrdered task), not a corpus
    * window; at extreme scale the centroid index is an offline artifact
    * built once, exactly like an IVF codebook. */
  def centroidFrame(emb: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Memo.frame(s"centroidframe:$k", emb) {
      withNorm(emb).orderBy("vec_id").limit(k)
        .withColumn("ci",
          (row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
        .select(col("ci"), col("v").as("cv"), dot(col("v"), col("v")).as("c2"))
    }
  }

  /** [[centroidFrame]] from an in-memory centroid matrix (the k-means loop's
    * per-iteration state): same (ci, cv, c2) schema, ‖c‖² as the driver-side
    * ascending fold — the identical IEEE sequence the codegen dot produces,
    * so matrix- and corpus-seeded frames rank identically. The matrix is
    * metadata-sized (k × dim doubles, the only driver state any distributed
    * k-means keeps) and reaches executors through the broadcast machinery
    * like every centroid frame — never as plan literals. */
  def centroidFrameOf(spark: SparkSession,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq
      .map { case (i, c) => (i, c.toSeq, c.foldLeft(0.0)((a, x) => a + x * x)) }
      .toDF("ci", "cv", "c2")
  }

  /** THE argmin: every (vec_id, v) row of `e` gets its nearest centroid
    * from the (ci, cv, c2) frame `cents` — (vec_id, cluster, m) with
    * m = −2·v·c* + ‖c*‖² (so ‖v−c*‖² = ‖v‖² + m). Single implementation on
    * purpose (r13 verdict item 2): the broadcast-frame + min-struct shape
    * is the ONLY assignment form in the file, so no caller can reintroduce
    * the r12 literal-unrolled argmin (k baked into plan size, centroids
    * pushed through the driver as plan constants — measured ×31 at 10×
    * rows when k became corpus-scaled). The expansion never shuffles: all
    * k candidates of a row are produced in its partition, the hash
    * aggregate combines map-side, and the exchange carries n skinny
    * (vec_id, m, ci) rows. Tie-break: struct ordering compares m then ci —
    * the lowest index on equal distance, exactly the oracle's
    * row_number(ORDER BY m, ci). */
  private def argminAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct((dot(col("v"), col("cv")) * -2.0 + col("c2")).as("m"),
          col("ci")).as("mc"))
      .groupBy("vec_id")
      .agg(min(col("mc")).as("mc"))
      .select(col("vec_id"), col("mc.ci").as("cluster"), col("mc.m").as("m"))

  /** (vec_id, v, cluster, m) — every nonzero-norm embedding assigned to
    * its nearest of the first-k seed centroids (the kmeans_iterate E-step),
    * carrying the assigned minimum m = −2·v·c* + ‖c*‖² for distance math
    * (‖v−c*‖² = ‖v‖² + m). Zero-norm vectors are excluded up front (cosine
    * consumers — the norm-site rule above).
    *
    * Shape (r13, replacing the unrolled k-literal projection): a broadcast
    * join against [[centroidFrame]] expands each row to its k candidate
    * (m, ci) pairs — ONE codegen VectorDot each — and a min-struct
    * aggregate takes the argmin with the low-index tie-break (struct
    * ordering compares m then ci, exactly the oracle's
    * row_number(ORDER BY m, ci)). The expansion never shuffles: all k
    * candidates of a row are produced in its partition, so the hash
    * aggregate combines map-side and the exchange carries n skinny
    * (vec_id, m, ci) rows; `v` rejoins from the corpus scan afterwards
    * rather than riding the n×k expansion. Per-row work is O(k·dim) —
    * intrinsic to exact argmin over a corpus-scaled codebook — but the
    * plan no longer bakes k into its SIZE: codegen is k-independent, and
    * centroids transit as broadcast data, not literals. */
  def assignClusters(emb: DataFrame, k: Int): DataFrame = {
    // memoized + persisted per (corpus, k): the SemDeDup pair join reads
    // this frame from BOTH sides and the stats key reads it again — one
    // k-literal projection pass serves all of them (at 100 TB the
    // equivalent is materializing the assignment once at index-build time)
    Memo.frame(s"clusterassign:$k", emb) {
      val e = withNorm(emb).select(col("vec_id"), col("v"))
      e.join(argminAssign(e, centroidFrame(emb, k)), Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("cluster"), col("m"))
    }
  }

  /** Pair-side cap for [[semanticDedup]]: a cluster over this size splits
    * into ⌈size/cap⌉ deterministic sub-buckets before the pairwise join.
    * [[scaledK]] bounds only the EXPECTED cluster size (~256); SemDeDup's
    * real input is adversarially clustered by construction (a crawl of
    * templated pages = a mass of near-identical embeddings collapsing into
    * ONE cluster around a single seed), and an unbounded hot cluster
    * re-creates O(n²) inside it however well k scales. The default sits
    * 16× above the expected size, so it never engages on honestly
    * clustered data (every driver fixture + sf1/skew stress measured well
    * under it — see surface.DedupKeys' dedup_semantic notes) and the declared key's output
    * — and its DuckDB oracle — are byte-identical to the uncapped form
    * there. When it DOES engage, pairing within (cluster, sub) is the
    * documented SemDeDup cap approximation: at most ⌈size/cap⌉ − 1 extra
    * survivors per hot cluster (one per sub-bucket), reported loudly. */
  val maxClusterSide: Int = 4096

  /** [[assignClusters]] output + (csz, sub): per-cluster population joined
    * back (broadcast — the size frame is k rows), and the sub-bucket id —
    * 0 for every vector of a within-cap cluster, xxhash64(vec_id) mod
    * ⌈csz/cap⌉ for oversized ones (a MIXED split on purpose: the hot
    * cluster's vectors are near-identical, so no value-derived axis —
    * prefix sign, quantized dim — separates them; only an id-derived hash
    * splits a clone mass evenly, and sequential-id masses are exactly the
    * crawl shape). Factored out of [[semanticDedup]] so the boundedness
    * property is testable on its own. */
  private[graft] def boundedPairSides(e: DataFrame, maxSide: Int): DataFrame = {
    val sizes = e.groupBy("cluster").agg(count(lit(1)).as("csz"))
    e.join(broadcast(sizes), Seq("cluster"))
      .withColumn("nsub",
        when(col("csz") <= maxSide, lit(1L))
          .otherwise(floor((col("csz") + lit(maxSide.toLong - 1L)) /
            lit(maxSide.toLong)).cast("long")))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsub")))
  }

  /** SemDeDup core: within each cluster of [[assignClusters]], flag the
    * higher vec_id of every pair with round(cos, 6) ≥ threshold and report
    * per-cluster (n_vecs, n_dup, n_kept). The pairwise self-join is keyed
    * on the cluster id — plus the [[boundedPairSides]] sub-bucket, so even
    * an adversarial hot cluster caps per-group pair work at ~maxSide²
    * (identical output wherever no cluster exceeds [[maxClusterSide]],
    * which is every declared fixture — the oracle replays the uncapped
    * form). Total pair work with corpus-scaled k (see [[scaledK]]) stays
    * O(n · expected-cluster-size). */
  /** The flagged-duplicate id set (single column b_id) over an
    * [[assignClusters]] frame — the shared core of [[semanticDedup]] and
    * [[semanticKeepers]]. */
  private def semanticDups(e: DataFrame, threshold: Double,
      maxSide: Int): DataFrame = {
    val withSub = boundedPairSides(e, maxSide)
    // loud, metadata-sized: the size frame is k rows and the assignment is
    // the memoized index this stage needs anyway — a silent engage would
    // hide that the output is running under the cap approximation
    val hot = withSub.where(col("nsub") > 1L)
      .select(col("cluster"), col("csz")).distinct().collect()
    if (hot.nonEmpty)
      System.err.println(s"[semantic-dedup] HOT-CLUSTER CAP ENGAGED: " +
        hot.map(r => s"cluster ${r.get(0)} size ${r.get(1)}").mkString(", ") +
        s" — pairing split at $maxSide/sub-bucket, ≤ ⌈size/$maxSide⌉−1 " +
        "extra survivors per cluster vs exact all-pairs")
    val a = withSub.select(col("cluster"), col("sub"),
      col("vec_id").as("a_id"), col("v").as("av"))
    val b = withSub.select(col("cluster").as("cluster_b"), col("sub").as("sub_b"),
      col("vec_id").as("b_id"), col("v").as("bv"))
    a.join(b,
        col("cluster") === col("cluster_b") && col("sub") === col("sub_b") &&
          col("a_id") < col("b_id"))
      .where(round(cosine(col("av"), col("bv")), 6) >= threshold)
      .select(col("b_id")).distinct()
  }

  def semanticDedup(emb: DataFrame, k: Int, threshold: Double,
      maxSide: Int = maxClusterSide): DataFrame = {
    val e = assignClusters(emb, k)
    e.join(semanticDups(e, threshold, maxSide),
        col("vec_id") === col("b_id"), "left_outer")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("b_id").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .select(col("cluster"), col("n_vecs"), col("n_dup"),
        (col("n_vecs") - col("n_dup")).as("n_kept"))
      .orderBy("cluster")
  }

  /** X64 — the keeper MANIFEST [[semanticDedup]] only counts: one row per
    * nonzero-norm vector with its cluster and keep flag (the keep-first
    * policy — kept ⟺ no lower-id within-cluster neighbor at cos ≥
    * threshold). This is the artifact a SemDeDup stage actually ships
    * downstream (the training job reads kept ids, not attrition counts —
    * the `dedup_span_clean` emission discipline applied to the embedding
    * tier); at 100 TB it is the id manifest a partitioned
    * anti-join-on-ingest consumes. Same memoized assignment + dup frame
    * as the stats key — emitting costs one extra left join. */
  def semanticKeepers(emb: DataFrame, k: Int, threshold: Double,
      maxSide: Int = maxClusterSide): DataFrame = {
    val e = assignClusters(emb, k)
    e.join(semanticDups(e, threshold, maxSide),
        col("vec_id") === col("b_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        when(col("b_id").isNull, 1).otherwise(0).as("kept"))
      .orderBy("vec_id")
  }

  /** Assign a NEW embedding batch to an EXISTING corpus's centroid frame —
    * the ingest-time face of [[assignClusters]]: the centroid index comes
    * from `baseEmb` (memoized per base corpus, so repeated ingests share
    * the one index build), while the argmin runs over `newEmb` only. This is
    * the shape a 100 TB pipeline actually runs per arriving batch: the
    * index is a fixed offline artifact, re-clustering never happens on
    * ingest. Same (vec_id, v, cluster, m) contract as [[assignClusters]].
    */
  def assignToExisting(newEmb: DataFrame, baseEmb: DataFrame, k: Int): DataFrame = {
    val e = withNorm(newEmb).select(col("vec_id"), col("v"))
    e.join(argminAssign(e, centroidFrame(baseEmb, k)), Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("cluster"), col("m"))
  }

  /** X66 — CROSS-RUN incremental SemDeDup: the composition of [[
    * semanticKeepers]]' manifest with `dedup_incremental`'s discipline. A
    * new batch is assigned to the EXISTING centroid frame
    * ([[assignToExisting]]) and checked against the KEPT vectors of the
    * base corpus only — a new vector is dropped iff some kept base vector
    * in its assigned cluster sits at round(cos, 6) ≥ threshold. The base
    * manifest never changes (keep-first across runs: earlier batches won),
    * which is exactly why the manifest exists — re-clustering and
    * re-pairing the historical corpus per arriving batch would be the
    * O(corpus) work this key avoids.
    *
    * Scale shape: one broadcast argmin over the NEW batch, one
    * cluster-keyed join of new × kept. The kept side is inherently
    * clone-free — a clone mass in the base corpus kept ~1 representative,
    * so the adversarial hot-cluster case collapses BEFORE this join (the
    * [[maxClusterSide]] concern applies to building the base manifest,
    * not to consuming it) and per-cluster pair work is ~|new| ·
    * expected-cluster-size. Output: (vec_id, cluster, kept) for the new
    * batch — the manifest rows an ingest job appends. */
  def incrementalKeepers(newEmb: DataFrame, baseEmb: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val base = assignClusters(baseEmb, k)
    val keptVecs = base
      .join(semanticKeepers(baseEmb, k, threshold)
        .where(col("kept") === 1).select("vec_id"), Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("b_id"), col("v").as("bv"))
    val newAsg = assignToExisting(newEmb, baseEmb, k)
    val dup = newAsg
      .select(col("cluster"), col("vec_id").as("a_id"), col("v").as("av"))
      .join(keptVecs, Seq("cluster"))
      .where(round(cosine(col("av"), col("bv")), 6) >= threshold)
      .select(col("a_id")).distinct()
    newAsg.join(dup, col("vec_id") === col("a_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        when(col("a_id").isNull, 1).otherwise(0).as("kept"))
      .orderBy("vec_id")
  }

  /** Deterministic seed "centroids": the first n vectors by vec_id,
    * collected driver-side (metadata-sized — n × dim doubles). Consumers
    * are driver MATH only — the IVF probe ranking (n = 16 distances
    * against one query), the PQ codebook (n = 4 slices), and the k-means
    * seed matrix; corpus-side assignment always goes through the broadcast
    * [[argminAssign]], never through literals built from this. Memoized
    * per (corpus, n), so repeated index builds over one fixture (ivfTopK +
    * kmeans) share one matrix instead of re-running the scan. */
  def seedCentroids(emb: DataFrame, n: Int): Array[(Int, Array[Double])] =
    Memo.of(s"centroids:$n", emb) {
      withNorm(emb).orderBy("vec_id").limit(n).collect()
        .zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    }

  /** One full k-means iteration over the corpus: E-step assigns every
    * vector to its nearest seed centroid via [[argminAssign]] (broadcast
    * centroid frame + min-struct aggregate — the ONE assignment shape in
    * this file), M-step recomputes centroids as the per-(cluster, dim)
    * mean in long format. The shuffle carries O(k × dim) partial sums
    * regardless of corpus size — the iteration cost at 100 TB is one scan
    * plus a metadata-sized exchange, which is exactly how distributed
    * k-means should look. Output (cluster, pos, centroid, n) with n =
    * cluster population. */
  def kmeansIterate(spark: SparkSession, emb: DataFrame, k: Int): DataFrame =
    assignClusters(emb, k)
      .select(col("cluster"), posexplode(col("v")))
      .groupBy(col("cluster"), (col("pos") + 1).cast("int").as("pos"))
      .agg(round(avg("col"), 6).as("centroid"), count(lit(1)).as("n"))
      .orderBy("cluster", "pos")

  /** Lloyd's k-means for `iters` iterations. Per iteration: one corpus scan
    * (E-step [[argminAssign]] against the broadcast [[centroidFrameOf]] of
    * the current matrix), one O(k × dim) shuffle (M-step partial means),
    * one metadata-sized collect (the k×dim centroid matrix — the only
    * driver-side state, identical to what any distributed k-means keeps).
    * Empty clusters keep their previous centroid. Returns (centroids,
    * per-iteration inertia) — inertia is Σ min-distance² = Σ (‖v‖² + m),
    * the monotone Lloyd objective, computed from the SAME m the argmin
    * ranked (assignment and distance can never disagree). */
  def kmeansRun(spark: SparkSession, emb: DataFrame, k: Int, iters: Int)
      : (Array[(Int, Array[Double])], Seq[Double]) = {
    val e = withNorm(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = seedCentroids(emb, k)
    val inertias = scala.collection.mutable.ArrayBuffer[Double]()
    (1 to iters).foreach { _ =>
      val assigned = e
        .join(argminAssign(e, centroidFrameOf(spark, cents)), Seq("vec_id"))
      inertias += assigned
        .agg(sum(col("nrm") * col("nrm") + col("m")))
        .collect()(0).getDouble(0)
      val next = assigned
        .select(col("cluster"), posexplode(col("v")))
        .groupBy("cluster", "pos").agg(avg("col").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (ci, rs) =>
          ci -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      cents = cents.map { case (i, old) => (i, next.getOrElse(i, old)) }
    }
    e.unpersist()
    (cents, inertias.toSeq)
  }

  /** Top principal component of the MEAN-CENTERED embeddings via `iters`
    * rounds of distributed power iteration — the core kernel of embedding
    * whitening / "all-but-the-top" post-processing (a standard
    * representation cleanup before similarity retrieval; the dominant
    * direction is usually a corpus-frequency artifact worth projecting out).
    *
    * Never materializes a covariance matrix: each round applies the scatter
    * matrix XᶜᵀXᶜ to the current direction as TWO streaming forms of the
    * same pass — d_i = v·e_i − v·μ per row (codegen [[dot]] against the
    * literal direction), then w_j = Σ_i d_i·e_ij − μ_j·Σ_i d_i as a
    * posexplode + per-dimension weighted sum. One scan + one O(dim)-group
    * shuffle per round; only `dim` doubles ever reach the driver. At 100 TB
    * that is `iters` linear passes over a cached projection — the
    * O(dim²)-state Gram-accumulation alternative saves passes but each
    * executor task would carry a dim×dim partial, the wrong trade for tall
    * skinny data and small iters.
    *
    * Deterministic by construction: v₀ = 1/√dim (no RNG), every per-row
    * reduction is the ascending-order codegen fold, and cross-row sums
    * commute to ~1e-15 relative — the same reproducibility contract as
    * [[kmeansRun]] (oracle rounds at 6 dp, ~7 orders coarser).
    *
    * Assumes fixed-width vectors (every row carries all `dim` positions —
    * the embeddings-table contract). Returns (unit direction, top
    * eigenvalue of the COVARIANCE matrix, i.e. ‖Xᶜᵀ Xᶜ v‖ / (n−1)). A
    * degenerate corpus (n < 2 or zero scatter) returns v₀ with eigenvalue
    * 0 rather than dividing by zero. A start that lands in the scatter
    * matrix's null space despite real variance (probability-simplex
    * embeddings make v₀ = uniform exactly that) triggers one deterministic
    * deflected restart on the max-scatter axis — see the in-loop proof. */
  def pcaTopComponent(spark: SparkSession, emb: DataFrame,
      iters: Int = 3): (Array[Double], Double) = {
    val (v, lam, _) = pcaTop(spark, emb, iters)
    (v, lam)
  }

  /** [[pcaTopComponent]] plus the corpus mean it already computed — the
    * internal form [[abttTopK]] builds on (ABTT needs μ for the centering,
    * and recomputing it would be a redundant pass). Memoized per (corpus,
    * iters): embedding_pca_power and embedding_abtt share ONE power
    * iteration instead of each paying the full chain. */
  private[graft] def pcaTop(spark: SparkSession, emb: DataFrame,
      iters: Int = 3): (Array[Double], Double, Array[Double]) =
    Memo.of(s"pca:$iters", emb)(pcaTopCompute(spark, emb, iters))

  private def pcaTopCompute(spark: SparkSession, emb: DataFrame, iters: Int)
      : (Array[Double], Double, Array[Double]) = {
    val e = emb.select(asDouble(col("embedding")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = e.select(size(col("v")).as("d")).limit(1).collect()
      if (first.isEmpty) return (Array.empty[Double], 0.0, Array.empty[Double])
      val dim = first(0).getInt(0)
      val muRows = e.select(posexplode(col("v")))
        .groupBy("pos").agg(avg("col").as("m"), count(lit(1)).as("cnt"))
        .collect()
      val mu = muRows.sortBy(_.getInt(0)).map(_.getDouble(1))
      val n = muRows.head.getLong(2)
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      val muLit = array(mu.toIndexedSeq.map(lit): _*)
      var lambda = 0.0
      var it = if (n < 2) iters else 0 // degenerate corpus: skip, λ stays 0
      var restarted = false
      while (it < iters) {
        val vLit = array(v.toIndexedSeq.map(lit): _*)
        val muDotV = mu.zip(v).map { case (m, x) => m * x }.sum
        val rows = e
          .withColumn("d", dot(col("v"), vLit) - lit(muDotV))
          .select(col("d"), posexplode(col("v")))
          .groupBy("pos")
          .agg(sum(col("col") * col("d")).as("svd"), sum(col("d")).as("sd"),
            // per-axis scatter, for the null-space restart below — one fused
            // multiply-add per element inside the same pass, no extra scan
            sum(pow(col("col") - element_at(muLit, col("pos") + 1), 2)).as("scat"))
          .collect()
          .sortBy(_.getInt(0))
        // every row carries every pos, so the per-pos Σd is the global Σd
        val w = rows.map(r => r.getDouble(1) - mu(r.getInt(0)) * r.getDouble(2))
        val wNorm = math.sqrt(w.map(x => x * x).sum)
        if (wNorm == 0.0) {
          // w = XᶜᵀXᶜv = 0 means v is in the scatter matrix's NULL SPACE —
          // which does NOT imply the corpus is degenerate (e.g. probability-
          // simplex embeddings: every centered row ⊥ the uniform start).
          // Restart on the max-scatter axis e_k: Xᶜe_k is centered column k,
          // and (XᶜᵀXᶜe_k)_k = Σᵢ(e_ik−μ_k)² = scat_k > 0, so ONE restart
          // provably escapes the null space. Only when every axis has zero
          // scatter (a constant corpus) is λ = 0 the true answer.
          val scats = rows.map(_.getDouble(3))
          val kMax = scats.indices.maxBy(scats)
          if (scats(kMax) == 0.0 || restarted) it = iters // genuinely degenerate
          else {
            restarted = true
            v = Array.tabulate(dim)(j => if (j == kMax) 1.0 else 0.0)
            // retry the SAME round from the deflected start (it unchanged)
          }
        } else {
          lambda = wNorm / (n - 1).toDouble
          v = w.map(_ / wNorm)
          it += 1
        }
      }
      (v, lambda, mu)
    } finally e.unpersist()
  }

  /** All-but-the-top retrieval: strip the corpus's dominant direction
    * (and the mean) from every embedding before cosine ranking — the
    * standard post-processing that stops a frequency-artifact axis from
    * dominating similarity. Transform per row: e′ = (e − μ) − v·(vᵀ(e−μ)),
    * all as codegen'd expressions against the LITERAL direction/mean (one
    * scan, no shuffle, no join for the transform; the ranking is the same
    * broadcast-query TakeOrdered as [[topK]]). Rank order uses the ROUNDED
    * similarity (6 dp) with vec_id tiebreak, so engine-vs-oracle ordering
    * cannot hinge on the ~1e-15 cross-row summation jitter. Zero-norm rows
    * AFTER the transform (vectors that were pure mean + top-direction) are
    * excluded like [[withNorm]] does for raw zero vectors. */
  def abttTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long, k: Int,
      iters: Int = 3): DataFrame = {
    val (pc, _, mu) = pcaTop(spark, emb, iters)
    val vLit = array(pc.toIndexedSeq.map(lit): _*)
    val vDotMu = pc.zip(mu).map { case (a, b) => a * b }.sum
    // the per-row transform runs as the CenterDeflect codegen kernel (r13):
    // the former indexed-transform HOF re-evaluated BOTH 64-literal arrays
    // per element access (element_at over CreateArray, interpreted) —
    // ~200 µs/row, 4.1 s for the 20k-row sf1 scan; the kernel is one pass
    // against plan-constant double[]s, bit-identical per-element arithmetic
    // (FunctionsSpec parity pin)
    def centerDeflect(v: Column, d: Column): Column = {
      GraftColumnBridge.column(graft.functions.CenterDeflect(
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(d),
        mu.toIndexedSeq, pc.toIndexedSeq))
    }
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("d", dot(col("v"), vLit) - lit(vDotMu)) // vᵀ(e−μ)
      .withColumn("t", centerDeflect(col("v"), col("d")))
      .withColumn("nrm", norm(col("t")))
    val q = e.where(col("vec_id") === queryVecId)
      .select(col("t").as("qt"), col("nrm").as("qn"))
    e.where(col("vec_id") =!= queryVecId && col("nrm") > 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("t"), col("qt")) / (col("nrm") * col("qn")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** IVF-style top-k: deterministic "centroids" (the first nCentroids
    * vectors by vec_id — a k-means iteration would refine these; seeding is
    * enough to demonstrate the index shape); assignment rides the shared
    * broadcast-centroid [[argminAssign]]; the query probes its nProbe
    * nearest centroids and brute-forces only those clusters.
    *
    * 100 TB posture: assignment is scan-parallel; the probe filter prunes
    * (nCentroids-nProbe)/nCentroids of the corpus before any distance math;
    * the per-cluster layout would be a partitionBy("cluster") write.
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = seedCentroids(emb, nCentroids)
    // driver-side: the query vector + norm (one pushdown point-lookup — the
    // r3 form collected it from the full cluster-assignment projection,
    // forcing a whole assignment pass just to read one row)
    val qRow = withNorm(emb).where(col("vec_id") === queryVecId)
      .select(col("v"), col("nrm")).collect()(0)
    val qv = qRow.getSeq[Double](0).toArray
    val qnrm = qRow.getDouble(1)
    // the query's nProbe nearest centroids (tiny math, driver-side)
    val probes = centroids.map { case (i, c) =>
      (i, c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.sortBy(_._2).take(nProbe).map(_._1)
    // cluster assignment is the only data-proportional pass — the shared
    // broadcast-frame [[argminAssign]] via assignClusters (r14: the former
    // literal-unrolled projection here was the one surviving instance of
    // the r12 scale-killer shape — fine at fixed k = 16, but nothing
    // stopped a future corpus-scaled caller), memoized + persisted per
    // (corpus, k) so repeated probes AND the recall-curve key share one
    // index build. The norm is recomputed from the assigned v (same
    // codegen fold withNorm ran — bit-identical), cheaper than carrying a
    // second persisted frame. The query vector stays a plan-time literal —
    // one vector, no broadcast join needed, and dot(v, lit(qv)) folds
    // ascending exactly like the former column form, so cosines are
    // bit-identical to the joined variant.
    val assigned = assignClusters(emb, nCentroids)
      .withColumn("nrm", norm(col("v")))
    val qvLit = array(qv.toIndexedSeq.map(lit): _*)
    assigned
      .where(col("cluster").isin(probes.toIndexedSeq.map(Integer.valueOf): _*) && col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(dot(col("v"), qvLit) / (col("nrm") * lit(qnrm)), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Exact threshold self-join (oracle twin / recall baseline at test scale).
    *
    * `idCap` bounds BOTH sides before the join (same contract as
    * `Dedup.exactJaccard`): the capped region is O(cap²) regardless of corpus
    * size, which is what makes this safe to declare as a query key. The
    * uncapped form is the recall oracle for ExtSpec only — at 100 TB the
    * exact pass runs per-LSH-bucket (see [[annSelfJoin]]), never globally. */
  def exactSelfJoin(spark: SparkSession, emb: DataFrame, threshold: Double,
      idCap: Option[Long] = None): DataFrame = {
    val bounded = idCap.fold(emb)(c => emb.where(col("vec_id") < c))
    val e = withNorm(bounded)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Symmetric int8 quantization of a fp64 vector: per-vector scale
    * s = max|x|/127, code q_i = floor(x_i/s + 0.5) ∈ [-127, 127]. Codes are
    * carried as exact small integers in doubles (|q|≤127 ≪ 2^53), so every
    * downstream sum/product is integer-exact and bit-reproducible — and the
    * per-vector scales cancel out of the cosine entirely:
    * cos_q(a,b) = Σqa·qb / (√Σqa² · √Σqb²).
    *
    * Scale posture: this is the memory side of ANN — 4× smaller vectors
    * (int8 vs fp32) means 4× more index per executor and 4× less shuffle
    * when codes do move. The scan shape is identical to [[topK]]: broadcast
    * query codes, one linear pass, no shuffle. */
  def quantize(v: Column): Column = {
    // codegen kernel (r13): the former HOF form — array_max(transform(abs))
    // + a transform(floor(x/(ma/127)+0.5)) — is CodegenFallback and cost
    // ~190 µs/row on 64 dims (simsearch_quant 3.75 s for a 20k-row sf1
    // scan); the kernel is one fused pass with the identical double-op
    // order, pinned bit-equal to the HOF form in FunctionsSpec.
    GraftColumnBridge.kernel(graft.functions.VectorOps, "quantize",
      ArrayType(DoubleType, containsNull = false), v -> ArrayType(DoubleType))
  }

  /** k-NN JOIN: every query vector (`vec_id < nQueries`) gets its k nearest
    * corpus neighbors (`vec_id >= nQueries`) in ONE pass. The query block
    * broadcasts (query sets are small by construction); per-query top-k runs
    * as the bounded-heap [[graft.functions.TopKRows]] aggregate — partial
    * heaps combine map-side, so the exchange carries only
    * O(queries × partitions × k) rows and NO sort operator appears. At
    * 100 TB this is the "embed a probe set, rank against the corpus" shape:
    * linear scan, broadcast dimension, heap-bounded state. */
  def knnJoin(spark: SparkSession, emb: DataFrame, nQueries: Long,
      k: Int): DataFrame = {
    import graft.functions.TopKRows.topKRows
    val n = withNorm(emb)
    val q = n.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    n.where(col("vec_id") >= nQueries)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
      .groupBy("q_id")
      .agg(topKRows(struct(col("cos"), col("vec_id")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id"), col("col.cos"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining for contrastive training: for each of the first
    * `nQueries` anchor vectors, the k most-cosine-similar vectors carrying
    * a DIFFERENT label — the negatives that sit closest to the decision
    * boundary. Same broadcast-anchors shape as [[knnJoin]] (anchor set is
    * tiny by construction; corpus side scans once, never shuffles by
    * value) with the label inequality applied BEFORE any distance math,
    * and the same bounded-heap TopKRows rollup (exchange carries
    * O(anchors × partitions × k) rows). */
  def hardNegatives(spark: SparkSession, emb: DataFrame, nQueries: Long,
      k: Int): DataFrame = {
    import graft.functions.TopKRows.topKRows
    val n = emb.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .where(col("nrm") > 0)
    val q = n.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    n.where(col("vec_id") >= nQueries)
      .crossJoin(broadcast(q))
      .where(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6).as("cos"))
      .groupBy("q_id", "q_label")
      .agg(topKRows(struct(col("cos"), col("vec_id"), col("label")), k).as("top"))
      .select(col("q_id"), col("q_label"), posexplode(col("top")))
      .select(col("q_id"), col("q_label"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id"), col("col.label").as("neg_label"), col("col.cos"))
      .orderBy("q_id", "rank")
  }

  /** Product-quantization top-k (the IVF-PQ compression half, Jégou et al.
    * 2011): split the 64-dim space into 8 × 8-dim subspaces, quantize each
    * subvector to its nearest of 4 deterministic sub-centroids (the first-4
    * seed vectors' slices — the [[seedCentroids]] discipline), and rank by
    * asymmetric distance: the query precomputes one dot per (subspace,
    * code) so scoring a vector is EIGHT table lookups, not a 64-dim dot.
    *
    * Scale shape: the codebook is a plan-time literal (8×4×8 doubles), the
    * whole retrieval is ONE scan — 32 8-dim codegen dots per row for
    * encoding, integer adds for the score — into TakeOrdered. No shuffle,
    * no join; at 100 TB the codes would be precomputed once at ingest and
    * scoring drops to the 8 lookups alone.
    *
    * Numeric discipline: the per-(subspace, code) query-dot and ‖c‖²
    * tables are rounded to integer MICROS at plan time (both engines round
    * the same IEEE doubles — ascending-fold sums everywhere), so per-vector
    * accumulation is exact long addition; floats re-enter only in the
    * final score = (Σqdot) / (√(Σ‖c‖²) · ‖q‖), an identical op sequence on
    * identical inputs. */
  def pqTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      k: Int): DataFrame = {
    val nSub = 8; val dSub = 8; val nCodes = 4
    val seeds = seedCentroids(emb, nCodes)
    require(seeds.length == nCodes, s"corpus has < $nCodes nonzero vectors")
    // sub-centroids [s][c] and their ‖c‖² (ascending-fold sums)
    val subC = Array.tabulate(nSub, nCodes) { (s, c) =>
      seeds(c)._2.slice(s * dSub, (s + 1) * dSub)
    }
    val qv = withNorm(emb).where(col("vec_id") === queryVecId)
      .select(col("v"), col("nrm")).collect()(0)
    val q = qv.getSeq[Double](0).toArray
    val qn = qv.getDouble(1)
    def fdot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    def micros(x: Double): Long =
      BigDecimal(x * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val qdotM = Array.tabulate(nSub, nCodes) { (s, c) =>
      micros(fdot(q.slice(s * dSub, (s + 1) * dSub), subC(s)(c)))
    }
    val c2M = Array.tabulate(nSub, nCodes) { (s, c) => micros(fdot(subC(s)(c), subC(s)(c))) }
    val e = withNorm(emb).where(col("vec_id") =!= queryVecId)
    // fused ADC kernel (r13): assignment + both LUT sums in ONE codegen
    // pass — the former per-subspace argmin folds duplicated every
    // distance expression exponentially and ran each dot over a fresh
    // slice() allocation (~260 µs/row; see graft.functions.PqAdc)
    val adc = {
      val c2flat = for (s <- 0 until nSub; c <- 0 until nCodes)
        yield subC(s)(c).map(x => x * x).sum
      GraftColumnBridge.column(graft.functions.PqAdc(
        GraftColumnBridge.expression(col("v")),
        (for (s <- 0 until nSub; c <- 0 until nCodes; i <- 0 until dSub)
          yield subC(s)(c)(i)).toIndexedSeq,
        c2flat.toIndexedSeq,
        (for (s <- 0 until nSub; c <- 0 until nCodes) yield qdotM(s)(c)).toIndexedSeq,
        (for (s <- 0 until nSub; c <- 0 until nCodes) yield c2M(s)(c)).toIndexedSeq,
        nSub, dSub, nCodes))
    }
    e.select(col("vec_id"), adc.as("adc"))
      .select(col("vec_id"),
        element_at(col("adc"), 1).as("am"), element_at(col("adc"), 2).as("rm"))
      .where(col("rm") > 0)
      .select(col("vec_id"),
        round((col("am").cast("double") / 1000000.0d) /
          (sqrt(col("rm").cast("double") / 1000000.0d) * lit(qn)), 6).as("pq_cos"))
      .orderBy(desc("pq_cos"), asc("vec_id"))
      .limit(k)
  }

  /** Brute-force top-k neighbors by int8-quantized cosine (recall vs the
    * exact [[topK]] is asserted in ExtSpec). */
  def quantizedTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("q", quantize(col("v")))
      .withColumn("qn", norm(col("q")))
      .drop("v")
    val qv = e.where(col("vec_id") === queryVecId)
      .select(col("q").as("qq"), col("qn").as("qqn"))
    e.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(dot(col("q"), col("qq")) / (col("qn") * col("qqn")), 6).as("qcos"))
      .orderBy(desc("qcos"), asc("vec_id"))
      .limit(k)
  }

  /** Sign-bit binary code of a double vector (one long, 64 dims — see
    * [[graft.functions.VectorOps.signPack]]). */
  def signCode(v: Column): Column =
    GraftColumnBridge.kernel(graft.functions.VectorOps, "signPack", LongType,
      v -> ArrayType(DoubleType))

  /** Binary-hash two-stage retrieval: sign-bit binarize every vector to one
    * 64-bit code (1 bit/dim — a 512× compression of fp64), take the `cand`
    * Hamming-nearest codes to the query's code, then re-rank those few by
    * exact cosine and keep the top `k`.
    *
    * 100 TB posture: the corpus-wide stage is ONE fused codegen scan — pack
    * (`signPack`) → XOR → popcount (`bit_count`) → TakeOrderedAndProject on
    * (hamming, vec_id) — 2 ALU ops of distance math per vector instead of a
    * 64-FLOP dot product, no shuffle, no window over the corpus. The exact
    * re-rank touches only the `cand`-row candidate set (constant-sized, a
    * single in-memory window). Candidate selection and final order both
    * break ties on vec_id, so the result is deterministic on every engine.
    */
  def hammingTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      k: Int, cand: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(emb).withColumn("code", signCode(col("v")))
    val q = e.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"), col("code").as("qcode"))
    e.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("hamming", bit_count(col("code").bitwiseXOR(col("qcode"))))
      .orderBy(asc("hamming"), asc("vec_id")).limit(cand)
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cos"), asc("vec_id"))))
      .where(col("rank") <= k)
      .select(col("rank"), col("vec_id"), col("hamming"), col("cos"))
      .orderBy("rank")
  }

  /** Matryoshka (prefix-dimension) two-stage retrieval: score every vector
    * by the cosine of its first `prefixDim` dimensions (MRL-trained
    * embeddings concentrate signal in the prefix — Kusupati et al. 2022,
    * arXiv:2205.13147), keep the `cand` best, re-rank those by full-dim
    * cosine and return the top `k`.
    *
    * 100 TB posture: the corpus-wide stage reads only `prefixDim` of `dim`
    * values per vector (with a columnar layout that is proportionally less
    * IO and exactly proportionally fewer FLOPs) and ends in
    * TakeOrderedAndProject — no shuffle, no corpus window; the full-dim math
    * touches only the constant-sized candidate set. The stage-1 score is
    * rounded to integer MICROS before ranking, so the candidate cut cannot
    * flip on last-ulp float jitter between engines; both stages tie-break
    * on vec_id. Vectors with an all-zero prefix have no stage-1 direction
    * and are excluded (same contract as withNorm's zero-norm drop).
    */
  def matryoshkaTopK(spark: SparkSession, emb: DataFrame, queryVecId: Long,
      prefixDim: Int, cand: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withNorm(emb)
      .withColumn("pv", slice(col("v"), 1, prefixDim))
      .withColumn("pnrm", norm(col("pv")))
      .where(col("pnrm") > 0)
    val q = e.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"),
        col("pv").as("qpv"), col("pnrm").as("qpnrm"))
    e.where(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("s1_micros",
        round(dot(col("pv"), col("qpv")) / (col("pnrm") * col("qpnrm"))
          * lit(1000000.0d), 0).cast("long"))
      .orderBy(desc("s1_micros"), asc("vec_id")).limit(cand)
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cos"), asc("vec_id"))))
      .where(col("rank") <= k)
      .select(col("rank"), col("vec_id"), col("s1_micros"), col("cos"))
      .orderBy("rank")
  }
}
