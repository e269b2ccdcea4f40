package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

/** Mergeable-summary operators over the SQL-reproducible polynomial hash
  * family (graft.functions.TextSketch.polyHash — fold(7, h·131+cp) mod
  * 1e9+7, affine per-seed re-mix a_i·h + b_i mod P). Everything here is
  * plain modular long arithmetic, so a DuckDB oracle replays the sketch
  * cell-for-cell — these keys are full hash-compared checks, unlike
  * engine-native approx aggregates (HLL / approx_percentile) which can
  * only be rows-only.
  *
  * Scale posture: both structures are the textbook mergeable summaries —
  * count-min cells are sums (map-side partial aggregation IS the sketch
  * merge), Bloom bit-sets are unions of tiny distinct sets — so at 100 TB
  * the sketch state stays O(d·w) / O(m) regardless of corpus size.
  */
object Sketches {

  /** d/w <= 0 would make the `% w` bucket yield NULL (non-ANSI) and every
    * sketch query silently come back empty ("no tokens in the corpus") —
    * the silent-empty failure class rangeJoin's bucketWidth guard
    * documents; refuse instead of lying. */
  private def requireDims(d: Int, w: Int): Unit =
    require(d > 0 && w > 0, s"sketch needs positive depth/width, got d=$d w=$w")

  private val P = 1000000007L

  /** Affine family (same constants as TextSketch.minhashPoly): seed i ≥ 1. */
  private def aConst(i: Int): Long = (i * 2654435761L) % P
  private def bConst(i: Int): Long = (i * 40503L + 17L) % P

  /** Per-element polyHash of an array<string> column (codegen kernel). */
  def polyHashArray(arr: Column): Column =
    GraftColumnBridge.kernel(graft.functions.TextSketch, "tokenHashPoly",
      ArrayType(LongType, containsNull = false), arr -> ArrayType(StringType))

  /** polyHash of a single string column (via the codegen array kernel). */
  def polyHashCol(s: Column): Column = element_at(polyHashArray(array(s)), 1)

  /** One-pass per-shingle poly hashes straight from the text — bit-equal to
    * `polyHashArray(Dedup.shingles(text, w))` (SketchesSpec asserts it) but
    * without materializing shingle strings or interpreting HOF lambdas. */
  def shingleHashes(text: Column, w: Int): Column =
    GraftColumnBridge.kernel(graft.functions.TextSketch, "shingleHashPoly",
      ArrayType(LongType, containsNull = false), text -> StringType, lit(w) -> IntegerType)

  /** One-pass per-doc CDC chunk table (opt-r16): the chunk rows that
    * `posexplode(shingleHashes) → per-doc window cumsum → groupBy(doc,
    * chunk)` assembles, computed inside the scan projection —
    * array<struct<chunk_id, n_spans, start_pos, end_pos>>, boundaries at
    * windows with hash ≡ 0 (mod `mod`). See
    * [[graft.functions.TextSketch.cdcChunkStats]]. */
  def cdcChunkStats(text: Column, w: Int, mod: Int): Column = {
    require(mod > 0, s"cdc_chunk_stats needs a positive boundary modulus, got $mod")
    GraftColumnBridge.kernel(graft.functions.TextSketch, "cdcChunkStats",
      ArrayType(StructType(Seq(
        StructField("chunk_id", IntegerType, nullable = false),
        StructField("n_spans", LongType, nullable = false),
        StructField("start_pos", IntegerType, nullable = false),
        StructField("end_pos", IntegerType, nullable = false))), containsNull = false),
      text -> StringType, lit(w) -> IntegerType, lit(mod) -> IntegerType)
  }

  /** Bucket of hash `h` under seed `i`, `w` cells: ((a_i·h + b_i) mod P) mod w.
    *
    * COLLISION BOUND (r5/r6 verdict ask): the input `h` comes from the
    * ~30-bit polyHash family (range [0, 1e9+7)), so two DISTINCT keys share
    * all their buckets with probability ~1/P ≈ 1e-9 per pair — by the
    * birthday bound, expect the first full-identity collision at ~√P ≈ 3×10⁴
    * distinct keys, i.e. real corpora WILL contain colliding token pairs.
    * Every use in this file is one-sided-error bucketing where a collision
    * only inflates counts/positives, never loses data: count-min cells
    * absorb it into the ε = e/w overestimate (cms_error_curve measures it),
    * and Bloom positions absorb it into the false-positive rate. NEVER use
    * this family for identity/equality semantics — that is what the sha2
    * fingerprints in [[bloomPrefilter]] / dedup_incremental are for. */
  def bucket(h: Column, i: Int, w: Int): Column =
    (((lit(aConst(i)) * h + lit(bConst(i))) % P) % w).cast("int")

  /** Count-min sketch estimates for every distinct token in `docs.text`:
    * (tok, true_cnt, cms_est) with cms_est ≥ true_cnt always (one-sided
    * error). `d` hash rows × `w` cells; the sketch is built from the
    * per-token exact counts — numerically identical to streaming every
    * occurrence through the sketch (cells are sums), and exactly the
    * map-side-combine shape the sketch exists to enable: the shuffled
    * state is the O(d·w) cell table, never the token stream. */
  def cmsTokenCounts(docs: DataFrame, d: Int = 4, w: Int = 64): DataFrame = {
    requireDims(d, w)
    val tokc = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("th", polyHashCol(col("tok")))
    val rb = tokc.select(col("tok"), col("cnt"),
      explode(array((1 to d).map(i =>
        struct(lit(i).as("i"), bucket(col("th"), i, w).as("bucket"))): _*)).as("rb"))
      .select(col("tok"), col("cnt"), col("rb.i").as("i"), col("rb.bucket").as("bucket"))
    val sketch = rb.groupBy("i", "bucket").agg(sum("cnt").as("cell"))
    rb.join(sketch, Seq("i", "bucket"))
      .groupBy("tok")
      .agg(max("cnt").as("true_cnt"), min("cell").as("cms_est"))
      .orderBy("tok")
  }

  /** [[cmsTokenCounts]] for SEVERAL widths out of ONE corpus pass
    * (opt-r15): the token-count aggregation — the only corpus-sized work —
    * runs once, and the width dimension rides the same per-row struct
    * explode as the d hash rows (the shape the DuckDB error-curve twin
    * already uses). Per-width rows identical to cmsTokenCounts(docs, d, w)
    * by associativity: cells are sums of the same per-token counts. */
  def cmsTokenCountsMulti(docs: DataFrame, d: Int, ws: Seq[Int]): DataFrame = {
    ws.foreach(requireDims(d, _))
    val tokc = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("th", polyHashCol(col("tok")))
    val rb = tokc.select(col("tok"), col("cnt"),
      explode(array((for { w <- ws; i <- 1 to d } yield
        struct(lit(w).as("w"), lit(i).as("i"),
          bucket(col("th"), i, w).as("bucket"))): _*)).as("rb"))
      .select(col("tok"), col("cnt"), col("rb.w").as("w"),
        col("rb.i").as("i"), col("rb.bucket").as("bucket"))
    val sketch = rb.groupBy("w", "i", "bucket").agg(sum("cnt").as("cell"))
    rb.join(sketch, Seq("w", "i", "bucket"))
      .groupBy("w", "tok")
      .agg(max("cnt").as("true_cnt"), min("cell").as("cms_est"))
  }

  /** The raw count-min CELL TABLE from a stream (or batch) of documents:
    * each token occurrence increments its d cells, so the output is the
    * (i, bucket, cell) state a STREAMING aggregation maintains
    * incrementally — cells are associative sums, which is precisely why
    * the sketch works under micro-batch execution with no recomputation
    * (StreamingSpec proves stream == batch across micro-batches).
    * [[cmsTokenCounts]] builds the same cells from pre-aggregated counts;
    * the totals are identical by associativity. */
  def cmsCells(docs: DataFrame, d: Int = 4, w: Int = 64): DataFrame = {
    requireDims(d, w)
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .withColumn("th", polyHashCol(col("tok")))
    toks.select(explode(array((1 to d).map(i =>
        struct(lit(i).as("i"), bucket(col("th"), i, w).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.i").as("i"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
  }

  /** Bloom-filter dedup prefilter: the historical shard's head fingerprints
    * set `k` bit positions in an `m`-bit filter; a new-shard doc is flagged
    * "maybe seen" iff ALL its k positions are set. No false negatives, so
    * flagged ⊇ true dups; the per-source false-positive count is the price
    * of replacing a corpus-sized anti-join with an O(m) broadcast bit-set
    * — the at-scale front door to [[graft.surface.DedupKeys]]' dedup_incremental.
    * Returns (source, n_new, n_flagged, n_dup, n_false_pos). */
  def bloomPrefilter(docs: DataFrame, histPred: Column, newPred: Column,
      headTokens: Int = 8, k: Int = 3, m: Int = 4096): DataFrame = {
    // k/m <= 0 would make `% m` yield NULL (non-ANSI) and the whole filter
    // silently report "nothing flagged" — the silent-empty failure class
    // rangeJoin's bucketWidth guard documents; refuse instead of lying
    require(k > 0 && m > 0 && headTokens > 0,
      s"bloomPrefilter needs positive k/m/headTokens, got k=$k m=$m headTokens=$headTokens")
    val fp = concat_ws(" ", slice(split(col("text"), " "), 1, headTokens))
    // th drives ONLY the k bucket positions (that ~30-bit family is the
    // filter's replayable semantics); fingerprint IDENTITY for the
    // ground-truth columns is sha2, like dedup_incremental — a polyHash
    // identity would birthday-collide at ~10^5 fingerprints and misclassify
    // distinct heads as dups (r4 ADVICE)
    val withH = docs.select(col("doc_id"), col("source"), col("text"))
      .withColumn("fpk", sha2(fp, 256))
      .withColumn("th", polyHashCol(fp))
    val posArr = array((1 to k).map(i => bucket(col("th"), i, m)): _*)
    val bits = withH.where(histPred)
      .select(explode(posArr).as("p")).distinct()
      .withColumn("bit", lit(1))
    val histFp = withH.where(histPred).select(col("fpk")).distinct()
      .withColumn("is_dup", lit(1))
    val nw = withH.where(newPred)
    val flagged = nw.select(col("doc_id"), explode(posArr).as("p"))
      .join(broadcast(bits), Seq("p"), "left")
      .groupBy("doc_id")
      .agg((count(lit(1)) === sum(coalesce(col("bit"), lit(0)))).as("maybe_seen"))
    // the BIT SET broadcasts (O(m), corpus-independent); the exact
    // fingerprint set does NOT — it is corpus-sized, so the ground-truth
    // join stays a shuffle join on the 32-byte digest, exactly like
    // dedup_incremental's anti-join (which this filter exists to front)
    nw.join(flagged, "doc_id")
      .join(histFp, Seq("fpk"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("maybe_seen"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("is_dup").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("maybe_seen") && col("is_dup").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy("source")
  }
}
