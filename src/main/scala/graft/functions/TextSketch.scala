package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch kernels for the dedup family (reference's near-dup
  * north-star), each called through one `GraftColumnBridge.kernel`. The
  * higher-order forms — k MinHash folds and 63 SimHash bit-sum folds — are
  * interpreted per element (lambda binding + boxing): measured multi-second
  * at sf0.1. These single-pass loops keep the sketch projection inside
  * whole-stage codegen and are bit-identical to the HOF forms (same
  * arithmetic, same fold order).
  */
object TextSketch {

  // ------------------------------------------------------------------
  // Polynomial prime-field hashing — the SQL-reproducible family. Unlike
  // xxhash64 (Spark-internal mixing), every step below is plain modular
  // arithmetic a DuckDB oracle replays exactly (list_reduce over
  // codepoints), which upgrades the minhash/simhash dedup keys from
  // rows-only checks to full hash-compared oracles.
  // ------------------------------------------------------------------

  /** Polynomial codepoint hash: h = fold(7, h*131 + codepoint) mod 1e9+7.
    * Products stay < 2^60, so plain long arithmetic is exact under ANSI.
    * DuckDB twin: list_reduce(list_prepend(7, codepoints), (a,c) ->
    * (a*131 + c) % 1000000007).
    *
    * COLLISION BOUND: ~30-bit range ⇒ birthday collisions from ~√(1e9+7) ≈
    * 3×10⁴ distinct inputs — guaranteed present in warehouse-scale token /
    * shingle sets. This family exists for ORACLE REPLAYABILITY (DuckDB can
    * recompute it bit-for-bit); it is only used where collisions degrade an
    * approximation one-sidedly (count-min / Bloom bucketing via
    * [[graft.ext.Sketches.bucket]], minhash folds below), never as an
    * identity. The 100 TB identity/dedup paths use 64-bit xxhash64
    * (the [[Shingler]] hashes) or 256-bit sha2 fingerprints. */
  final val PolyP = 1000000007L

  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 7L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 131L + cp) % PolyP
      i += Character.charCount(cp)
    }
    h
  }

  /** MinHash signature over the affine family h_i(x) = (a_i·x + b_i) mod P
    * with a_i = (i+1)·2654435761 mod P, b_i = (i+1)·40503 + 17 mod P —
    * constants chosen so every intermediate fits a long.
    *
    * COLLISION BOUND at the signature layer: a [[polyHash]] collision
    * between two distinct shingles (expected once the corpus-wide shingle
    * vocabulary passes ~3×10⁴ — see [[polyHash]]) makes those shingles
    * indistinguishable to ALL k folds, which biases the estimated Jaccard
    * upward by at most the colliding shingles' weight in the union. Fine
    * for LSH candidate GENERATION (band slices of these values — a false
    * candidate is removed by the exact-Jaccard verify stage that every
    * dedup_cluster_lsh-shaped pipeline runs); verification-free dedup at
    * 100 TB would need a 64-bit family. */
  def minhashPoly(shingles: ArrayData, k: Int): ArrayData = {
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val h = polyHash(shingles.getUTF8String(j))
        var i = 0
        while (i < k) {
          val a = ((i + 1) * 2654435761L) % PolyP
          val b = ((i + 1) * 40503L + 17L) % PolyP
          val v = (a * h + b) % PolyP
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 61-bit token hash for SimHash: widen [[polyHash]] into the Mersenne
    * field 2^61−1 (one more affine step; product < 2^62). */
  def tokenHash61(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j))
        out(j) = (polyHash(tokens.getUTF8String(j)) * 2654435761L + 986244679L) %
          2305843009213693951L
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Raw per-token [[polyHash]] values (array<string> → array<long>, each
    * < 1e9+7) — the input the count-min / Bloom affine bucket families
    * consume: with h < 2^30 every a·h + b stays < 2^60, so both engines
    * evaluate the identical exact long arithmetic. */
  def tokenHashPoly(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j)) out(j) = polyHash(tokens.getUTF8String(j))
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-shingle [[polyHash]] values computed straight from the text in one
    * pass: for each w-token window, fold seed 7 over the window's token
    * characters with a single space (32) between tokens — bit-identical to
    * `polyHash(concat_ws(" ", slice(split(text, " "), j, w)))` (including
    * empty tokens from repeated spaces, which concat_ws keeps), but with no
    * shingle strings, no per-element lambda binding, and no allocations
    * beyond the output array. Short docs (< w tokens) collapse to the
    * whole-text single shingle, matching [[graft.ext.Dedup.shingles]]. */
  def shingleHashPoly(text: UTF8String, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    // token start offsets under split(text, " ") semantics (keep empties)
    val starts = new scala.collection.mutable.ArrayBuffer[Int](16)
    starts += 0
    var i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') starts += i + 1
      i += 1
    }
    val m = starts.length //                          token count
    def tokEnd(j: Int): Int = if (j + 1 < m) starts(j + 1) - 1 else n
    def foldWindow(j0: Int, nTok: Int): Long = {
      var h = 7L
      var j = j0
      while (j < j0 + nTok) {
        if (j > j0) h = (h * 131L + 32L) % PolyP
        var p = starts(j)
        val e = tokEnd(j)
        while (p < e) {
          val cp = s.codePointAt(p)
          h = (h * 131L + cp) % PolyP
          p += Character.charCount(cp)
        }
        j += 1
      }
      h
    }
    val out =
      if (m < w) Array(foldWindow(0, m))
      else Array.tabulate(m - w + 1)(j => foldWindow(j, w))
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass content-defined chunk table (opt-r16): fold
    * [[shingleHashPoly]]'s per-window hashes into per-chunk
    * (chunk_id, n_spans, start_pos, end_pos) rows WITHOUT leaving the
    * document — `chunk_id` is the running count of boundary windows
    * (h ≡ 0 mod `mod`), inclusive of the current window, exactly the
    * `sum(when(h % mod === 0, 1)).over(partitionBy(doc).orderBy(pos))`
    * the dataflow form computed. Spans are contiguous runs of one chunk
    * id, so the groupBy(doc, chunk) collapses to run-length emission in
    * the same loop. Replaces a per-SPAN posexplode → window shuffle+sort →
    * grouped aggregation with per-CHUNK output rows (~1/mod of the spans)
    * and zero pre-sort shuffles — the chunk table of a 100 TB corpus never
    * exists in span form. */
  def cdcChunkStats(text: UTF8String, w: Int,
      mod: Int): ArrayData = {
    val hl = shingleHashPoly(text, w)
    val nw = hl.numElements()
    // count chunks first (the struct array is exact-sized, no buffer churn)
    var chunkId = 0
    var prev = -1
    var nChunks = 0
    var pos = 0
    while (pos < nw) {
      if (hl.getLong(pos) % mod == 0) chunkId += 1
      if (chunkId != prev) { nChunks += 1; prev = chunkId }
      pos += 1
    }
    val out = new Array[Any](nChunks)
    chunkId = 0
    prev = -1
    var ci = -1
    var startPos = 0
    var nSpans = 0L
    pos = 0
    while (pos < nw) {
      if (hl.getLong(pos) % mod == 0) chunkId += 1
      if (chunkId != prev) {
        if (ci >= 0)
          out(ci) = org.apache.spark.sql.catalyst.InternalRow(
            prev, nSpans, startPos, pos - 1)
        ci += 1
        prev = chunkId
        startPos = pos
        nSpans = 0L
      }
      nSpans += 1L
      pos += 1
    }
    if (ci >= 0)
      out(ci) = org.apache.spark.sql.catalyst.InternalRow(
        prev, nSpans, startPos, nw - 1)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition, UAX #15, via
    * java.text.Normalizer) — the pass every multilingual corpus needs
    * before exact dedup or tokenization: a decomposed "é" (e + U+0301) and
    * the precomposed U+00E9 are byte-different (so they defeat sha2 dedup
    * keys and split token types) but NFC-equal. The DuckDB oracle twin is
    * `nfc_normalize(...)` and python's `unicodedata.normalize('NFC', ...)`
    * the third-engine form; all three bind the same algorithm, so results
    * are byte-identical across engines. */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** 63-bit SimHash: bit b of the result is set iff
    * Σ_h (bit b of h ? +1 : −1) > 0. 63 bits keeps the assembled value
    * non-negative under ANSI arithmetic (Dedup.scala contract). */
  def simhash(hashes: ArrayData): Long = {
    val counts = new Array[Int](63)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      if (!hashes.isNullAt(j)) {
        val h = hashes.getLong(j)
        var b = 0
        while (b < 63) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 63) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
