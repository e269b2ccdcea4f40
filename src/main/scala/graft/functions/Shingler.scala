package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word-shingle kernels (opt-r15). The dataflow forms —
  * `transform(sequence(…), i -> concat_ws(" ", slice(split(text," "), i, w)))`
  * plus `array_distinct` / `xxhash64` on top — run the per-window lambda
  * INTERPRETED (higher-order functions are CodegenFallback) and allocate a
  * fresh w-token string per window, duplicates included, only to dedup or
  * hash it immediately. These kernels walk the text bytes once instead:
  * `split(text, " ")` token boundaries are recovered byte-level (0x20 never
  * occurs inside a UTF-8 multi-byte sequence), and each w-token window is a
  * CONTIGUOUS substring of the original text (adjacent tokens are separated
  * by exactly one space, so `concat_ws(" ", slice(toks, j, w))` re-assembles
  * the very bytes it came from) — a zero-copy `UTF8String.fromAddress` view
  * hashes, dedups and emits without materializing per-window strings. Views
  * are safe to return under the same contract as `UnsafeRow.getUTF8String`
  * and the collection expressions that return references into a child array
  * (NOT `Substring`, which copies): the codegen/UnsafeRow evaluation
  * contract has every consumer copy expression output into an UnsafeRow
  * before the producing row's buffer is reused, so the views never outlive
  * their backing bytes. Consumers that BUFFER results by reference in an
  * interpreted path must copy first — the spec asserts these kernel calls
  * never fall back to interpreted mode (no CodegenFallback), which is what
  * keeps that hazard theoretical. Bit-identical to the HOF forms
  * (ShinglerSpec pins equality
  * including empty tokens from doubled/leading/trailing spaces, multi-byte
  * codepoints, and the `< w` whole-text collapse). */
object Shingler {

  /** Token start BYTE offsets under `split(text, " ")` semantics (single
    * literal space, all empty tokens kept — Spark splits with limit -1). */
  private def tokenStarts(s: UTF8String): Array[Int] = {
    val n = s.numBytes
    var count = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) count += 1
      i += 1
    }
    val starts = new Array[Int](count)
    var c = 1
    i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) { starts(c) = i + 1; c += 1 }
      i += 1
    }
    starts
  }

  // window j covers tokens j..j+w-1 = bytes [starts(j), tokEnd(j+w-1))
  @inline private def tokEnd(starts: Array[Int], n: Int, t: Int): Int =
    if (t + 1 < starts.length) starts(t + 1) - 1 else n

  /** == `Dedup.shingles(text, w)`: every w-token window (whole text when
    * under w tokens), duplicates and order preserved. */
  def shingleArray(text: UTF8String, w: Int): ArrayData = {
    val starts = tokenStarts(text)
    val m = starts.length
    val n = text.numBytes
    if (m < w) return new GenericArrayData(Array[Any](text))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val out = new Array[Any](m - w + 1)
    var j = 0
    while (j < m - w + 1) {
      val sb = starts(j)
      val eb = tokEnd(starts, n, j + w - 1)
      out(j) = UTF8String.fromAddress(base, off + sb, eb - sb)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** == `transform(Dedup.shingles(text, w), xxhash64)`: per-window 64-bit
    * hash, positions and duplicates preserved — the positional-fingerprint
    * input (winnowing) with no window strings materialized. */
  def shingleHashes(text: UTF8String, w: Int): ArrayData = {
    val starts = tokenStarts(text)
    val m = starts.length
    val n = text.numBytes
    if (m < w)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUTF8String(text, 42L)))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val out = new Array[Long](m - w + 1)
    var j = 0
    while (j < m - w + 1) {
      val sb = starts(j)
      val eb = tokEnd(starts, n, j + w - 1)
      out(j) = XXH64.hashUTF8String(
        UTF8String.fromAddress(base, off + sb, eb - sb), 42L)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** == `array_distinct(Dedup.shingles(text, w))`: first-occurrence order,
    * string identity (views into the text, deduped via their byte
    * hash/equality — no per-window allocation beyond the set nodes). */
  def distinctShingles(text: UTF8String, w: Int): ArrayData = {
    val starts = tokenStarts(text)
    val m = starts.length
    val n = text.numBytes
    if (m < w) return new GenericArrayData(Array[Any](text))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val seen = new java.util.HashSet[UTF8String](Math.max(8, (m - w + 1) * 2))
    val out = new scala.collection.mutable.ArrayBuffer[Any](m - w + 1)
    var j = 0
    while (j < m - w + 1) {
      val sb = starts(j)
      val eb = tokEnd(starts, n, j + w - 1)
      val v = UTF8String.fromAddress(base, off + sb, eb - sb)
      if (seen.add(v)) out += v
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** == `transform(array_distinct(Dedup.shingles(text, w)), xxhash64)`:
    * dedup on STRING identity (so collision behavior matches the dataflow
    * form exactly), then one xxhash64 per distinct window. */
  def distinctShingleHashes(text: UTF8String, w: Int): ArrayData = {
    val starts = tokenStarts(text)
    val m = starts.length
    val n = text.numBytes
    if (m < w)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUTF8String(text, 42L)))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val seen = new java.util.HashSet[UTF8String](Math.max(8, (m - w + 1) * 2))
    val out = new scala.collection.mutable.ArrayBuffer[Long](m - w + 1)
    var j = 0
    while (j < m - w + 1) {
      val sb = starts(j)
      val eb = tokEnd(starts, n, j + w - 1)
      val v = UTF8String.fromAddress(base, off + sb, eb - sb)
      if (seen.add(v)) out += XXH64.hashUTF8String(v, 42L)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** Injective group key of a shingle-set array (opt-r15) — bit-identical
    * to `sha2(concat_ws("|", transform(sh, x => concat(length(x), ":", x))),
    * 256)`: each element length-prefixed by its CHARACTER count in decimal,
    * ':'-separated, '|'-joined, SHA-256, lowercase hex. The HOF form ran
    * interpreted and allocated a length-prefixed copy of every shingle plus
    * the full joined string per doc; this streams the same bytes through
    * one MessageDigest. Null elements are skipped with no separator —
    * transform maps them to null and concat_ws drops nulls — though kernel
    * inputs never carry any. */
  def shingleSetKey(sh: ArrayData): UTF8String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val n = sh.numElements()
    var first = true
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        val s = sh.getUTF8String(i)
        if (!first) md.update('|'.toByte)
        first = false
        md.update(String.valueOf(s.numChars()).getBytes("US-ASCII"))
        md.update(':'.toByte)
        md.update(s.getByteBuffer)
      }
      i += 1
    }
    val d = md.digest()
    val hex = new Array[Byte](d.length * 2)
    var j = 0
    while (j < d.length) {
      hex(2 * j) = HexDigits((d(j) >> 4) & 0xf)
      hex(2 * j + 1) = HexDigits(d(j) & 0xf)
      j += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** == `size(array_distinct(Dedup.shingles(text, w)))`: the count alone —
    * nothing materializes at all (Gopher duplicate-bigram rule,
    * repetition ratio). */
  def distinctShingleCount(text: UTF8String, w: Int): Int = {
    val starts = tokenStarts(text)
    val m = starts.length
    val n = text.numBytes
    if (m < w) return 1
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val seen = new java.util.HashSet[UTF8String](Math.max(8, (m - w + 1) * 2))
    var j = 0
    while (j < m - w + 1) {
      val sb = starts(j)
      val eb = tokEnd(starts, n, j + w - 1)
      seen.add(UTF8String.fromAddress(base, off + sb, eb - sb))
      j += 1
    }
    seen.size
  }
}
