package graft

import graft.catalog.TableRegistry
import graft.ext.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one-pass shingle kernels (opt-r15) against their dataflow
  * definitions: the former HOF forms ARE the executable spec — every kernel
  * must be bit-identical on the real corpus AND on adversarial strings
  * (empty text, doubled/leading/trailing spaces — i.e. empty tokens —,
  * multi-byte codepoints, docs shorter than the window). */
class ShinglerSpec extends SparkSpec {

  import spark.implicits._

  /** The pre-kernel definition, verbatim (Dedup.shingles before opt-r15). */
  private def hofShingles(text: Column, w: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < w, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  // real corpus + every adversarial shape the byte-walk must survive:
  // empty string, single token, exactly w tokens, doubled / leading /
  // trailing spaces (empty tokens), multi-byte codepoints (2-, 3- and
  // 4-byte UTF-8), repeated windows (dedup), and a space-only string
  private def fixtures = {
    val corpus = TableRegistry.table(spark, sfDir, "documents")
      .select(col("text")).as[String].collect().toSeq
    val edge = Seq(
      "", "one", "two words", "a b c", "a b c d",
      "a  b", " a b", "a b ", "  ", " ",
      "héllo wörld héllo wörld héllo",
      "日本 語 テ スト 日本 語",
      "🙂 emoji 🙂 emoji 🙂",
      "rep rep rep rep rep rep",
      "x y x y x y x y")
    (corpus ++ edge).toDF("text")
  }

  test("ShingleArray == shingles HOF form (w=2,3,4)") {
    for (w <- Seq(2, 3, 4)) {
      val bad = fixtures
        .select(Dedup.shingles(col("text"), w).as("k"),
          hofShingles(col("text"), w).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("DistinctShingles == array_distinct(shingles) incl. order (w=2,3,4)") {
    for (w <- Seq(2, 3, 4)) {
      val bad = fixtures
        .select(Dedup.distinctShingles(col("text"), w).as("k"),
          array_distinct(hofShingles(col("text"), w)).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("ShingleHashes == transform(shingles, xxhash64), positions kept") {
    for (w <- Seq(3, 4)) {
      val bad = fixtures
        .select(Dedup.shingleHashes64(col("text"), w).as("k"),
          transform(hofShingles(col("text"), w), g => xxhash64(g)).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("DistinctShingleHashes == transform(array_distinct(shingles), xxhash64)") {
    for (w <- Seq(3, 4)) {
      val bad = fixtures
        .select(Dedup.distinctShingleHashes(col("text"), w).as("k"),
          transform(array_distinct(hofShingles(col("text"), w)), g => xxhash64(g)).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("DistinctShingleCount == size(array_distinct(shingles))") {
    for (w <- Seq(2, 3)) {
      val bad = fixtures
        .select(Dedup.distinctShingleCount(col("text"), w).as("k"),
          size(array_distinct(hofShingles(col("text"), w))).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("null text: every kernel is null-in null-out like the HOF form") {
    val df = Seq[Option[String]](None, Some("a b c d")).toDF("text")
    val row = df.where(col("text").isNull)
      .select(Dedup.shingles(col("text"), 3),
        Dedup.distinctShingles(col("text"), 3),
        Dedup.shingleHashes64(col("text"), 3),
        Dedup.distinctShingleHashes(col("text"), 3),
        Dedup.distinctShingleCount(col("text"), 3))
      .head()
    (0 until 5).foreach(i => assert(row.isNullAt(i), s"col $i"))
  }

  test("ShingleSetKey == sha2(concat_ws of length-prefixed elements, 256)") {
    // the pre-kernel definition, verbatim (Dedup.shingleSetKey pre-opt-r15)
    def hofKey(sh: Column): Column =
      sha2(concat_ws("|", transform(sh, x => concat(length(x), lit(":"), x))), 256)
    def kKey(sh: Column): Column = Dedup.shingleSetKey(sh)
    // real distinct-shingle arrays + adversarial ones: empty array, empty
    // string element, multi-byte elements (length() counts CHARACTERS),
    // elements containing the separators themselves
    val arrs = fixtures.select(Dedup.distinctShingles(col("text"), 3).as("sh"))
      .unionAll(Seq(
        Seq[String](), Seq(""), Seq("", ""), Seq("a|b", "c:d"),
        Seq("héllo wörld", "日本 語 テ"), Seq("🙂 a b")).toDF("sh"))
    val bad = arrs.select(kKey(col("sh")).as("k"), hofKey(col("sh")).as("h"))
      .where(not(col("k") <=> col("h")))
    assert(bad.count() === 0)
  }

  test("LangOccurrenceScore == replace-length-delta sum, per language") {
    import org.apache.spark.sql.GraftColumnBridge
    // the pre-kernel definition, verbatim (withLangIdOccurrence pre-opt-r15)
    def hofScore(text: Column, ps: Seq[String]): Column = ps.map { p =>
      ((length(text) - length(replace(text, lit(p)))) / p.length).cast("int")
    }.reduce(_ + _)
    def kScore(text: Column, ps: Seq[String]): Column = GraftColumnBridge.column(
      graft.functions.LangOccurrenceScore(GraftColumnBridge.expression(text), ps))
    val profiles = graft.ext.TextAnalysis.defaultTrigramProfiles
    for ((lang, ps) <- profiles) {
      val bad = fixtures
        .select(kScore(col("text"), ps).as("k"), hofScore(col("text"), ps).as("h"))
        .where(not(col("k") <=> col("h")))
      assert(bad.count() === 0, s"lang=$lang")
    }
    // overlapping-occurrence semantics: replace() consumes matches
    // left-to-right non-overlapping — "aaaa" has TWO "aa", not three
    val tricky = Seq("aaaa", "ababab", "あああ", "the the ", "").toDF("text")
    val pats = Seq("aa", "ab", "あ", "the")
    val bad = tricky
      .select(kScore(col("text"), pats).as("k"), hofScore(col("text"), pats).as("h"))
      .where(not(col("k") <=> col("h")))
    assert(bad.count() === 0)
  }

  test("kernels run inside whole-stage codegen (no CodegenFallback)") {
    // the entire point: the HOF forms dropped the projection out of
    // codegen; the kernels must keep it in (one WholeStageCodegen span
    // containing the project over the scan)
    val plan = fixtures
      .select(explode(Dedup.distinctShingleHashes(col("text"), 3)).as("gh"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
  }
}
