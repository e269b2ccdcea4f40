package graft

import org.apache.spark.sql.functions._

/** Batch-15 semantics: the tokenizer reproduces a hand-tokenized document
  * (ids, counts, hash, shard), incremental SemDeDup drops exactly the
  * cross-batch duplicates of KEPT base vectors while the base manifest
  * stays untouched, and the admission gate's verdict composes the Gopher
  * rules with the planted-PII redaction counts. */
class Queries15Spec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q15_docs").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("BPE tokenizer reproduces a hand-tokenized document (ids, count, hash, shard)") {
    // corpus "ab ab ab" after 2 merges (the Queries14Spec fixture): vocab
    // "ab" → [ab], " ab" → [" ab"]. Distinct symbols sorted: " ab" < "ab"
    // (space sorts below letters) → ids " ab"=1, "ab"=2. Doc 0's pretoken
    // stream is [ab, " ab", " ab"] → ids [2, 1, 1], n_tokens 3,
    // hash = ((7·131+2)·131+1)·131+1 = 15771091. Doc 1 is entirely
    // non-ASCII → zero in-range pretokens, n_tokens 0, empty-fold hash 7.
    val dir = docsDir(Seq((0L, "ab ab ab", "src0"), (1L, "éé", "src0")))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.ext.Bpe.tokenizeShards(spark, docs, nMerges = 2,
      nShards = 16).collect()
    assert(out.length == 2)
    val r0 = out(0)
    assert((r0.getLong(0), r0.getLong(2), r0.getLong(3))
      == ((0L, 3L, 15771091L)), r0.toString)
    val r1 = out(1)
    assert((r1.getLong(0), r1.getLong(2), r1.getLong(3)) == ((1L, 0L, 7L)),
      r1.toString)
    // the shard column is the shard_manifest hash family verbatim
    val wantShards = docs
      .select(col("doc_id"), pmod(hash(col("doc_id")), lit(16)).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach(r => assert(r.getInt(1) == wantShards(r.getLong(0)),
      s"shard drifted for doc ${r.getLong(0)}"))
  }

  test("BPE tokenizer totals reconcile with encode fertility on the same corpus") {
    // Σ n_tokens over docs == Σ encoded_tokens over sources: the two keys
    // count the same quantity through different plans (per-doc lookup
    // stream vs per-source count×n_syms products)
    val docs = graft.catalog.TableRegistry.table(spark, sfDir, "documents")
    val tok = graft.ext.Bpe.tokenizeShards(spark, docs, nMerges = 10, nShards = 16)
      .agg(sum("n_tokens")).head().getLong(0)
    val enc = graft.ext.Bpe.encodeFertility(spark, docs, nMerges = 10)
      .agg(sum("encoded_tokens")).head().getLong(0)
    assert(tok == enc, s"tokenizer total $tok vs fertility total $enc")
  }

  test("incremental SemDeDup drops cross-batch duplicates of KEPT base vectors only") {
    import spark.implicits._
    // base batch (vec_id % 10 < 7): one-hot 0..6 plus id 16 an exact copy
    // of vec 3 — base dedup keeps 3, drops 16. New batch (% 10 >= 7):
    // id 7 copies KEPT base vec 3 (drops), id 8 is a new direction
    // (kept), id 9 copies the base-DROPPED vec 16 — identical to 3's
    // vector, so it still drops against the kept representative.
    val oneHot = (i: Int) => Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    val base = (0 to 6).map(i => (i.toLong, oneHot(i))) :+ ((16L, oneHot(3)))
    val nw = Seq((7L, oneHot(3)), (8L, oneHot(7)), (9L, oneHot(3)))
    val emb = (base ++ nw).toDF("vec_id", "embedding")
    val b1 = emb.where(expr("vec_id % 10 < 7"))
    val b2 = emb.where(expr("vec_id % 10 >= 7"))
    val baseManifest = graft.ext.SimSearch
      .semanticKeepers(b1, k = 4, threshold = 0.9).collect()
    assert(baseManifest.filter(_.getInt(2) == 0).map(_.getLong(0)).toSeq
      == Seq(16L), "base dedup must drop exactly the later copy")
    val out = graft.ext.SimSearch.incrementalKeepers(b2, b1, k = 4,
      threshold = 0.9).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(7L, 8L, 9L), "one row per new vector")
    val kept = out.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(kept == Map(7L -> 0, 8L -> 1, 9L -> 0), kept.toString)
    // the base manifest is UNCHANGED by the incremental pass (keep-first
    // across runs — earlier batches won)
    val after = graft.ext.SimSearch
      .semanticKeepers(b1, k = 4, threshold = 0.9).collect()
    assert(after.map(r => (r.getLong(0), r.getInt(2))).toSeq
      == baseManifest.map(r => (r.getLong(0), r.getInt(2))).toSeq)
  }

  test("admission gate: quality fail, PII hit, and the admitted verdict compose") {
    // passText: 20 tokens (the, a, tok1..tok18) — count in [20, 90], Σlen
    // 85 within [3n, 5n] = [60, 100], 2 stopwords, all bigrams distinct
    val passText = (Seq("the", "a") ++ (1 to 18).map("tok" + _)).mkString(" ")
    val dir = docsDir(Seq(
      (0L, passText, "src0"),                              // admitted
      (1L, passText + " mail bob@x.org now", "src0"),      // PII → rejected
      (2L, "too short text", "src0")))                     // quality → rejected
    val out = graft.streaming.StreamingAdmission
      .batchTwin(spark.read.parquet(s"$dir/documents.parquet")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getDouble(6))
      == (("src0", 3L, 1L, 1L, 1L, 1L, 0.333333)), r.toString)
  }

  test("admission gate redaction counts follow the X62 sequential semantics") {
    // an email whose domain is an IPv4+TLD: the email pass consumes it, so
    // the doc counts ONE redaction, not two (pii_redact_clean's ordering)
    val dir = docsDir(Seq((0L, "mail u@1.2.3.4.net now", "src0")))
    val r = graft.streaming.StreamingAdmission
      .perSourceStats(spark.read.parquet(s"$dir/documents.parquet"))
      .collect()(0)
    assert((r.getLong(2), r.getLong(4)) == ((1L, 1L)), r.toString)
  }

  test("lex-first-cap fold is arrival-order invariant") {
    import graft.streaming.StreamingAdmission.{capped, Counts, Overflow}
    val c = (n: Long) => Counts(n, 0, 0, 0, n)
    // order 1: b arrives, then a displaces it
    val s1 = capped(capped(Map("b" -> c(2)), 1) + ("a" -> c(3)), 1)
    // order 2: a first, b folds on arrival; b's later counts keep folding
    val s2a = capped(Map("a" -> c(3), "b" -> c(1)), 1)
    val s2 = capped((s2a.keySet + "b").iterator.map(k =>
      k -> (s2a.getOrElse(k, Counts(0, 0, 0, 0, 0)) +
        (if (k == "b") c(1) else Counts(0, 0, 0, 0, 0)))).toMap, 1)
    assert(s1 == Map("a" -> c(3), Overflow -> c(2)), s1.toString)
    assert(s2 == Map("a" -> c(3), Overflow -> c(2)), s2.toString)
    // under the cap: untouched, no overflow row appears
    assert(capped(Map("a" -> c(1), "b" -> c(2)), 2)
      == Map("a" -> c(1), "b" -> c(2)))
  }
}
