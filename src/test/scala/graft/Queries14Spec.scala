package graft

import org.apache.spark.sql.functions._

/** Batch-14 semantics: the BPE trainer reproduces a hand-computed merge
  * sequence (ranks, tie-breaks, compression trajectory), PII redaction
  * pins exact redacted text including the sequential email-shadows-IP
  * ordering, and filtered ANN returns only matching-label neighbors in
  * exact cosine order. */
class Queries14Spec extends SparkSpec {

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q14_docs").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("BPE trainer reproduces the hand-computed merge sequence on a tiny corpus") {
    // corpus "ab ab ab" → pretokens: "ab"×1, " ab"×2 (the X56 pattern
    // glues a single leading space). Round 1: pair (a,b) count 3 beats
    // (" ",a) count 2 → merge "ab"; weighted symbols after: 1·1 + 2·2 = 5.
    // Round 2: only pair left is (" ","ab") count 2 → merge " ab";
    // symbols after: 1 + 2 = 3.
    val dir = docsDir(Seq((0L, "ab ab ab", "src0")))
    val rows = graft.ext.Bpe.trainMerges(spark,
      spark.read.parquet(s"$dir/documents.parquet"), nMerges = 2)
      .collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert((r1.getInt(0), r1.getString(1), r1.getString(2), r1.getLong(3), r1.getLong(4))
      == ((1, "a", "b", 3L, 5L)), r1.toString)
    val r2 = rows(1)
    assert((r2.getInt(0), r2.getString(1), r2.getString(2), r2.getLong(3), r2.getLong(4))
      == ((2, " ", "ab", 2L, 3L)), r2.toString)
  }

  test("BPE tie-break is lexicographic on (left, right) at equal count") {
    // "xy pq xy pq": pretokens "xy"×1, " pq"×2... make counts EQUAL:
    // "xy pq" → pretokens "xy"×1, " pq"×1 → pairs (x,y)=1, (" ",p)=1,
    // (p,q)=1 — all count 1; lexicographic min is (" ", p) (space sorts
    // below every printable-ASCII letter)
    val dir = docsDir(Seq((0L, "xy pq", "src0")))
    val rows = graft.ext.Bpe.trainMerges(spark,
      spark.read.parquet(s"$dir/documents.parquet"), nMerges = 1).collect()
    assert(rows(0).getString(1) == " " && rows(0).getString(2) == "p",
      rows(0).toString)
  }

  test("BPE greedy merge application is left-to-right non-overlapping") {
    // "aaa": pretoken "aaa"×1 → pair (a,a) count 2 (adjacent positions);
    // applying merges positions 0-1 only → symbols [aa, a] (weighted
    // total 2), NOT [a, aa] and NOT the overlapping [aa, aa]
    val dir = docsDir(Seq((0L, "aaa", "src0")))
    val rows = graft.ext.Bpe.trainMerges(spark,
      spark.read.parquet(s"$dir/documents.parquet"), nMerges = 2).collect()
    assert((rows(0).getString(1), rows(0).getString(2), rows(0).getLong(3),
      rows(0).getLong(4)) == (("a", "a", 2L, 2L)), rows(0).toString)
    // round 2: the only pair left is (aa, a) → merge to one symbol
    assert((rows(1).getString(1), rows(1).getString(2), rows(1).getLong(4))
      == (("aa", "a", 1L)), rows(1).toString)
  }

  test("BPE encode applies the trained vocab: hand-computed per-source fertility") {
    // "ab ab ab" after 2 merges: vocab "ab"→[ab], " ab"→[" ab"] — 3 ascii
    // pretokens encode to 3 symbols over 3 ws tokens → encoded_per_ws 1.0
    val dir = docsDir(Seq((0L, "ab ab ab", "src0")))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rows = graft.ext.Bpe.encodeFertility(spark, docs, nMerges = 2).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == (("src0", 1L, 3L, 3L, 3L, 1.0)), r.toString)
  }

  test("semantic keeper manifest drops exactly the planted duplicate, keeps first by id") {
    import spark.implicits._
    // the Queries11Spec fixture shape: 23 one-hot + an exact copy of vec 10
    val base = (0 until 23).map { i =>
      (i.toLong, Array.tabulate(23)(j => if (j == i) 1.0f else 0.0f))
    }
    val emb = (base :+ ((23L, base(10)._2))).toDF("vec_id", "embedding")
    val out = graft.ext.SimSearch.semanticKeepers(emb, k = 4, threshold = 0.9)
      .collect()
    assert(out.length == 24)
    assert(out.map(_.getLong(0)).toSeq == (0L to 23L), "one row per vector, id order")
    val dropped = out.filter(_.getInt(2) == 0).map(_.getLong(0)).toSeq
    assert(dropped == Seq(23L), s"exactly the later copy drops: $dropped")
    // manifest agrees with the stats key's totals
    val stats = graft.ext.SimSearch.semanticDedup(emb, k = 4, threshold = 0.9)
      .agg(sum("n_dup"), sum("n_vecs")).collect()(0)
    assert(stats.getLong(0) == 1L && stats.getLong(1) == 24L)
  }

  test("PII redaction: exact redacted text, sequential email-shadows-IP ordering") {
    val dir = docsDir(Seq(
      (0L, "contact bob.smith+x@mail-host.org or 10.0.0.1 call 555-123-4567", "src0"),
      // the email's domain IS an IPv4 + TLD: the email pass consumes it,
      // so the IP pass must count ZERO here (sequential semantics)
      (1L, "mail u@1.2.3.4.net now", "src0"),
      // two phones, an IP at end-of-string, no email
      (2L, "call 111-222-3333 then 444-555-6666 at 192.168.0.255", "src0"),
      (3L, "clean text with no identifiers at all", "src0")))
    val out = graft.ext.TextAnalysis.piiRedact(spark.read.parquet(s"$dir/documents.parquet"))
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getLong(2), out(i).getLong(3), out(i).getLong(4),
      out(i).getString(5))
    assert(row(0) == ((1L, 1L, 1L, "contact <EMAIL> or <IP> call <PHONE>")), out(0).toString)
    assert(row(1) == ((1L, 0L, 0L, "mail <EMAIL> now")), out(1).toString)
    assert(row(2) == ((0L, 1L, 2L, "call <PHONE> then <PHONE> at <IP>")), out(2).toString)
    assert(row(3) == ((0L, 0L, 0L, "clean text with no identifiers at all")), out(3).toString)
  }

  test("filtered ANN: every hit carries the filter label, order is exact cosine desc") {
    val emb = graft.catalog.TableRegistry.table(spark, sfDir, "embeddings")
    val got = graft.ext.SimSearch.filteredTopK(spark, emb, queryVecId = 0,
      k = 10, labelValue = 3).collect()
    assert(got.length == 10)
    val cos = got.map(_.getDouble(1))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, cos.mkString(","))
    val hitIds = got.map(_.getLong(0)).toSet
    val label3 = emb.where(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(hitIds.subsetOf(label3), s"non-label-3 hits: ${hitIds.diff(label3)}")
    // and it is exactly the brute-force label-3 head: rank the filtered
    // population with the unfiltered retriever's math
    val brute = graft.ext.SimSearch.topK(spark, emb, queryVecId = 0,
      k = emb.count().toInt).collect()
      .filter(r => label3.contains(r.getLong(0))).take(10).map(_.getLong(0))
    assert(got.map(_.getLong(0)).sameElements(brute), "filtered head diverges from brute-force label-3 head")
  }
}
