package graft

import org.apache.spark.sql.functions._

/** Batch-6 corpus-preparation operators on hand-built inputs with known
  * answers, plus invariants on the fixture-driven keys. */
class Queries6Spec extends SparkSpec {

  import spark.implicits._

  private def key(name: String) = Queries.allSpecs.find(_.name == name).get.fn

  test("span_dup_fraction: shared 4-gram spans are flagged, unique ones are not") {
    // docs 1 and 2 share the 4-gram "a b c d" (and only that one); doc 3 is
    // disjoint. A doc's fraction = shared distinct shingles / distinct total.
    val docs = Seq(
      (1L, "a b c d e"), //  shingles: "a b c d", "b c d e"
      (2L, "z a b c d"), //  shingles: "z a b c", "a b c d"
      (3L, "p q r s t") //   shingles: "p q r s", "q r s t"
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(graft.ext.Dedup.shingles(col("text"), 4)).as("sh")).distinct()
    val byDocs = sh.groupBy("sh").agg(count(lit(1)).as("ndocs"))
    val fr = sh.join(byDocs, "sh").groupBy("doc_id")
      .agg((sum(when(col("ndocs") > 1, 1).otherwise(0)) / count(lit(1))).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(fr(1L) === 0.5)
    assert(fr(2L) === 0.5)
    assert(fr(3L) === 0.0)
  }

  test("chunk_overlap: stride-24 windows of 32 tokens tile each doc exactly") {
    val out = key("chunk_overlap")(spark, sfDir)
      .select("doc_id", "chunk_idx", "start", "chunk_tok")
      .as[(Long, Int, Int, Int)].collect()
    val byDoc = out.groupBy(_._1)
    val nTok = graft.catalog.TableRegistry.table(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      // starts are 1, 25, 49, …; every chunk is non-empty and ≤ 32 tokens;
      // the last chunk reaches the end of the doc.
      sorted.zipWithIndex.foreach { case ((_, idx, start, ctok), i) =>
        assert(idx === i)
        assert(start === 1 + 24 * i)
        assert(ctok >= 1 && ctok <= 32)
      }
      val (_, _, lastStart, lastTok) = sorted.last
      assert(lastStart + lastTok - 1 === nTok(doc))
    }
  }

  test("mixture_sample: deterministic, and observed rates track target rates") {
    val a = key("mixture_sample")(spark, sfDir).collect()
    val b = key("mixture_sample")(spark, sfDir).collect()
    assert(a.sameElements(b)) // same docs every run — no RNG anywhere
    a.foreach { r =>
      val (total, sampled, rate) =
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_sampled"), r.getAs[Double]("target_rate"))
      assert(sampled <= total)
      // integer-hash selection: observed rate within a loose band of target
      assert(math.abs(sampled.toDouble / total - rate) < 0.35)
    }
  }

  test("vocab_coverage: monotone non-decreasing in vocab size, bounded by 1") {
    val rows = key("vocab_coverage")(spark, sfDir)
      .select("n_vocab", "coverage").as[(Int, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(10, 25, 50))
    rows.foreach { case (_, c) => assert(c > 0.0 && c <= 1.0) }
    assert(rows.sliding(2).forall { case Array((_, a), (_, b)) => b >= a })
  }

  test("dedup_incremental: hand corpus — head-fingerprint collisions drop") {
    // 8-token head fingerprint. Index doc 0; new docs: 17 shares doc 0's
    // head (dropped), 27 differs in token 3 (kept).
    val docs = Seq(
      (0L, "s", "t1 t2 t3 t4 t5 t6 t7 t8 tail0"),
      (17L, "s", "t1 t2 t3 t4 t5 t6 t7 t8 tail17"),
      (27L, "s", "t1 t2 XX t4 t5 t6 t7 t8 tail27")
    ).toDF("doc_id", "source", "text")
    val fp = sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 8)), 256)
    val hist = docs.where(expr("doc_id % 10 < 7")).select(fp.as("h"))
      .distinct().withColumn("in_index", lit(1))
    val res = docs.where(expr("doc_id % 10 >= 7")).withColumn("h", fp)
      .join(hist, Seq("h"), "left")
      .select(col("doc_id"), col("in_index").isNotNull.as("dropped"))
      .as[(Long, Boolean)].collect().toMap
    assert(res === Map(17L -> true, 27L -> false))
  }

  test("embed_normalize: re-normalized norms are 1 and head8 sums are finite") {
    val rows = key("embed_normalize")(spark, sfDir)
      .select("l2_norm", "head8_sum").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h8) =>
      assert(n > 0.0)
      assert(!h8.isNaN && math.abs(h8) <= 8.0) // each normalized dim ≤ 1
    }
  }

  test("filter_length_outliers: keeps within the band, drops roughly 10%") {
    val rows = key("filter_length_outliers")(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    assert(kept <= total)
    // P05–P95 band keeps ~90% globally (exact percentiles, small-n rounding)
    assert(kept.toDouble / total > 0.8 && kept.toDouble / total <= 0.95)
  }
}
