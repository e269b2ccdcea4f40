package graft

import graft.catalog.TableRegistry
import graft.ext.Sketches
import org.apache.spark.sql.functions._

/** Sketch-family invariants: count-min one-sided error and row
  * conservation; Bloom no-false-negatives and count identities. */
class SketchesSpec extends SparkSpec {

  import spark.implicits._

  test("sketch entry points refuse non-positive dimensions (silent-empty hazard)") {
    // w=0 / m=0 would make the non-ANSI `% w` bucket NULL and every result
    // silently come back empty — must refuse up front instead
    val docs = TableRegistry.table(spark, sfDir, "documents")
    import graft.ext.Sketches
    intercept[IllegalArgumentException] { Sketches.cmsTokenCounts(docs, d = 4, w = 0) }
    intercept[IllegalArgumentException] { Sketches.cmsTokenCounts(docs, d = 0, w = 64) }
    intercept[IllegalArgumentException] { Sketches.cmsCells(docs, d = 4, w = -1) }
    intercept[IllegalArgumentException] {
      Sketches.bloomPrefilter(docs, col("doc_id") < 10, col("doc_id") >= 10, k = 3, m = 0)
    }
  }

  test("count-min estimates are one-sided: est >= true for every token") {
    val docs = TableRegistry.table(spark, sfDir, "documents")
    val rows = Sketches.cmsTokenCounts(docs)
      .select("true_cnt", "cms_est").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, e) => assert(e >= t) }
  }

  test("count-min conserves mass: every hash row's cells sum to total tokens") {
    // rebuild the cell table directly — each of the d rows distributes the
    // full occurrence count over its w cells
    val docs = TableRegistry.table(spark, sfDir, "documents")
    val tokc = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("th", Sketches.polyHashCol(col("tok")))
    val total = tokc.agg(sum("cnt")).as[Long].head()
    val perRow = tokc.select(col("cnt"),
        explode(array((1 to 4).map(i =>
          struct(lit(i).as("i"), Sketches.bucket(col("th"), i, 64).as("b"))): _*)).as("rb"))
      .groupBy($"rb.i").agg(sum("cnt").as("mass"))
      .select("mass").as[Long].collect()
    assert(perRow.length === 4)
    perRow.foreach(m => assert(m === total))
  }

  test("bloom prefilter has no false negatives and consistent counts") {
    val docs = TableRegistry.table(spark, sfDir, "documents")
    val rows = Sketches.bloomPrefilter(docs,
      histPred = expr("doc_id % 10 < 7"), newPred = expr("doc_id % 10 >= 7")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, fl, dup, fp) = (r.getAs[Long]("n_new"), r.getAs[Long]("n_flagged"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("n_false_pos"))
      assert(dup + fp === fl) //  every dup IS flagged (no false negatives)
      assert(fl <= n)
    }
  }

  test("cdc boundaries are content-defined: a head insertion shifts, not rewrites") {
    // the property fixed-stride chunking lacks: all original shingles
    // reappear shifted by the insertion length, so every original boundary
    // survives at pos+3 — only the 3 new head shingles can add boundaries.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val docs = Seq((1L, base.trim), (2L, ("x y z " + base).trim)).toDF("doc_id", "text")
    val hl = docs.select(col("doc_id"),
      graft.ext.Sketches.polyHashArray(graft.ext.Dedup.shingles(col("text"), 4)).as("hl"))
    val bounds = hl.select(col("doc_id"), posexplode(col("hl")).as(Seq("pos", "h")))
      .where(col("h") % 16 === 0)
      .select("doc_id", "pos").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val orig = bounds.getOrElse(1L, Set.empty)
    val shifted = bounds.getOrElse(2L, Set.empty)
    assert(orig.map(_ + 3).subsetOf(shifted))
    // and nothing beyond the head region appears that wasn't in the original
    assert(shifted.filter(_ >= 3) === orig.map(_ + 3))
  }

  test("one-pass shingle-hash kernel is bit-equal to shingles()+polyHash") {
    // includes the edge shapes: short doc (whole-text shingle), repeated
    // spaces (empty tokens concat_ws keeps), trailing space, unicode
    val docs = TableRegistry.table(spark, sfDir, "documents")
      .select(col("text"))
      .unionAll(Seq("a b", "x  y z  w", "tail space ", "héllo wörld π a b c")
        .toDF("text"))
    val cmp = docs.select(
      graft.ext.Sketches.shingleHashes(col("text"), 4).as("fast"),
      graft.ext.Sketches.polyHashArray(graft.ext.Dedup.shingles(col("text"), 4)).as("slow"))
    assert(cmp.where(col("fast") =!= col("slow")).count() === 0)
  }

  test("fixed-point pagerank: exact hand-computed star graph, partition-invariant") {
    // star 0–{1,2,3}: deg(0)=3, deg(leaf)=1, r0=1e6.
    // iter1: r(0) = 150000 + 850000·3e6/1e6 = 2_700_000
    //        r(leaf) = 150000 + 850000·(1e6 div 3)/1e6 = 433_333
    // iter2: r(0) = 150000 + (850000·3·433333) div 1e6 = 1_254_999
    //        r(leaf) = 150000 + (850000·(2700000 div 3)) div 1e6 = 915_000
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a_id", "b_id")
    val got = graft.ext.Graph.pagerankFixedPoint(pairs, iters = 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 1254999L, 1L -> 915000L, 2L -> 915000L, 3L -> 915000L))
    // integer sums are commutative — the result cannot depend on partitioning
    val re = graft.ext.Graph.pagerankFixedPoint(pairs.repartition(7), iters = 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toMap
    assert(re === got)
  }

  test("bloom flags a doc whose head fingerprint is in the index") {
    val docs = Seq(
      (0L, "s", "h1 h2 h3 h4 h5 h6 h7 h8 old tail"),
      (17L, "s", "h1 h2 h3 h4 h5 h6 h7 h8 new tail"), // same head → must flag
      (27L, "s", "x1 x2 x3 x4 x5 x6 x7 x8 other") //     different head
    ).toDF("doc_id", "source", "text")
    val out = Sketches.bloomPrefilter(docs,
      histPred = expr("doc_id % 10 < 7"), newPred = expr("doc_id % 10 >= 7")).collect()
    val r = out.head
    assert(r.getAs[Long]("n_new") === 2)
    assert(r.getAs[Long]("n_dup") === 1) //    doc 17 found as true dup
    assert(r.getAs[Long]("n_flagged") >= 1) // and therefore flagged
  }
}
