package graft

import graft.catalog.TableRegistry
import graft.ext.SimSearch
import org.apache.spark.sql.functions._

/** [[Memo]] derives every key from the inputs an entry reads: a frame's
  * plan over its files, plus the snapshot of those files. */
class MemoSpec extends SparkSpec {

  test("an operator corpus rewritten in place is re-sketched: dedup_minhash matches a fresh copy") {
    val dir = copyFixtures("graft_memo_stale")
    def rows(d: String) = SparkEntry.queries("dedup_minhash")(spark, d).collect().toSeq
    val before = rows(dir)
    // every fifth document gains an exact copy under a new id: new pairs
    rewriteTable(dir, "documents")(df =>
      df.unionByName(df.where(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + 1000000L)))
    val after = rows(dir)
    val fresh = rows(copyDir(dir, "graft_memo_stale_fresh"))
    assert(fresh != before, "the rewrite must change the answer")
    if (after != fresh)
      fail(s"stale sketch: ${after.size} pairs after the rewrite, ${fresh.size} on a fresh copy")
  }

  test("two frames under one tag are two entries, and two reads of one path are one input") {
    val path = TableRegistry.path(sfDir, "embeddings")
    def part(lo: Boolean) = {
      val emb = spark.read.parquet(path)
      emb.where(if (lo) col("vec_id") % 10 < 7 else col("vec_id") % 10 >= 7)
    }
    val nLo = SimSearch.corpusSize(part(lo = true))
    val nHi = SimSearch.corpusSize(part(lo = false))
    assert(nLo == part(lo = true).count() && nHi == part(lo = false).count())
    assert(nLo != nHi && nLo + nHi == spark.read.parquet(path).count())
    // a new read of the same file plans equal to the first: a memo hit
    // (the read itself runs a schema job, so it happens outside the count)
    val reread = part(lo = true)
    var again = -1L
    assert(jobsOf { again = SimSearch.corpusSize(reread) } == 0)
    assert(again == nLo)
  }
}
