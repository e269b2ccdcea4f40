package graft

import graft.ext.{Dedup, QualityModel}
import org.apache.spark.sql.functions._

/** Batch-10 operator semantics: the learned quality filter converges on
  * planted separable data, containment scores near-supersets that Jaccard
  * under-reads, fertility surfaces multibyte scripts, and mixture epoch
  * allocations conserve the token budget. */
class Queries10Spec extends SparkSpec {

  test("logreg trainer separates a planted linearly-separable corpus") {
    import spark.implicits._
    // y = 1 iff x1 = 1; other features flat — only w1 (and bias) can carry
    // signal. 3 steps at η=2 from w=0 must put every rounded margin on the
    // correct side.
    val feat = (0 until 64).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      (i.toLong, y, 1.0, y, 0.5, 0.5)
    }.toDF("doc_id", "y", "x0", "x1", "x2", "x3")
    val w = QualityModel.train(feat, steps = 3, eta = 2.0)
    assert(w(1) > 0.1, s"separating weight did not grow: ${w.toSeq}")
    val correct = feat.select(
      when((round(QualityModel.margin(w), 6) > 0) === (col("y") === 1.0), 1L)
        .otherwise(0L).as("ok"))
      .agg(sum("ok")).head().getLong(0)
    assert(correct == 64L, s"only $correct/64 classified correctly, w=${w.toSeq}")
  }

  test("logreg gradient step matches the closed-form first step") {
    import spark.implicits._
    // From w=0, σ(z)=0.5 exactly, so step 1 is w_j = 2·avg((y−0.5)·x_j):
    // with y ∈ {0,1} balanced and x1 = y, that is w1 = 2·avg(y²−0.5·y)
    // = 2·(0.5−0.25) = 0.5 and w0 = 2·avg(y−0.5) = 0.
    val feat = (0 until 10).map { i =>
      val y = if (i < 5) 1.0 else 0.0
      (i.toLong, y, 1.0, y, 0.0, 0.0)
    }.toDF("doc_id", "y", "x0", "x1", "x2", "x3")
    val w = QualityModel.train(feat, steps = 1, eta = 2.0)
    assert(math.abs(w(0)) < 1e-12 && math.abs(w(1) - 0.5) < 1e-12,
      s"first step drifted from closed form: ${w.toSeq}")
  }

  test("containment reads a truncation at 1.0 where jaccard reads the overlap") {
    import spark.implicits._
    val full = (1 to 40).map(i => s"tok$i").mkString(" ")
    val half = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, full), (1L, half), (2L, other)).toDF("doc_id", "text")
    val c = Dedup.exactContainment(docs, shingleW = 3,
      threshold = 0.5, idCap = 500).collect()
    assert(c.length == 1 && c(0).getLong(0) == 0L && c(0).getLong(1) == 1L,
      s"expected exactly the (0,1) truncation pair: ${c.toSeq}")
    assert(c(0).getDouble(2) == 1.0, s"truncation containment != 1.0: ${c(0)}")
    val j = Dedup.exactJaccard(docs, shingleW = 3,
      threshold = 0.0, idCap = 500).collect()
      .find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get.getDouble(2)
    assert(j < 0.5, s"fixture broken: jaccard $j should under-read the truncation")
  }

  test("mixture epoch allocations conserve the token budget") {
    val df = SparkEntry.queries("mixture_epochs")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val totalTok = rows.map(_.getAs[Long]("n_tokens")).sum
    val allocSum = rows.map(_.getAs[Long]("alloc_tokens")).sum
    val budget = 2L * totalTok
    // per-source half-up rounding drifts the sum by at most one token per
    // source from the exact budget
    assert(math.abs(allocSum - budget) <= rows.length.toLong,
      s"allocation $allocSum drifted from budget $budget beyond rounding")
    rows.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      val expect = r.getAs[Long]("alloc_tokens").toDouble / r.getAs[Long]("n_tokens")
      assert(math.abs(epochs - expect) <= 0.0005 + 1e-9,
        s"epochs $epochs vs alloc/n $expect for ${r.getAs[String]("source")}")
    }
  }

  test("curation funnel stages chain and never create documents") {
    val rows = SparkEntry.queries("curation_attrition")(spark, sfDir)
      .collect().sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("1_lang", "2_quality", "3_exact_dup"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_out") <= r.getAs[Long]("n_in"), s"stage grew: $r")
      assert(r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_out"), s"drop mismatch: $r")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_out"),
        s"funnel gap between ${a.getAs[String]("stage")} and ${b.getAs[String]("stage")}")
    }
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.head.getAs[Long]("n_in") == total)
  }

  test("confusion matrix cells partition the corpus; shares sum to 1 per lang") {
    val rows = SparkEntry.queries("lang_id_confusion")(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, cells) =>
      val s = cells.map(_.getAs[Double]("share_of_lang")).sum
      assert(math.abs(s - 1.0) <= 5e-6 * cells.length,
        s"$lang shares sum to $s over ${cells.length} cells")
    }
  }

  test("calibration buckets are coherent with their bounds") {
    val rows = SparkEntry.queries("quality_calibration")(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      val mp = r.getAs[Double]("mean_pred")
      val pr = r.getAs[Double]("pos_rate")
      assert(b >= 0 && b <= 4, s"bucket out of range: $r")
      // bucket 4 also holds p = 1.0; others span [b/5, (b+1)/5)
      assert(mp >= b / 5.0 - 1e-6 && mp <= (b + 1) / 5.0 + 1e-6,
        s"mean_pred outside bucket: $r")
      assert(pr >= 0.0 && pr <= 1.0, s"pos_rate out of range: $r")
    }
  }

  test("corpus diff counts reconcile with the snapshot derivations") {
    val rows = SparkEntry.queries("corpus_diff")(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = docs.count()
    val nA = docs.where("doc_id % 10 != 3").count()
    val nB = docs.where("doc_id % 10 != 7").count()
    val added = rows.map(_.getAs[Long]("n_added")).sum
    val removed = rows.map(_.getAs[Long]("n_removed")).sum
    val changed = rows.map(_.getAs[Long]("n_changed")).sum
    val unchanged = rows.map(_.getAs[Long]("n_unchanged")).sum
    assert(removed + changed + unchanged == nA, "A-side rows must partition")
    assert(added + changed + unchanged == nB, "B-side rows must partition")
    // every surviving id%5=0 doc is a revision; no other doc changes
    val wantChanged = docs.where(
      "doc_id % 5 = 0 AND doc_id % 10 != 3 AND doc_id % 10 != 7").count()
    assert(changed == wantChanged, s"changed $changed vs derived $wantChanged")
    assert(added + removed + changed + unchanged >= total / 2)
  }

  test("zipf fit reads a negative power-law slope on the token head") {
    val r = SparkEntry.queries("zipf_fit")(spark, sfDir).head()
    assert(r.getAs[Int]("n_tokens") > 5)
    assert(r.getAs[Double]("slope") < 0.0,
      s"rank-frequency slope must be negative: $r")
  }

  test("fertility flags multibyte scripts via bytes_per_char") {
    import spark.implicits._
    // the fixture corpus is ASCII-only, so plant a CJK doc: 的/是/了 are
    // 3 UTF-8 bytes per char → bytes_per_char = (9+2)/5 = 2.2 with the
    // two separating spaces counted in both totals
    val docs = Seq(
      (0L, "the quick fox", "en", 13L),
      (1L, "的 是 了", "zh", 5L)).toDF("doc_id", "text", "lang", "n_chars")
    val byLang = surface.TextKeys.tokenizerFertility(docs).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(byLang("en").getAs[Double]("bytes_per_char") == 1.0,
      s"ascii should be 1 byte/char: ${byLang("en")}")
    assert(byLang("zh").getAs[Double]("bytes_per_char") == 2.2,
      s"planted CJK doc should be 11 bytes / 5 chars: ${byLang("zh")}")
    assert(byLang("en").getAs[Double]("chars_per_token") > 1.0)
    // and the fixture surface itself stays all-ASCII
    val fix = SparkEntry.queries("tokenizer_fertility")(spark, sfDir).collect()
    assert(fix.nonEmpty &&
      fix.forall(_.getAs[Double]("bytes_per_char") == 1.0))
  }
}
