package graft

import graft.ext.SimSearch
import org.apache.spark.sql.functions._

/** Batch-11 operator semantics: semantic dedup drops a planted exact
  * duplicate (and only it), the scaled-k assignment partitions the corpus,
  * DSIR selection surfaces only candidate-side docs in score order, the
  * bigram NLL is coherent per doc, and the curriculum head interleaves
  * sources at matched difficulty. */
class Queries11Spec extends SparkSpec {

  test("semantic dedup drops a planted duplicate, keeps first by id") {
    import spark.implicits._
    // 23 mutually-orthogonal one-hot vectors (pairwise cos = 0), plus vec
    // 23 = an exact copy of vec 10: identical vectors share a nearest
    // centroid by construction, cos = 1 ≥ 0.9, higher id dropped — and no
    // other pair can cross any threshold.
    val base = (0 until 23).map { i =>
      (i.toLong, Array.tabulate(23)(j => if (j == i) 1.0f else 0.0f))
    }
    val planted = base :+ ((23L, base(10)._2))
    val emb = planted.toDF("vec_id", "embedding")
    val out = SimSearch.semanticDedup(emb, k = 4, threshold = 0.9).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == 24L)
    assert(out.map(_.getAs[Long]("n_dup")).sum == 1L,
      s"exactly the planted copy must drop: ${out.mkString(", ")}")
    assert(out.forall(r =>
      r.getAs[Long]("n_kept") == r.getAs[Long]("n_vecs") - r.getAs[Long]("n_dup")))
  }

  test("scaled-k cluster assignment partitions the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val stats = SparkEntry.queries("cluster_assign_stats")(spark, sfDir).collect()
    assert(stats.map(_.getAs[Long]("n_vecs")).sum == emb.count(),
      "every nonzero-norm vector lands in exactly one cluster")
    assert(stats.forall(_.getAs[Double]("mean_dist2") >= 0.0))
    assert(stats.map(_.getAs[Int]("cluster")).distinct.length == stats.length)
  }

  test("dsir selection is candidate-only and score-ordered") {
    val rows = SparkEntry.queries("select_dsir")(spark, sfDir).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[String]("source").drop(3).toInt >= 10),
      "reference-side docs must never be selected")
    val scores = rows.map(_.getAs[Long]("score_milli"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"head must be score-descending: ${scores.mkString(",")}")
  }

  test("bigram NLL is nonnegative and counts bigrams per doc") {
    val rows = SparkEntry.queries("doc_ppl_bigram")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("nll_milli") >= 0L),
      "smoothed bigram probabilities are < 1, so every NLL is positive")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).as("want"))
      .where(col("want") >= 1)
    val got = SparkEntry.queries("doc_ppl_bigram")(spark, sfDir)
      .select("doc_id", "n_bigrams")
    assert(got.join(docs, "doc_id").where(col("n_bigrams") =!= col("want"))
      .count() == 0, "n_bigrams must equal token count - 1")
  }

  test("hard negatives never share the anchor's label and rank by cos") {
    val rows = SparkEntry.queries("mine_hard_negatives")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("neg_label") != r.getAs[Int]("q_label")),
      "a hard negative with the anchor's own label is a false negative")
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"per-anchor ranks must be cos-descending: ${byRank.mkString(",")}")
    }
  }

  test("systematic sampling picks ~16 per source, proportional to weight") {
    val rows = SparkEntry.queries("sample_weight_systematic")(spark, sfDir).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    assert(bySrc.values.forall(n => n >= 8 && n <= 17),
      s"each source should yield ~16 picks: $bySrc")
    // selection is exactly the step-boundary crossing rule
    rows.foreach { r =>
      val (w, cum, step) = (r.getAs[Long]("n_chars"), r.getAs[Long]("cum_w"),
        r.getAs[Long]("step"))
      assert(cum / step > (cum - w) / step, s"non-crossing row selected: $r")
    }
  }

  test("k-anonymity report partitions docs and bounds the risk share") {
    val rows = SparkEntry.queries("privacy_k_anon_report")(spark, sfDir).collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs_at_risk") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_small_groups") <= r.getAs[Long]("n_groups"))
      val share = r.getAs[Double]("risk_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("PQ reconstructs codebook seeds exactly: ADC score = true cosine") {
    import spark.implicits._
    // 12 deterministic 64-dim vectors; vecs 0-3 are the seeds, so each
    // seed's subvectors quantize to THEMSELVES (distance 0) and its ADC
    // score must equal its true cosine to the query up to the 1e-6
    // table-micro rounding (≤ 8 half-micros per sum).
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(64)(d => (math.sin(i * 64 + d) + 0.1).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val out = SimSearch.pqTopK(spark, emb, queryVecId = 0, k = 12)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pq_cos")).toMap
    def fdot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    val dv = vecs.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    val q = dv(0L)
    (1L to 3L).foreach { i =>
      val trueCos = fdot(q, dv(i)) / (math.sqrt(fdot(dv(i), dv(i))) * math.sqrt(fdot(q, q)))
      assert(math.abs(out(i) - trueCos) <= 2e-4,
        s"seed $i ADC ${out(i)} vs true $trueCos")
    }
  }

  test("PQ head recalls part of the exact head and ranks descending") {
    val p = SparkEntry.queries("simsearch_pq")(spark, sfDir).collect()
    val exact = SparkEntry.queries("simsearch_topk")(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(p.length == 10)
    val scores = p.map(_.getAs[Double]("pq_cos"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(p.map(_.getAs[Long]("vec_id")).count(exact) >= 1,
      "a 4-code-per-subspace ADC should still surface some exact neighbors")
  }

  test("entropy is positive, KL nonnegative, totals reconcile") {
    val rows = SparkEntry.queries("source_token_entropy")(spark, sfDir).collect()
    val tokTotal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == tokTotal)
    rows.foreach { r =>
      assert(r.getAs[Double]("entropy_milli") > 0.0)
      // Gibbs: KL ≥ 0 exactly; per-type milli rounding can shift the
      // integer total by at most 0.5 milli-nats per token
      assert(r.getAs[Double]("kl_milli") >= -1.0, r.toString)
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("overlap matrix covers every source pair; jaccard <= containment <= 1") {
    val rows = SparkEntry.queries("source_overlap_matrix")(spark, sfDir).collect()
    val nSrc = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source").distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2,
      s"expected all ${nSrc * (nSrc - 1) / 2} pairs, got ${rows.length}")
    rows.foreach { r =>
      val (j, c) = (r.getAs[Double]("jaccard"), r.getAs[Double]("containment"))
      assert(j <= c + 1e-9 && c <= 1.0 && j >= 0.0, r.toString)
    }
  }

  test("bm25 rewards the rare term: dup-matching docs out-rank join-only docs") {
    val rows = SparkEntry.queries("bm25_topk")(spark, sfDir).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("score_micros"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // idf discipline: a doc matching the rare term 'dup' must beat any doc
    // matching ONLY the commonest term 'join' at comparable tf — spot-check
    // via the head containing at least one multi-term match
    assert(rows.exists(_.getAs[Long]("n_terms") >= 2),
      "the head of a 3-term query should contain multi-term matches")
    assert(rows.forall(r => r.getAs[Long]("n_terms") >= 1 &&
      r.getAs[Long]("n_terms") <= 3))
  }

  test("bm25_topk scans documents once: one token scan feeds dl, tf and the corpus stats") {
    // a fixture copy: a suite that caches `documents` would hand the key
    // its in-memory table instead of the file scan
    val dir = copyFixtures("bm25_scan")
    val ops = operatorsOf(SparkEntry.queries("bm25_topk")(spark, dir).collect()).flatten
    val scans = ops.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten
    assert(scans == Seq("documents.parquet"), scans.mkString(", "))
  }

  test("bm25_topk on degenerate corpora: empty, null texts, a null doc_id carrying query terms, no query term") {
    import spark.implicits._
    def top(docs: Seq[(Option[Long], Option[String])]) = {
      val dir = java.nio.file.Files.createTempDirectory("bm25_degenerate").toString
      docs.toDF("doc_id", "text").write.parquet(graft.catalog.TableRegistry.path(dir, "documents"))
      SparkEntry.queries("bm25_topk")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    assert(top(Nil).isEmpty)
    // a null text has no tokens: it is no document of the corpus
    assert(top(Seq(Some(1L) -> None, Some(2L) -> Some("join a b"), Some(3L) -> None,
      Some(4L) -> Some("dup dup x"))) ==
      Seq((4L, 1L, 952875L, 0.952875), (2L, 1L, 693000L, 0.693)))
    // the two null-id docs are one document: they count in nd, tt and every
    // term's df, but are not ranked (the twin's USING join drops them)
    assert(top(Seq(None -> Some("dup vector join"), Some(1L) -> Some("join x"),
      Some(2L) -> Some("a b"), None -> Some("dup"))) == Seq((1L, 1L, 523544L, 0.523544)))
    assert(top(Seq(Some(1L) -> Some("a b c"), Some(2L) -> Some("x y"), Some(3L) -> Some("the"))).isEmpty)
  }

  test("held-out ppl scores only test docs and exceeds in-corpus ppl") {
    val rows = SparkEntry.queries("heldout_ppl")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val testIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(pmod(hash(col("doc_id")), lit(100)) >= 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => testIds(r.getAs[Long]("doc_id"))),
      "a train-split doc leaked into the held-out eval")
    // generalization gap: the same docs scored by the all-corpus LM
    // (doc_ppl_bigram trains on everything incl. them) must look easier
    val full = SparkEntry.queries("doc_ppl_bigram")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("nll_milli")).toMap
    val (harder, total) = rows.foldLeft((0, 0)) { case ((h, t), r) =>
      val id = r.getAs[Long]("doc_id")
      (h + (if (r.getAs[Long]("nll_milli") >= full(id)) 1 else 0), t + 1)
    }
    assert(harder * 2 > total,
      s"held-out NLL should usually exceed the leaky in-corpus NLL ($harder/$total)")
  }

  test("drift timeline partitions the stream by day, psi near zero for iid days") {
    val rows = SparkEntry.queries("drift_timeline")(spark, sfDir).collect()
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == nEvents)
    val days = rows.map(_.getAs[Long]("day"))
    assert(days.sorted.sameElements(days) && days.distinct.length == days.length)
    // the generator draws each day from one distribution, so PSI reads
    // sampling noise only — but at this tiny SF a day holds just a
    // handful of events and smoothing noise can brush the 0.25 alert
    // line, so bound loosely; ≥ 0 up to rounding (it is an f-divergence)
    rows.foreach { r =>
      val psi = r.getAs[Double]("psi")
      assert(psi >= -1e-6 && psi < 1.0, s"day ${r.getAs[Long]("day")}: psi $psi")
    }
    // and across the month the TYPICAL day must read no-drift
    val median = rows.map(_.getAs[Double]("psi")).sorted.apply(rows.length / 2)
    assert(median < 0.25, s"median daily psi $median should read no-drift")
  }

  test("scd2 intervals chain gaplessly with exactly one current row per key") {
    val rows = SparkEntry.queries("scd2_intervals")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, rs) =>
      val chain = rs.sortBy(r => (r.getAs[Long]("valid_from"), r.getAs[Long]("event_id")))
      assert(chain.count(_.getAs[Boolean]("is_current")) == 1,
        s"user $uid must have exactly one open version")
      assert(chain.last.getAs[Boolean]("is_current"))
      chain.zip(chain.tail).foreach { case (a, b) =>
        assert(a.getAs[Long]("valid_to") == b.getAs[Long]("valid_from"),
          s"user $uid: interval chain must be gapless")
      }
    }
  }

  test("curriculum head interleaves sources at matched rank") {
    val rows = SparkEntry.queries("curriculum_order")(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("position")).toSeq == (1L to rows.length).toSeq)
    // schedule is (rn, source)-ordered: ranks never decrease, and within a
    // rank the sources are in order
    val keys = rows.map(r => (r.getAs[Long]("rn"), r.getAs[String]("source")))
    assert(keys.zip(keys.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2) },
      s"head must be (rn, source)-ordered: ${keys.take(10).mkString(",")}")
    // within each source the schedule is easy-to-hard
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("n_chars"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }
}
