package graft

import graft.catalog.TableRegistry
import graft.ext.{Dedup, Multimodal, SimSearch}
import org.apache.spark.sql.functions._

/** X1–X4 extension operators: LSH variants vs their exact twins, bucket
  * properties, multimodal plumbing. */
class ExtSpec extends SparkSpec {

  private lazy val docs = TableRegistry.table(spark, sfDir, "documents")
  private lazy val emb = TableRegistry.table(spark, sfDir, "embeddings")

  test("minhash LSH finds every exact-Jaccard pair above a high threshold") {
    // at threshold 0.7 with 5 bands × 4 rows, P(candidate) = 1-(1-s^4)^5
    // ≈ 0.80 at s=0.7 … ≈ 0.99 at s=0.9; banding may miss borderline pairs
    // but must agree largely with exact. Verify: every LSH pair IS an exact
    // pair (no false positives after verification — guaranteed by re-check)
    // and recall over exact pairs ≥ 0.5.
    val lsh = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactJaccard(docs, shingleW = 3, threshold = 0.5, idCap = Long.MaxValue)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    if (exact.nonEmpty) {
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall over ${exact.size} exact pairs")
    }
  }

  test("simhash signature is deterministic and near-dup join is symmetric-free (a<b)") {
    val sigs1 = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    val sigs2 = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(sigs1.sameElements(sigs2))
    assert(sigs1.forall(_ >= 0L)) // 63-bit: never negative
    val pairs = Dedup.simhashNearDups(docs).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("identical texts collide under minhash and simhash") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val mh = Dedup.minhashNearDups(d, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSeq == Seq((1L, 2L)))
    val sh = Dedup.simhashNearDups(d, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sh.toSeq == Seq((1L, 2L)))
  }

  test("ANN self-join pairs are a subset of exact pairs with decent recall") {
    val ann = SimSearch.annSelfJoin(spark, emb, dim = 64,
      rPlanes = SimSearch.scaledPlanes(emb), nBands = SimSearch.annBands,
      threshold = 0.25)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimSearch.exactSelfJoin(spark, emb, threshold = 0.25)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(exact), s"false positives: ${ann.diff(exact).take(5)}")
    // 8 bands of 8+ hyperplanes: 1-(1-p^r)^8 ⇒ measured 0.115 at the
    // sf0.01 fixture for cos≥0.25 pairs (deterministic — fixed planes)
    if (exact.size >= 10) {
      val recall = ann.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.05, s"recall $recall over ${exact.size} exact pairs")
    }
  }

  test("topK returns k rows, descending, excluding the query vector") {
    val rows = SimSearch.topK(spark, emb, queryVecId = 0, k = 10).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getLong(0) != 0L))
    val cos = rows.map(_.getDouble(1))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  test("IVF top-k recall vs brute force is reasonable and results are a subset") {
    val exact = SimSearch.topK(spark, emb, queryVecId = 0, k = 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimSearch.ivfTopK(spark, emb, queryVecId = 0, k = 10,
      nCentroids = 16, nProbe = 8).collect().map(_.getLong(0)).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall (ivf=$ivf exact=$exact)")
  }

  test("SemDeDup hot-cluster cap: a near-identical mass splits, pair work bounds, dups still drop") {
    // The adversarial input SemDeDup exists for (r13 verdict item 3): a
    // crawl of templated pages = a mass of near-identical embeddings that
    // all collapse into ONE cluster around a single seed — scaledK bounds
    // only the EXPECTED cluster size, so without a cap the within-cluster
    // self-join re-creates O(n²) inside that cluster. Planted corpus:
    // 8 one-hot seeds (vec_ids 0-7 become the k=8 centroids) + 600
    // near-copies of seed 0 — cluster 0 holds 601 vectors, every pair over
    // cos 0.9.
    import spark.implicits._
    val dim = 8
    val seeds = (0 until dim).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f))
    }
    val mass = (0 until 600).map { j =>
      (dim.toLong + j,
        Array.tabulate(dim)(d => if (d == 0) 1.0f else if (d == 1) 1e-4f * j else 0.0f))
    }
    val hotEmb = (seeds ++ mass).toDF("vec_id", "embedding")
    // boundedness: with cap 100, cluster 0 (601 vecs) splits into
    // ⌈601/100⌉ = 7 sub-buckets; every (cluster, sub) group must be
    // near-even (xxhash64 split) — bound 2× the cap covers hash skew
    val assigned = SimSearch.assignClusters(hotEmb, k = 8)
    val groups = SimSearch.boundedPairSides(assigned, maxSide = 100)
      .groupBy("cluster", "sub").count().collect()
    val hot0 = groups.filter(_.getInt(0) == 0)
    assert(hot0.length == 7, s"expected 7 sub-buckets for cluster 0: ${hot0.mkString(",")}")
    assert(hot0.forall(_.getLong(2) <= 200L),
      s"a sub-bucket exceeds 2x the cap: ${hot0.mkString(",")}")
    // semantics: exact all-pairs would drop 600 of the 601; the split form
    // keeps at most one extra survivor per sub-bucket (the documented cap
    // approximation) and never drops MORE than exact
    val out = SimSearch.semanticDedup(hotEmb, k = 8, threshold = 0.9,
      maxSide = 100).collect()
    val c0 = out.find(_.getInt(0) == 0).get
    assert(c0.getLong(1) == 601L, c0.toString)
    val nDup = c0.getLong(2)
    assert(nDup >= 601L - 7L && nDup <= 600L, s"n_dup $nDup outside [594, 600]")
    // under the cap the output is EXACTLY the uncapped form (the oracle
    // contract: no declared fixture has an oversized cluster)
    val exact = SimSearch.semanticDedup(hotEmb, k = 8, threshold = 0.9,
      maxSide = 10000).collect()
    assert(exact.find(_.getInt(0) == 0).get.getLong(2) == 600L)
  }

  test("k-means: Lloyd objective non-increasing, assignment matches iterate key") {
    val emb = graft.catalog.TableRegistry.table(spark, sfDir, "embeddings")
    val (cents, inertias) = graft.ext.SimSearch.kmeansRun(spark, emb, k = 8, iters = 4)
    assert(cents.length == 8)
    assert(inertias.length == 4)
    // Lloyd's algorithm: each E+M step can only lower (or hold) the objective
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"inertia rose: $inertias")
    }
    // strictly improved at least once on this data (seeds are not optimal)
    assert(inertias.last < inertias.head, inertias.toString)
  }

  test("multimodal resize and frame sampling plumbing") {
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val thumbs = TestOps.resizeAll(media, 64, 64).collect()
    assert(thumbs.length == docs.count())
    assert(thumbs.forall(th => th.thumb.length <= 64 && th.thumb.nonEmpty))
    val frames = Multimodal.sampleAllFrames(media, everyN = 4).collect()
    assert(frames.nonEmpty)
    // frame offsets are strictly increasing per doc and frames are ≤ 64 bytes
    frames.groupBy(_.doc_id).foreach { case (_, fs) =>
      val offs = fs.sortBy(_.frame_idx).map(_.offset)
      assert(offs.zip(offs.tail).forall { case (a, b) => a < b })
      assert(fs.forall(_.frame.length <= 64))
    }
  }

  test("intersect language id agrees with the interpreted marker filter on who wins") {
    import spark.implicits._
    // the declared lang_id key scores DISTINCT matched markers (codegen
    // array_intersect); it must still be deterministic + total, and where a
    // text repeats no marker the two scorings coincide exactly
    val scored = graft.ext.TextAnalysis.withLangIdIntersect(docs, "text", "p")
    val preds = scored.select("p").as[String].collect()
    assert(preds.length == docs.count())
    assert(preds.toSet.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("sorted collect array form matches the declared scalar key") {
    // the declared agg_collect_sorted key emits concat_ws(',', sort_array(
    // collect_set(...))) for the driver's pandas compare; the array-typed
    // form must round-trip through that join losslessly
    val li = TableRegistry.table(spark, sfDir, "lineitem")
    val arr = li.groupBy("l_returnflag")
      .agg(sort_array(collect_set(col("l_linestatus"))).as("statuses"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val joined = li.groupBy("l_returnflag")
      .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(arr.keySet == joined.keySet)
    arr.foreach { case (k, v) => assert(joined(k) == v.mkString(",")) }
  }

  test("sequence packing invariants: contiguous offsets per shard, bounded sequence starts") {
    val packed = graft.ext.TextAnalysis.packSequences(docs, "source", 512)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4)))
    // per shard: offsets are the running sum of preceding token counts and
    // every doc's sequence id is its start offset / budget
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._2)
      var expect = 0L
      inOrder.foreach { case (_, _, nTok, offset, seqId) =>
        assert(offset == expect, s"offset $offset != running sum $expect")
        assert(seqId == offset / 512)
        expect += nTok
      }
    }
  }

  test("repetition ratio stays in [0, 1) and is 0 for all-distinct bigrams") {
    import spark.implicits._
    val ratios = docs.select(graft.ext.TextAnalysis.repetitionRatio(col("text")).as("r"))
      .as[Double].collect()
    assert(ratios.forall(r => r >= 0.0 && r < 1.0), ratios.filterNot(r => r >= 0.0 && r < 1.0).take(3).toSeq.toString)
    val d = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(d.select(graft.ext.TextAnalysis.repetitionRatio(col("text"))).collect()(0).getDouble(0) == 0.0)
    val rep = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    // bigrams: "x y","y x","x y","y x","x y" → 2 distinct of 5 → 0.6
    assert(rep.select(graft.ext.TextAnalysis.repetitionRatio(col("text"))).collect()(0).getDouble(0) == 0.6)
  }

  test("transform_bucket values stay in [0, n) and are stable") {
    val li = TableRegistry.table(spark, sfDir, "lineitem")
    val buckets = li.select(pmod(hash(col("l_suppkey")), lit(8)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(buckets.forall(b => b >= 0 && b < 8))
  }

  test("binaryFile ingestion: raw files become MediaRecords with intact payloads") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_media").toString
    val payloads = Map(7L -> "fake-jpeg-bytes-7", 42L -> "fake-wav-bytes-42")
    Files.write(Paths.get(dir, "7.jpg"), payloads(7L).getBytes("UTF-8"))
    Files.write(Paths.get(dir, "42.wav"), payloads(42L).getBytes("UTF-8"))
    Files.write(Paths.get(dir, "notes.txt"), "ignored".getBytes("UTF-8"))
    val media = graft.ext.Multimodal
      .mediaFromBinaryFiles(spark, dir, glob = "*.{jpg,wav}")
      .collect().map(r => r.doc_id -> (r.media_type, new String(r.media, "UTF-8"))).toMap
    assert(media.keySet == Set(7L, 42L), media.keySet.toString)
    assert(media(7L) == ("file/jpg", payloads(7L)))
    assert(media(42L) == ("file/wav", payloads(42L)))
    // and the ingested records run through the real decode plumbing
    val feats = graft.ext.Multimodal.extractFeatures(
      graft.ext.Multimodal.mediaFromBinaryFiles(spark, dir, glob = "*.{jpg,wav}"))
      .collect().map(f => f.doc_id -> f.byte_len).toMap
    assert(feats == Map(7L -> payloads(7L).length.toLong, 42L -> payloads(42L).length.toLong))
  }

  test("compaction collapses file count and preserves the row multiset") {
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString + "/t"
    val src = TableRegistry.table(spark, sfDir, "supplier")
    src.repartition(32).write.mode("overwrite").parquet(frag)
    val fragFiles = spark.read.parquet(frag).inputFiles.length
    // AQE may coalesce the 32-way shuffle at this tiny scale — just require
    // genuine fragmentation
    assert(fragFiles >= 8, s"expected a fragmented layout, got $fragFiles files")
    val out = java.nio.file.Files.createTempDirectory("graft_comp").toString + "/t"
    val compacted = graft.ext.Layout.compact(spark, frag, out, targetBytes = 1L << 20)
    val outFiles = compacted.inputFiles.length
    assert(outFiles < fragFiles / 2, s"$outFiles files after compaction (from $fragFiles)")
    assert(compacted.count() == src.count())
    // byte-derived sizing: a tiny target forces multiple output files
    val out2 = java.nio.file.Files.createTempDirectory("graft_comp2").toString + "/t"
    val many = graft.ext.Layout.compact(spark, frag, out2,
      targetBytes = math.max(1L, graft.ext.Layout.dirBytes(spark, frag) / 4))
    assert(many.inputFiles.length >= 4)
  }

  test("compaction refuses in-place AND nested destinations (containment, not equality)") {
    val base = java.nio.file.Files.createTempDirectory("graft_nest").toString
    val part = s"$base/tbl/date=2024-01-01"
    TableRegistry.table(spark, sfDir, "region").write.mode("overwrite").parquet(part)
    // outDir an ANCESTOR of inDir: overwrite would recursively delete the
    // source partition before the lazy scan runs
    val up = intercept[IllegalArgumentException] {
      graft.ext.Layout.compact(spark, part, s"$base/tbl", targetBytes = 1L << 20)
    }
    assert(up.getMessage.contains("overwrite or mutate"), up.getMessage)
    // outDir NESTED INSIDE inDir: would mutate the input mid-scan
    val down = intercept[IllegalArgumentException] {
      graft.ext.Layout.compact(spark, part, s"$part/compacted", targetBytes = 1L << 20)
    }
    assert(down.getMessage.contains("overwrite or mutate"), down.getMessage)
    // exact in-place still refused
    intercept[IllegalArgumentException] {
      graft.ext.Layout.compact(spark, part, part, targetBytes = 1L << 20)
    }
    // the source survived all three refusals
    assert(spark.read.parquet(part).count() == TableRegistry.table(spark, sfDir, "region").count())
  }

  test("compaction containment compares FULL URIs: same path on disjoint filesystems is legal") {
    import java.net.URI
    import graft.ext.Layout.overlaps
    // same path string, different scheme or authority → genuinely disjoint
    // locations; a path-only compare would spuriously refuse these
    assert(!overlaps(new URI("hdfs://nn1/data"), new URI("s3a://bkt/data")))
    assert(!overlaps(new URI("s3a://bucket-a/data"), new URI("s3a://bucket-b/data")))
    assert(!overlaps(new URI("hdfs://nn1/data/tbl"), new URI("hdfs://nn2/data")))
    // same filesystem: equality and both containment directions still refuse
    assert(overlaps(new URI("hdfs://nn1/data"), new URI("hdfs://nn1/data")))
    assert(overlaps(new URI("hdfs://nn1/data/tbl/p=1"), new URI("hdfs://nn1/data/tbl")))
    assert(overlaps(new URI("file:/w/tbl"), new URI("file:/w/tbl/compacted")))
    // sibling with a shared name PREFIX is not containment
    assert(!overlaps(new URI("file:/w/tbl"), new URI("file:/w/tbl2")))
  }

  test("star contraction converges in O(log n) rounds on a chain where propagation needs O(n)") {
    import spark.implicits._
    val n = 1024
    val nodes = (0L until n.toLong).toDF("doc_id")
    // adversarial worst case for min-label propagation: one long path.
    // n = 1024 + maxIters = 50 is also the driver-heap regression guard: the
    // pre-r7 loop (persist, no lineage truncation) OOM'd the driver around
    // round 16 on exactly this shape, before reading any data
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (starLabels, starRounds, starConverged) =
      Dedup.starContractionLabels(nodes, chain, maxIters = 50)
    assert(starConverged, "star contraction hit maxIters without converging")
    // correct: one component, min id 0 everywhere
    val got = starLabels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._2 == 0L), s"bad labels: ${got.filter(_._2 != 0L).take(5).toSeq}")
    // O(log n): generous 2·log2(n) bound — propagation would need ~n rounds
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt
    assert(starRounds <= bound, s"star contraction took $starRounds rounds (bound $bound)")
    val (_, propRounds) = Dedup.propagationLabels(nodes, chain, maxIters = 20)
    assert(propRounds == 20, s"propagation finished in $propRounds < diameter rounds?!")
  }

  test("reliable-checkpoint truncation: same labels, rounds survive via the checkpoint dir") {
    // cluster posture for the iterative loops: with a reliable checkpoint
    // dir set (HDFS/S3 on a real cluster), each round is written there
    // instead of executor-local storage, so executor loss mid-loop cannot
    // kill the computation. Must be a pure mechanism swap: identical
    // labels, and the dir must actually receive checkpoint data.
    import spark.implicits._
    val sc = spark.sparkContext
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt").toString
    val nodes = (0L until 64L).toDF("doc_id")
    val edges = ((0L until 31L).map(i => (i, i + 1)) ++ Seq((40L, 41L), (41L, 42L)))
      .toDF("a_id", "b_id")
    val baseline = Dedup.clusters(spark, nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    sc.setCheckpointDir(ckptDir)
    try {
      val reliable = Dedup.clusters(spark, nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(reliable == baseline)
      // the mechanism really switched: checkpoint data landed in the dir
      def rddDirs(f: java.io.File): Int =
        Option(f.listFiles()).getOrElse(Array.empty)
          .map(c => (if (c.getName.startsWith("rdd-")) 1 else 0) + rddDirs(c)).sum
      assert(rddDirs(new java.io.File(ckptDir)) > 0,
        s"no rdd-* checkpoint dirs under $ckptDir")
      // explicit override wins over the auto rule
      spark.conf.set("spark.graft.iterative.reliableCheckpoint", "false")
      val before = rddDirs(new java.io.File(ckptDir))
      val local = Dedup.clusters(spark, nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(local == baseline)
      assert(rddDirs(new java.io.File(ckptDir)) == before,
        "reliableCheckpoint=false still wrote to the checkpoint dir")
    } finally {
      // the SparkContext checkpoint dir cannot be unset; pin the conf so
      // later suites in the shared JVM keep the fast local mechanism
      spark.conf.set("spark.graft.iterative.reliableCheckpoint", "false")
    }
  }

  test("star contraction agrees with propagation on a mixed graph (incl. singletons)") {
    import spark.implicits._
    val nodes = (0L until 40L).toDF("doc_id")
    // two components + many singletons: {0..4} star, {10,11,12} chain
    val pairs = Seq((0L, 1L), (0L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("a_id", "b_id")
    val (a, _, _) = Dedup.starContractionLabels(nodes, pairs, maxIters = 50)
    val (b, _) = Dedup.propagationLabels(nodes, pairs, maxIters = 50)
    val am = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bm = b.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(am == bm)
    assert(am(4L) == 0L && am(12L) == 10L && am(33L) == 33L)
  }

  test("Memo is re-entrant: a memoized build may itself hit the memo") {
    import spark.implicits._
    // the old computeIfAbsent form died with "Recursive update" whenever a
    // nested key landed in the outer key's hash bin (intermittent — bins
    // depend on the session's identity hash); 64 nested keys make a bin
    // collision near-certain, so this test is deterministic in practice.
    // A local frame's identity is its rows, so each Seq is its own input.
    val out = Memo.frame("memo-test", Seq(-1).toDF("v")) {
      val inners = (0 until 64).map { i =>
        Memo.frame("memo-test", Seq(i).toDF("v")) {
          Seq(i).toDF("v")
        }
      }
      inners.reduce(_ unionAll _)
    }
    assert(out.count() == 64)
    // and the memo actually memoizes: an equal input gets the same handle back
    val again = Memo.frame("memo-test", Seq(-1).toDF("v")) {
      fail("must not rebuild"); null
    }
    assert(again eq out)

    // across kinds in the one map: a value memo whose build runs a profile
    // build, which reads every fixture table through TableRegistry.table
    val dir = copyFixtures("graft_memo_nested")
    val outer = Memo(spark, s"memo-test-nested:$dir") {
      (0 until 64).map(i => Memo(spark, s"memo-test-nested:$dir:$i")(i)).sum +
        graft.pipeline.AnalysisPipeline.profilesFor(spark, dir, approxCardinality = false).size
    }
    val profiles = graft.pipeline.AnalysisPipeline.profilesFor(spark, dir, approxCardinality = false)
    assert(outer == (0 until 64).sum + profiles.size && profiles.nonEmpty)
    assert(graft.pipeline.AnalysisPipeline.profilesFor(spark, dir, approxCardinality = false) eq profiles)
    assert(TableRegistry.table(spark, dir, "lineitem") eq TableRegistry.table(spark, dir, "lineitem"))
    assert(Memo(spark, s"memo-test-nested:$dir")(fail("must not rebuild"): Int) == outer)
  }

  test("Memo.clear on a child session unpersists its frames and keeps the parent's") {
    import spark.implicits._
    val child = spark.newSession()
    def cached(f: org.apache.spark.sql.DataFrame) = spark.sharedState.cacheManager
      .lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val parentFrame = Memo.frame("memo-clear-scope", Seq(-1).toDF("v")) {
      Seq(-1).toDF("v")
    }
    // distinct data per frame: CacheManager keys cached data by plan; a
    // frame's entry belongs to the session of its input
    val childFrames = (0 until 3).map { i =>
      val in = child.createDataFrame(Seq(Tuple1(i))).toDF("v")
      Memo.frame("memo-clear-scope", in)(in)
    }
    (parentFrame +: childFrames).foreach(_.count())
    childFrames.foreach(f => assert(cached(f)))
    Memo.clear(child)
    childFrames.foreach(f => assert(!cached(f), "child frame still cached"))
    assert(cached(parentFrame), "parent frame was unpersisted")
    assert(Memo.frame("memo-clear-scope", Seq(-1).toDF("v")) {
      fail("parent entry was dropped"); null
    } eq parentFrame)
    parentFrame.unpersist()
  }

  test("ImageCodec decodes PngFixtures renders bit-exactly (dims, bands, sample sum)") {
    for (id <- Seq(0L, 7L, 123L, 499L)) {
      val rec = Multimodal.MediaRecord(id, "file/png", Multimodal.PngFixtures.render(id))
      val f = Multimodal.ImageCodec.decode(rec).get
      val (w, h) = Multimodal.PngFixtures.dims(id)
      assert(f.width == w && f.height == h && f.channels == 3, s"doc $id: $f")
      val expSum = (for { y <- 0 until h; x <- 0 until w } yield {
        val r = Multimodal.PngFixtures.red(id, x, y)
        (r + (r + 85) % 256 + (r + 170) % 256).toLong
      }).sum
      assert(f.checksum == expSum, s"doc $id raster sum")
      // nearest-neighbor resample: band 0 at (x*w/16, y*h/16)
      val th = Multimodal.ImageCodec.resize(rec, 16, 16).get
      assert(th.thumb.length == 256)
      val expThumb = (for { y <- 0 until 16; x <- 0 until 16 }
        yield Multimodal.PngFixtures.red(id, x * w / 16, y * h / 16).toLong).sum
      assert(th.thumb.map(b => (b & 0xFF).toLong).sum == expThumb, s"doc $id resample")
    }
  }

  test("extractFeatures decode-first: real rasters for PNG payloads, stub fallback otherwise") {
    import spark.implicits._
    val mixed = Seq(
      Multimodal.MediaRecord(3L, "file/png", Multimodal.PngFixtures.render(3L)),
      Multimodal.MediaRecord(4L, "image/fake", "not an image at all".getBytes("UTF-8"))).toDS()
    val out = Multimodal.extractFeatures(mixed).collect().sortBy(_.doc_id)
    val (w3, h3) = Multimodal.PngFixtures.dims(3L)
    assert(out(0).width == w3 && out(0).height == h3 && out(0).channels == 3)
    // undecodable payload → the documented deterministic stub
    assert(out(1).width == (out(1).byte_len % 640).toInt && out(1).channels == 3)
  }

  test("multimodal mapPartitions plumbing: features deterministic, media never null") {
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(spark, docs)).collect()
    assert(feats.length == docs.count())
    assert(feats.forall(f => f.byte_len > 0 && f.width == (f.byte_len % 640).toInt))
    val again = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(spark, docs)).collect()
    assert(feats.map(_.checksum).sorted.sameElements(again.map(_.checksum).sorted))
  }

  test("multimodal robustness: corrupt-but-claimed payloads, stray files, empty media, bad everyN") {
    import spark.implicits._
    // a TRUNCATED PNG: valid magic (a reader claims it) but the body is cut —
    // ImageIO.read throws; must degrade to the stub, not abort the stage
    val png = Multimodal.PngFixtures.render(5L)
    val truncated = png.take(40)
    val out = Multimodal.extractFeatures(
        Seq(Multimodal.MediaRecord(5L, "file/png", truncated)).toDS())
      .collect()
    assert(out.length == 1)
    assert(out(0).width == (truncated.length % 640).toInt, "stub fallback expected")

    // stray files without trailing digits must be skipped, not crash the
    // encoder on a NULL doc_id
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_media_stray").toString
    Files.write(Paths.get(dir, "12.bin"), "payload".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(dir, "readme.txt"), "hello".getBytes("UTF-8"))
    val ids = Multimodal.mediaFromBinaryFiles(spark, dir).collect().map(_.doc_id).toSet
    assert(ids == Set(12L), ids.toString)

    // empty payload: resizeStub must not index media(-1)
    val empty = Multimodal.resizeStub(
      Multimodal.MediaRecord(9L, "file/bin", Array.emptyByteArray), 8, 8)
    assert(empty.thumb.isEmpty)

    // everyN <= 0 would be an infinite iterator — refused
    intercept[IllegalArgumentException] {
      Multimodal.sampleFramesStub(
        Multimodal.MediaRecord(9L, "file/bin", "0123456789".getBytes), 0)
    }
  }

  test("TopKRows: NULL ranking fields never displace real rows; NaN orders deterministically") {
    import spark.implicits._
    import graft.functions.TopKRows.topKRows
    // null score must be SKIPPED, not read as 0 (it would outrank -5.0)
    val withNull = Seq((Some(1.0), 1L), (None, 2L), (Some(-5.0), 3L))
      .toDF("score", "id")
    val top = withNull.agg(topKRows(struct(col("score"), col("id")), 2).as("t"))
      .select(explode(col("t")).as("r")).select("r.id")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 3L), s"null row leaked into top-k: $top")
    // NaN: greatest (like Spark's sort) and stable under repartitioning
    val withNaN = Seq((Double.NaN, 7L), (2.0, 8L), (1.0, 9L)).toDF("score", "id")
    def topOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(topKRows(struct(col("score"), col("id")), 2).as("t"))
        .select(explode(col("t")).as("r")).select("r.id")
        .collect().map(_.getLong(0)).toSeq
    assert(topOf(withNaN) == Seq(7L, 8L))
    assert(topOf(withNaN.repartition(5)) == Seq(7L, 8L))
  }

  test("zero-norm embeddings are excluded from similarity, not ranked first as NaN") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = graft.ext.SimSearch.topK(spark, emb, queryVecId = 0, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the zero vector must not appear (its cosine is 0/0 = NaN, which
    // Spark's NaN-greatest desc sort would otherwise rank FIRST)
    assert(!top.map(_._1).contains(2L), top.toSeq.toString)
    assert(top.head._1 == 1L)
    assert(top.forall(t => !t._2.isNaN))
  }

  test("pcaTopComponent: recovers a planted dominant direction; degenerate inputs stay finite") {
    import spark.implicits._
    // planted structure: variance concentrated on axis 2 (values ±10),
    // small deterministic noise on axis 5 — the unit direction must load
    // ~entirely on axis 2 after 3 rounds, whatever its sign
    val planted = (0 until 200).map { i =>
      val v = Array.fill(8)(0.0f)
      v(2) = if (i % 2 == 0) 10.0f else -10.0f
      v(5) = (i % 7).toFloat * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val (v, lam) = graft.ext.SimSearch.pcaTopComponent(spark, planted, iters = 3)
    assert(math.abs(v(2)) > 0.999, v.toSeq.toString)
    assert(math.abs(lam - 100.0) < 1.0, s"eigenvalue $lam, want ~100 (±10 on one axis)")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "unit norm")

    // empty corpus: empty direction, zero eigenvalue, no division by zero
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val (ve, le) = graft.ext.SimSearch.pcaTopComponent(spark, empty)
    assert(ve.isEmpty && le == 0.0)

    // single row / zero scatter: v0 back, eigenvalue 0 (centered data is 0)
    val one = Seq((1L, Seq.fill(4)(3.0f))).toDF("vec_id", "embedding")
    val (v1, l1) = graft.ext.SimSearch.pcaTopComponent(spark, one)
    assert(l1 == 0.0 && v1.length == 4 && math.abs(v1(0) - 0.5) < 1e-12)
    val const = Seq((1L, Seq.fill(4)(3.0f)), (2L, Seq.fill(4)(3.0f)))
      .toDF("vec_id", "embedding")
    val (v2, l2) = graft.ext.SimSearch.pcaTopComponent(spark, const)
    assert(l2 == 0.0 && math.abs(v2(0) - 0.5) < 1e-12, "zero scatter keeps v0, lambda 0")

    // null-space start with REAL variance (the code-review finding):
    // one-hot rows sum to a constant, so every centered row is orthogonal
    // to the uniform v0 — without the deflected restart this returned
    // (v0, 0) for a corpus whose true top component is (1,-1)/sqrt(2)
    val simplex = (0 until 100).map(i =>
      (i.toLong, if (i % 2 == 0) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val (vs, ls) = graft.ext.SimSearch.pcaTopComponent(spark, simplex, iters = 3)
    assert(ls > 0.0, s"restart must recover the planted variance, got lambda $ls")
    assert(math.abs(math.abs(vs(0)) - math.sqrt(0.5)) < 1e-9, vs.toSeq.toString)
    assert(math.abs(vs(0) + vs(1)) < 1e-9, s"components must oppose: ${vs.toSeq}")
    // true covariance eigenvalue of the ±0.5 two-point corpus: n/(2(n-1))
    assert(math.abs(ls - 100.0 / 198.0) < 1e-9, s"lambda $ls")
  }
}
