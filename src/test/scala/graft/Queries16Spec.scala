package graft

import graft.ext.Multimodal
import graft.ext.Multimodal.MediaRecord

/** Batch-16 semantics: the perceptual-dedup manifest drops an exact byte
  * copy and a one-pixel tweak of an earlier image, keeps a structurally
  * different image, and omits payloads no image reader claims. */
class Queries16Spec extends SparkSpec {

  /** Render a w×h PNG whose band-0 value at (x, y) is f(x, y) — the
    * PngFixtures band scheme (G = R+85, B = R+170 mod 256) so decode sees
    * three distinct bands like the fixture corpus. */
  private def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = f(x, y) % 256
      img.setRGB(x, y, (r << 16) | (((r + 85) % 256) << 8) | ((r + 170) % 256))
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash manifest: exact copy and 1-pixel tweak drop, distinct image keeps, corrupt payload omitted") {
    import spark.implicits._
    // 9×8 source = the dHash thumb grid exactly, so resize is the identity
    // and the planted pixel edit maps to known bits. Gradient +7 per x step
    // never wraps (max sample 31 + 13·7 + 7·8 = 178), so every strict
    // compare is true: hash = all-ones, bands = FFFF each.
    val grad = png(9, 8)((x, y) => 31 + 7 * x + 13 * y)
    // one-pixel edit at (3, 3): −3 keeps both neighbors' strict compares
    // TRUE on one side and flips the other — Hamming ≤ 2 of 64, at least
    // three bands untouched → candidate via band share, verified dup.
    val tweak = png(9, 8)((x, y) =>
      if (x == 3 && y == 3) 31 + 7 * 3 + 13 * 3 - 10 else 31 + 7 * x + 13 * y)
    val flat = png(9, 8)((_, _) => 100) // all compares false: hash 0, no shared band
    val media = Seq(
      MediaRecord(1L, "file/png", grad),
      MediaRecord(2L, "file/png", grad.clone()), // exact byte copy, later id
      MediaRecord(3L, "file/png", tweak),
      MediaRecord(4L, "file/png", flat),
      MediaRecord(5L, "file/bin", "not a png at all".getBytes("UTF-8"))).toDS()
    val out = Multimodal.dHashKeepManifest(media, maxHamming = 10).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L)) // doc 5 omitted
    val kept = out.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(kept == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 1), kept.toString)
    val hex = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hex(1L) == "FFFFFFFFFFFFFFFF", hex(1L))
    assert(hex(2L) == hex(1L))
    assert(hex(4L) == "0000000000000000", hex(4L))
    // the tweak is a NEAR dup, not an exact one: some but few bits moved
    val dist = hex(3L).grouped(4).zip(hex(1L).grouped(4)).map { case (a, b) =>
      Integer.bitCount(Integer.parseInt(a, 16) ^ Integer.parseInt(b, 16))
    }.sum
    assert(dist > 0 && dist <= 10, s"tweak hamming $dist")
  }

  test("incremental minhash: new-batch copy of a KEPT base doc drops, copy of a DROPPED base doc drops via the keeper, novel doc survives") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a + " lambda" // near-dup of a (J = 10/11 ≈ 0.909 ≥ 0.7) → base-dropped
    val novel = "one two three four five six seven eight nine ten"
    val base = Seq((10L, a), (20L, b), (30L, novel))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (17L, a),     // copy of KEPT base 10 → drops
      (27L, b),     // copy of base-DROPPED 20 → still drops (J vs 10 ≥ 0.7)
      (37L, "red orange yellow green blue indigo violet pink brown black"))
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.minhashIncrementalKeepers(fresh, base)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(17L -> 0, 27L -> 0, 37L -> 1), out.toString)
    // the base manifest is untouched by construction (the function never
    // writes base rows); re-screening the SAME new batch is idempotent
    val again = graft.ext.Dedup.minhashIncrementalKeepers(fresh, base)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == out)
  }

  test("knn_classify: majority vote picks the 3-2 winner, a 2-2 tie breaks to the smallest label") {
    import spark.implicits._
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // probes: vec_id < 64. Probe 0 at 0° (true label 7): nearest five are
    // 5/10/15° (label 2) then 20/25° (label 5) → vote 3-2 → pred 2.
    // Probe 1 at 90° (true label 4): nearest five are 85/95° (labels 1, 9),
    // 80/100° (labels 9, 1), 75° (label 3) → vote {1:2, 9:2, 3:1} → tie →
    // smallest label 1.
    val rows = Seq(
      (0L, unit(0), 7), (1L, unit(90), 4),
      (64L, unit(5), 2), (65L, unit(10), 2), (66L, unit(15), 2),
      (67L, unit(20), 5), (68L, unit(25), 5),
      (69L, unit(85), 1), (70L, unit(95), 9), (71L, unit(80), 9),
      (72L, unit(100), 1), (73L, unit(75), 3))
    val dir = java.nio.file.Files.createTempDirectory("graft_q16_knn").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("knn_classify")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(out == Seq((4, 1, 1L), (7, 2, 1L)), out.toString)
  }

  test("bloom partition index: a constructed false positive reads maybe=1/actual=0, presence never reads maybe=0") {
    import spark.implicits._
    val P = 1000000007L
    val m = 16384L
    def bits(key: Long): Set[Long] = (1 to 3).map(i =>
      ((((i * 2654435761L) % P) * key + (i * 40503L + 17L) % P) % P) % m).toSet
    val keys1 = (1L to 400L).toSeq
    val union1 = keys1.flatMap(bits).toSet
    val smallU = bits(11L) ++ bits(12L)
    // search a key ABSENT from every month whose bits are covered by
    // month-1's union (a genuine Bloom false positive) but NOT by month-3's
    val fp = (100000L to 300000L).find(x =>
      bits(x).subsetOf(union1) && !bits(x).subsetOf(smallU)).get
    def mk(mo: String, ks: Seq[Long]) =
      ks.map(k => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), k))
    val orders = (mk("1995-01", keys1) ++ mk("1995-02", Seq(fp, 9L)) ++
      mk("1995-03", Seq(11L, 12L))).toDF("o_orderdate", "o_custkey")
    val out = graft.ext.Layout.bloomPartitionIndex(orders, m, 3, fp).collect()
      .map(r => r.getString(0) -> ((r.getInt(5), r.getInt(6)))).toMap
    assert(out("1995-01") == ((1, 0)), s"false positive: ${out("1995-01")}")
    assert(out("1995-02") == ((1, 1)), s"true positive: ${out("1995-02")}")
    assert(out("1995-03") == ((0, 0)), s"true negative: ${out("1995-03")}")
  }

  test("decontamination: full clone of an eval doc flags, half overlap reads 0.5 and flags, disjoint doc reads 0") {
    import spark.implicits._
    val docs = Seq(
      (3L, "a b c d e"),   // eval split (doc_id % 10 == 3)
      (1L, "a b c d e"),   // full clone: 3/3 eval shingles → 1.0, flagged
      (2L, "a b c q r s"), // shingles {abc,bcq,cqr,qrs}: 1/4 → 0.25
      (4L, "a b c b c d"), // {abc,bcb,cbc,bcd}: 2/4 → exactly 0.5, flagged
      (5L, "x y z w")      // disjoint → 0.0
    ).toDF("doc_id", "text")
    val out = surface.DedupKeys.decontaminateEval(docs, evalMod = 3L, flagAt = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0, 1)), out(1L).toString)
    assert(out(2L) == ((4L, 1L, 0.25, 0)), out(2L).toString)
    assert(out(4L) == ((4L, 2L, 0.5, 1)), out(4L).toString)
    assert(out(5L) == ((2L, 0L, 0.0, 0)), out(5L).toString)
    assert(!out.contains(3L)) // eval docs are not scored
  }

  test("zonemap: envelope below the band prunes, interior gap is a false positive, straddling row is a true positive") {
    import spark.implicits._
    def mk(mo: String, vs: Seq[Double]) =
      vs.map(v => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), v))
    // band [249000, 249250]: month 1 all below → (0,0); month 2 envelope
    // covers the band but no row inside → (1,0); month 3 row inside → (1,1)
    val orders = (mk("1995-01", Seq(100.0, 248999.9)) ++
      mk("1995-02", Seq(1000.0, 500000.0)) ++
      mk("1995-03", Seq(249100.0, 300000.0)))
      .toDF("o_orderdate", "o_totalprice")
    val out = graft.ext.Layout.zonemapPartitionIndex(orders, "o_totalprice",
      249000.0, 249250.0).collect()
      .map(r => r.getString(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out == Map("1995-01" -> ((0, 0)), "1995-02" -> ((1, 0)),
      "1995-03" -> ((1, 1))), out.toString)
  }

  test("range bounds: uniform keys split evenly; a hot key lands whole in its start bucket and absorbs the skew") {
    import spark.implicits._
    def rows(k: Long, n: Int) = Seq.fill(n)(Tuple1(k))
    // keys 1..8 × 1 row, B=4 → two keys per bucket; groupWidth=2 forces
    // the two-level cumsum across 4 groups (decomposition exercised)
    val uni = (1L to 8L).flatMap(rows(_, 1)).toDF("o_custkey")
    val u = graft.ext.Layout.rangePartitionBounds(uni, "o_custkey", 4, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(u.toSeq == Seq((0L, 1L, 2L, 2L, 2L), (1L, 3L, 4L, 2L, 2L),
      (2L, 5L, 6L, 2L, 2L), (3L, 7L, 8L, 2L, 2L)), u.mkString(","))
    // key 5 carries 9 of 16 rows (offset 4 of 16, B=4 → bucket 1): it
    // lands WHOLE in bucket 1; buckets 2 of the uniform layout vanish and
    // the tail keys 6..8 start at offset 16·¾ → bucket 3
    val skew = ((1L to 4L) ++ (6L to 8L)).flatMap(rows(_, 1)) ++ rows(5L, 9)
    val sk = graft.ext.Layout.rangePartitionBounds(skew.toDF("o_custkey"), "o_custkey", 4, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(sk.toSeq == Seq((0L, 1L, 4L, 4L), (1L, 5L, 5L, 9L), (3L, 6L, 8L, 3L)),
      sk.mkString(","))
  }

  test("zorder: same-month rows split into key-distinct Morton blocks; the linear layout lumps them with a full-width envelope") {
    import spark.implicits._
    // maxKey = 255 so cx = k exactly; all rows in 1992-01 so dx = 0.
    // Interleave puts cx bits at odd positions: z(1)=2, z(128)=1<<15,
    // z(255)=0b1010…10 = 43690 → zorder blocks 0, 8, 10; linear block 0.
    val orders = Seq(1L, 128L, 255L)
      .map(k => (java.sql.Timestamp.valueOf("1992-01-01 00:00:00"), k))
      .toDF("o_orderdate", "o_custkey")
    val out = graft.ext.Layout.zorderLayoutStats(orders, 1992, 84, 16).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7)))).toMap
    assert(out(("zorder", 0L)) == ((1L, 1L, 1L, 1L)))
    assert(out(("zorder", 8L)) == ((1L, 128L, 128L, 1L)))
    assert(out(("zorder", 10L)) == ((1L, 255L, 255L, 1L)))
    // linear: one block, cx envelope spans the whole key range → area 255
    assert(out(("linear", 0L)) == ((3L, 1L, 255L, 255L)), out.toString)
    assert(out.size == 4)
  }

  test("bloom FPR: a planted covered key is a present-class false positive; every count reconciles with an exact set replay") {
    import spark.implicits._
    val P = 1000000007L
    val m = 16384L
    def bits(key: Long): Set[Long] = (1 to 3).map(i =>
      ((((i * 2654435761L) % P) * key + (i * 40503L + 17L) % P) % P) % m).toSet
    val m1Keys = (1L to 99L).toSeq
    val union1 = m1Keys.flatMap(bits).toSet
    // x: a corpus key living ONLY in month 2 whose bits month 1's Bloom
    // covers — probing month 1 with x is admitted but not actual
    val x = (100000L to 400000L).find(k => bits(k).subsetOf(union1)).get
    def mk(mo: String, ks: Seq[Long]) =
      ks.map(k => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), k))
    val orders = (mk("1995-01", m1Keys) ++ mk("1995-02", Seq(x)))
      .toDF("o_orderdate", "o_custkey")
    val out = graft.ext.Layout.bloomIndexFpr(orders, m, 3, nProbes = 100).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // exact replay over the 100 present (all corpus keys) + 100 absent
    // probes × 2 months
    val union2 = bits(x)
    val monthSets = Seq(("1995-01", m1Keys.toSet, union1),
      ("1995-02", Set(x), union2))
    def replay(probe: Seq[Long]) = {
      val trip = for ((k, (_, ks, u)) <- probe.flatMap(k => monthSets.map(k -> _)))
        yield (if (bits(k).subsetOf(u)) 1L else 0L, if (ks(k)) 1L else 0L)
      (trip.size.toLong, trip.map(_._1).sum, trip.map(_._2).sum,
        trip.count(t => t._1 == 1L && t._2 == 0L).toLong)
    }
    assert(out("present") == replay(m1Keys :+ x), out("present").toString)
    assert(out("absent") == replay((1L to 100L).map(x + _)), out("absent").toString)
    // the planted cross-month false positive is really in the count
    assert(out("present")._4 >= 1L, out("present").toString)
    assert(out("present")._3 == 100L) // each corpus key actual in its month
  }

  test("balance report: post-cutoff mass on one key overloads its frozen bucket and fires the rebalance flag") {
    import spark.implicits._
    def mk(mo: String, ks: Seq[Long]) =
      ks.map(k => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), k))
    // base epoch: keys 1..8 × 1 row → B=4 bounds at lo = 1, 3, 5, 7;
    // after the cutoff 16 more rows land on key 8 → bucket 3 holds 18 of
    // 24 rows (load_ratio 3.0, flagged) while the others sit at 0.33
    val orders = (mk("1997-06", 1L to 8L) ++
      mk("1999-01", Seq.fill(16)(8L))).toDF("o_orderdate", "o_custkey")
    val out = graft.ext.Layout.partitionBalanceReport(orders, "1998-01-01",
      "o_custkey", 4, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4),
        r.getInt(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 2L, 0.333333, 0), (1L, 2L, 2L, 0.333333, 0),
      (2L, 2L, 2L, 0.333333, 0), (3L, 2L, 18L, 3.0, 1)), out.mkString(","))
  }

  test("balance report scans orders once and joins no per-key frame against the bounds") {
    // a fixture copy: a suite that caches `orders` would hand the key its
    // in-memory table instead of the file scan
    val dir = copyFixtures("balance_scan")
    val ops = operatorsOf(SparkEntry.queries("partition_balance_report")(spark, dir).collect()).flatten
    val scans = ops.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten
    assert(scans == Seq("orders.parquet"), scans.mkString(", "))
    val loops = ops.collect { case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }
    assert(loops.isEmpty, loops.map(_.simpleString(200)).mkString("; "))
  }

  test("balance report on degenerate orders: empty, nothing before the cutoff, null keys") {
    import spark.implicits._
    def mk(mo: String, ks: Option[Long]*) =
      ks.map(k => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), k))
    def report(orders: Seq[(java.sql.Timestamp, Option[Long])]) =
      graft.ext.Layout.partitionBalanceReport(orders.toDF("o_orderdate", "o_custkey"),
        "1998-01-01", "o_custkey", 4, 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getInt(5)))
        .toSeq
    assert(report(Nil).isEmpty)
    // no bounds: every key falls to bucket 0
    assert(report(mk("1999-03", Some(3L), Some(3L), Some(5L), Some(9L))) ==
      Seq((0L, 3L, 4L, 1.0, 4.0, 1)))
    // base bounds 1, 4, 7 (the null key's rows shift the offsets but take
    // no bucket); the null key then falls to bucket 0, alone
    assert(report(mk("1997-06", None, None, Some(1L), Some(2L), Some(2L), Some(4L), Some(7L)) ++
      mk("1999-01", None, Some(7L), Some(7L), Some(8L))) == Seq(
      (0L, 1L, 3L, 0.272727, 1.090909, 0), (1L, 2L, 3L, 0.272727, 1.090909, 0),
      (2L, 1L, 1L, 0.090909, 0.363636, 0), (3L, 2L, 4L, 0.363636, 1.454545, 0)))
  }

  test("range bounds over null keys and a hot key keep their rows with the total taken from the group window") {
    import spark.implicits._
    def bounds(ks: Option[Long]*) =
      graft.ext.Layout.rangePartitionBounds(ks.toDF("o_custkey"), "o_custkey", 4, 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(bounds(None +: Seq(1L, 2L, 2L, 2L, 2L, 2L, 2L, 3L, 6L, 7L, 9L, 10L, 10L, 13L).map(Some(_)): _*) ==
      Seq((0L, 1L, 2L, 2L, 7L), (2L, 3L, 9L, 4L, 4L), (3L, 10L, 13L, 2L, 3L)))
    assert(bounds(None, None, Some(1L), Some(2L), Some(2L), Some(4L), Some(7L), None, Some(7L),
      Some(7L), Some(8L)) == Seq((1L, 1L, 2L, 2L, 3L), (2L, 4L, 7L, 2L, 4L), (3L, 8L, 8L, 1L, 1L)))
  }

  test("pruning sim: date predicate prunes earlier months, price predicate prunes low-max months, non-orders query reads unsupported") {
    import spark.implicits._
    val qlog = Seq(
      "SELECT * FROM orders WHERE o_orderdate >= DATE '1995-03-01'",
      "SELECT * FROM orders WHERE o_orderdate >= DATE '1995-03-01'",
      "SELECT a FROM orders JOIN x ON 1=1 WHERE o_totalprice > 500.0",
      "SELECT c FROM customer").toDF("query")
    def mk(mo: String, vs: Seq[Double]) =
      vs.map(v => (java.sql.Timestamp.valueOf(s"$mo-01 00:00:00"), v))
    // months: 01 (max 100), 02 (max 900), 03 (max 400)
    val orders = (mk("1995-01", Seq(100.0)) ++ mk("1995-02", Seq(900.0, 10.0)) ++
      mk("1995-03", Seq(400.0))).toDF("o_orderdate", "o_totalprice")
    val out = graft.ext.Layout.workloadPruningSim(qlog, orders).collect()
      .map(r => r.getString(0).take(14) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    // date query (2 runs): months 01, 02 < "1995-03" pruned → 2 of 3
    assert(out("SELECT * FROM ") == ((2L, 1, 3L, 2L)), out.toString)
    // price query: months with max <= 500 pruned → 01 and 03
    assert(out("SELECT a FROM ") == ((1L, 1, 3L, 2L)), out.toString)
    // non-orders query: supported 0, nothing pruned
    assert(out("SELECT c FROM ") == ((1L, 0, 3L, 0L)), out.toString)
  }

  test("salt plan: the hot key's factor is the ceil of its bucket-relative weight; ties order by key") {
    import spark.implicits._
    // 64 rows: user 9 has 32 (share 0.5, B=8 → factor 4), users 1..4 have
    // 7 each (ceil(7·8/64) = 1), user 5 has 4
    val ev = (Seq.fill(32)(9L) ++ (1L to 4L).flatMap(u => Seq.fill(7)(u)) ++
      Seq.fill(4)(5L)).toDF("user_id")
    val out = graft.ext.Layout.saltPlanTopK(ev, nBuckets = 8, topN = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq((9L, 32L, 0.5, 4L), (1L, 7L, 0.109375, 1L),
      (2L, 7L, 0.109375, 1L), (3L, 7L, 0.109375, 1L)), out.mkString(","))
  }
}
