package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** File-layout maintenance — the operational counterpart of the advisor's
  * partitioning recommendations (reference README.md's "better partition
  * strategies" goal): once a layout is chosen, real tables degrade into
  * many small files (streaming appends, per-task outputs), and scan cost
  * becomes dominated by file-open overhead rather than bytes. Compaction
  * rewrites a directory into ~targetBytes files.
  *
  * Scale posture: the rewrite is one `repartition(n)` round-robin shuffle —
  * no driver-side data, file sizing derived from the source's actual bytes
  * (metadata: one `FileStatus` per input file). Partitioned layouts compact
  * per partition directory so the advisor's pruning keys survive the
  * rewrite.
  *
  * Also the partition data-skipping tier the LayoutKeys surface declares:
  * Bloom and zone-map partition indexes, adaptive range bounds, salt
  * plans, z-order layout stats, index FPR, balance/staleness and
  * workload-pruning reports ([[graft.streaming.StreamingIndex]] maintains
  * the same indexes incrementally).
  */
object Layout {

  /** Total on-disk bytes of a parquet directory (driver-side metadata only —
    * one file-status per file, no data read). */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("_")) 0L // _SUCCESS etc.
        else st.getLen
      }.sum
    walk(path)
  }

  /** Does either qualified location contain the other (or equal it)?
    * CONTAINMENT, not mere equality: `mode(overwrite)` deletes outDir
    * RECURSIVELY before [[compact]]'s lazy scan runs, so an outDir that is
    * an ancestor of inDir destroys the source too, and one nested inside
    * inDir mutates the input mid-scan. The check compares FULL qualified
    * URIs: two locations can only contain each other when scheme AND
    * authority match — hdfs://nn1/data vs s3://bkt/data (or two different
    * buckets) are disjoint filesystems, and a path-only compare would
    * spuriously refuse that legitimate cross-filesystem compaction. */
  private[graft] def overlaps(a: java.net.URI, b: java.net.URI): Boolean = {
    def contains(x: java.net.URI, y: java.net.URI): Boolean =
      x.getScheme == y.getScheme &&
        Option(x.getAuthority).getOrElse("") == Option(y.getAuthority).getOrElse("") && {
          val (xp, yp) = (x.getPath, y.getPath)
          xp == yp || yp.startsWith(xp.stripSuffix("/") + "/")
        }
    contains(a, b) || contains(b, a)
  }

  /** Compact `inDir` (parquet) into ~targetBytes output files at `outDir`:
    * n_files = max(1, ceil(bytes / target)). Row multiset is unchanged —
    * compaction is layout-only. Returns the compacted DataFrame.
    *
    * `outDir` must differ from `inDir`: the parquet read is LAZY and
    * `mode(overwrite)` deletes the destination before executing the scan —
    * an in-place call would destroy the source before reading it. Compact
    * to a staging dir and rename, like every table-format maintenance job. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = spark.sessionState.newHadoopConf()
    val inP = new org.apache.hadoop.fs.Path(inDir)
    val outP = new org.apache.hadoop.fs.Path(outDir)
    val inU = inP.getFileSystem(conf).makeQualified(inP).toUri
    val outU = outP.getFileSystem(conf).makeQualified(outP).toUri
    require(!overlaps(inU, outU),
      s"compact would overwrite or mutate its own input ('$inDir' vs " +
        s"'$outDir'): the lazy read executes AFTER mode(overwrite) deletes " +
        "the destination subtree — write to a disjoint staging dir and " +
        "rename instead")
    val src = spark.read.parquet(inDir)
    val nL = math.max(1L, math.ceil(dirBytes(spark, inDir).toDouble / targetBytes).toLong)
    // a petabyte input with a tiny target must clamp, not wrap negative
    val n = math.min(nL, Int.MaxValue.toLong).toInt
    src.repartition(n).write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }

  private val BloomP = 1000000007L

  /** Bloom bit `i` (1-based) of `key` in an `mBits`-bit filter — the
    * family [[bloomPartitionIndex]] documents; the streamed index
    * (graft.streaming.StreamingIndex) sets the same bits. */
  private[graft] def bloomBit(i: Column, key: Column, mBits: Long): Column =
    ((((i * lit(2654435761L)) % BloomP) * key + (i * lit(40503L) + 17L) % BloomP) % BloomP) % mBits

  /** The distinct [[bloomBit]]s 1..kHashes of a literal key. */
  private[graft] def bloomBits(key: Long, mBits: Long, kHashes: Int): Seq[Long] =
    (1 to kHashes).map { i =>
      ((((i * 2654435761L) % BloomP) * key + (i * 40503L + 17L) % BloomP) % BloomP) % mBits
    }.distinct

  /** Partition-level Bloom data-skipping index (X71): per month-partition
    * of `orders`, the k-hash Bloom bit set over the join key plus a probe
    * report (would the index admit `probeKey`? is it actually there?) —
    * the index a lakehouse skipping layer maintains next to each
    * partition so point/semi-join scans prune partitions before touching
    * data. Hash family is the minhash affine family over the key VALUE
    * (h_i = ((i·2654435761 mod P)·key + (i·40503+17 mod P)) mod P mod m,
    * P = 1e9+7) — pure integer arithmetic, so DuckDB and python replay
    * the exact bit positions; products stay < 2^63 for any BIGINT key in
    * the fixture domain. Scale shape: one scan → (month, key) distinct
    * (map-side combined), bit explode is ×k on the DISTINCT keys only,
    * per-partition state is ≤ m bits, and the index is MERGEABLE (bitwise
    * OR) so 1000 executors build shard blooms independently. */
  private[graft] def bloomPartitionIndex(orders: DataFrame, mBits: Long,
      kHashes: Int, probeKey: Long): DataFrame = {
    val probeBits = bloomBits(probeKey, mBits, kHashes)
    // ONE scan, one (month, key) shuffle, one month rollup: the ×k bit
    // explode rides the already-distinct key rows, so every per-month stat
    // (rows via Σnr/k — each key row appears k times — distinct keys,
    // distinct bits, probe bits, ground truth) folds in a single grouped
    // aggregation; no join, no second scan of the fact table.
    val keys = orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"), col("o_custkey"))
      .groupBy("month", "o_custkey").agg(count(lit(1)).as("nr"))
    keys
      .select(col("month"), col("o_custkey"), col("nr"),
        explode(sequence(lit(1), lit(kHashes))).as("i"))
      .select(col("month"), col("o_custkey"), col("nr"),
        bloomBit(col("i"), col("o_custkey"), mBits).as("bit"))
      .groupBy("month").agg(
        expr(s"sum(nr) div $kHashes").as("n_rows"),
        countDistinct("o_custkey").as("n_keys"),
        countDistinct("bit").as("n_set_bits"),
        countDistinct(when(col("bit").isin(probeBits: _*), col("bit")))
          .as("probe_hits"),
        max(when(col("o_custkey") === probeKey, 1).otherwise(0)).as("probe_actual"))
      .select(col("month"), col("n_rows"), col("n_keys"), col("n_set_bits"),
        graft.ext.ExactMath.ratioRounded(col("n_set_bits"), lit(mBits), 6).as("fill"),
        (col("probe_hits") === probeBits.size).cast("int").as("probe_maybe"),
        col("probe_actual").cast("int").as("probe_actual"))
      .orderBy("month")
  }

  /** Partition zone-map (min/max) skipping index (X73): the OTHER index a
    * lakehouse skipping layer maintains beside X71's Bloom — per
    * month-partition of `orders`, the [min, max] envelope of a measure
    * column plus a range-probe report: would the zone map admit the scan
    * (`probe_maybe` = envelope overlaps [lo, hi]) and does the partition
    * actually hold a qualifying row (`probe_actual`)? The gap between the
    * two IS the zone map's false-positive behavior, surfaced honestly.
    * One scan, one map-side-combined month rollup, ≤ one row of state per
    * partition, mergeable (min/max fold), no join, no second scan. */
  private[graft] def zonemapPartitionIndex(orders: DataFrame, valueCol: String,
      lo: Double, hi: Double): DataFrame =
    orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col(valueCol).as("v"))
      .groupBy("month").agg(
        count(lit(1)).as("n_rows"),
        min("v").as("min_val"),
        max("v").as("max_val"),
        max(when(col("v").between(lo, hi), 1).otherwise(0)).as("probe_actual"))
      .select(col("month"), col("n_rows"), col("min_val"), col("max_val"),
        (!(col("max_val") < lo || col("min_val") > hi)).cast("int")
          .as("probe_maybe"),
        col("probe_actual").cast("int"))
      .orderBy("month")

  /** A (k, nr) histogram with its key-prefix group `grp = k div groupWidth`,
    * the outer level of the X74 two-level cumsum. */
  private def withGroup(histKNr: DataFrame, groupWidth: Long): DataFrame =
    histKNr.withColumn("grp",
      graft.ext.ExactMath.intDiv(col("k"), lit(groupWidth)))

  /** Per key-prefix group of a [[withGroup]] histogram: its row count
    * `gnr`, the rows of all earlier groups `goff`, the rows before the
    * previous group `prev_goff`, and the total `tot`: one global window
    * over a frame `distinctKeys / groupWidth` small, so the total costs no
    * aggregate of its own. The null-key group sorts first: its rows shift
    * every offset and count in the total, though it takes no bucket. */
  private def groupOffsets(perKey: DataFrame): DataFrame = {
    val byGrp = Window.orderBy("grp")
    def upTo(end: Long) = sum("gnr").over(
      byGrp.rowsBetween(Window.unboundedPreceding, end))
    perKey.groupBy("grp").agg(sum("nr").as("gnr"))
      .select(col("grp"), col("gnr"),
        coalesce(upTo(-1), lit(0L)).as("goff"),
        coalesce(upTo(-2), lit(0L)).as("prev_goff"),
        upTo(Window.unboundedFollowing).as("tot"))
  }

  /** Adaptive range-partition boundaries (X74): the balanced range layout
    * the reference's whole advisory loop exists to recommend — given a
    * target of `nBuckets` range partitions over a join/sort key, emit per
    * bucket its key interval [lo_key, hi_key], distinct-key count, and row
    * count, where a key's bucket is `floor(startOffset · B / N)` over the
    * key-ordered cumulative row count (exact integer arithmetic; a hot key
    * spanning several bucket widths lands whole in the bucket its offset
    * starts in, so buckets absorb skew instead of splitting a key).
    *
    * Scale shape — the global weighted cumsum is decomposed two-level so
    * NO single-partition window ever sees the key domain: keys group by a
    * coarse prefix (`key div groupWidth`); per-group subtotals (a frame
    * `distinctKeys/groupWidth` small) take the only global window
    * ([[groupOffsets]], which also yields the total); the per-key cumsum
    * runs partitionBy(group) — each window partition is ≤ groupWidth keys
    * — and the group offsets broadcast back. The distinct-key histogram
    * is materialized ONCE ([[Dedup.truncate]]: localCheckpoint on
    * local[n], reliable checkpoint under a checkpoint dir), so the fact
    * table is scanned exactly once however large it is. A null key takes
    * no bucket. The DuckDB oracle computes the SAME boundaries with one
    * naive global cumsum, certifying the decomposition exact. */
  private[graft] def rangePartitionBounds(orders: DataFrame, keyCol: String,
      nBuckets: Int, groupWidth: Long): DataFrame = {
    val perKey = withGroup(Dedup.truncate(orders.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("nr"))), groupWidth)
    perKey
      .withColumn("woff", coalesce(sum("nr").over(
        Window.partitionBy("grp").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(groupOffsets(perKey).select("grp", "goff", "tot")),
        Seq("grp"))
      .withColumn("bucket", graft.ext.ExactMath.intDiv(
        (col("goff") + col("woff")) * nBuckets, col("tot")))
      .groupBy("bucket").agg(
        min("k").as("lo_key"), max("k").as("hi_key"),
        count(lit(1)).as("n_keys"), sum("nr").as("n_rows"))
      .orderBy("bucket")
  }

  /** Skew salting plan (X75): the per-key salt-factor head a skew-aware
    * join planner consumes — the `nBuckets`-relative weight of the top
    * `topN` heaviest keys (count desc, key asc ties), salt_factor =
    * ceil(n_rows · nBuckets / total) clamped to ≥ 1: replicate-broadcast
    * the other side by this factor (or split the key across this many
    * salted sub-keys) and the hot key's partition work falls back under
    * the uniform-bucket envelope. One map-side-combined groupBy, a top-N
    * head (TakeOrdered-sized driver result), and a broadcast scalar total;
    * nothing else leaves the executors. */
  private[graft] def saltPlanTopK(events: DataFrame, nBuckets: Int,
      topN: Int): DataFrame = {
    // opt-r15: the former `events.count()` was a SECOND full fact scan
    // (plus a driver action) run at query-construction time; Σ of the
    // per-key counts IS the row total (count(lit(1)) counts every row,
    // null keys included), so derive it from the histogram instead and
    // ride it in as a broadcast scalar column. The histogram is
    // checkpointed ([[Dedup.truncate]], the X74 discipline) because BOTH
    // the top-N head and the total read it — one fact scan total, same
    // exact integer arithmetic.
    val perKey = Dedup.truncate(
      events.groupBy(col("user_id")).agg(count(lit(1)).as("n_rows")))
    val total = perKey.agg(sum("n_rows").as("tot"))
    perKey
      .orderBy(col("n_rows").desc, col("user_id").asc)
      .limit(topN)
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("n_rows"),
        graft.ext.ExactMath.ratioRounded(col("n_rows"), col("tot"), 6)
          .as("share"),
        greatest(lit(1L), graft.ext.ExactMath.intDiv(
          col("n_rows") * nBuckets + col("tot") - 1L, col("tot")))
          .as("salt_factor"))
      .orderBy(col("n_rows").desc, col("user_id").asc)
  }

  /** Z-order clustering layout report (X76): the multi-dimensional
    * data-skipping layout the single-column tier (X71/X73/X74) can't
    * reach — interleave the bits of two bucketed dimensions (customer key
    * scaled to 8 bits against its max; order-month ordinal scaled to 8
    * bits against `nMonths`) into a 16-bit Morton code, cut the code
    * space into `nBlocks` equal ranges (value-based, so NO global sort is
    * needed to assign blocks), and emit each block's [lo,hi] envelope in
    * BOTH dimensions beside the same report for the naive date-sorted
    * layout. Read the two side by side: the z-order blocks are tight in
    * both dimensions (a predicate on EITHER column skips blocks) while
    * the linear layout is tight only in the sort dimension — the measured
    * argument for OPTIMIZE ZORDER over single-column clustering. All
    * arithmetic is integer (bit shifts + exact scaled division), so
    * DuckDB and python replay every code and envelope bit-exactly; the
    * only non-grouped action is the max-key scalar (metadata-sized). */
  private[graft] def zorderLayoutStats(orders: DataFrame, baseYear: Int,
      nMonths: Int, nBlocks: Int): DataFrame = {
    // opt-r15: the max-key scalar rides a broadcast column instead of a
    // driver .first() — one fewer action per invocation; the broadcast
    // subtree is the same column-pruned max aggregation.
    val maxKey1 = orders.agg((max("o_custkey") + 1L).as("mk1"))
    val dord = (year(col("o_orderdate")) - baseYear) * 12 +
      month(col("o_orderdate")) - 1
    val dims = orders.crossJoin(broadcast(maxKey1)).select(
      graft.ext.ExactMath.intDiv(col("o_custkey") * 256L, col("mk1"))
        .as("cx"),
      graft.ext.ExactMath.intDiv(dord.cast("long") * 256L, lit(nMonths.toLong))
        .as("dx"))
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(col("cx"), i) bitwiseAND 1L, 2 * i + 1) +
        shiftleft(shiftright(col("dx"), i) bitwiseAND 1L, 2 * i)
    }.reduce(_ + _)
    // opt-r15: ONE scan + ONE fact-sized aggregation for both layout
    // reports. The former unionAll of two groupBys referenced `dims`
    // twice, so the fact scan (and the dimension-scaling arithmetic) ran
    // once per layout. Count/min/max compose associatively, so aggregate
    // the fact ONCE to the (zorder block, linear block) CELL grid — ≤
    // nBlocks² rows, map-side combined — and fold each layout's report
    // from the cells (two metadata-sized aggregations). Row-identical
    // output, fact scans 2 → 1, and the per-row work is one grouped
    // aggregation instead of two (plans/r15/zorder_layout_before/
    // _after.txt). At 100 TB the second full fact pass disappears.
    // The 2-element layout explode rides the CELL frame (≤ nBlocks² rows
    // — free), not the fact, so the fact-sized aggregation subtree is
    // referenced exactly once: no persist, no checkpoint, no double pass.
    // (Two rejected variants, both measured: explode-on-the-fact doubled
    // the rows through the aggregation, +0.15 s; an eager cell checkpoint
    // cost a materialization job that outweighed the saved 2.7 MB fixture
    // scan, +0.25 s.)
    val cells = dims
      .groupBy(
        graft.ext.ExactMath.intDiv(z, lit(65536L / nBlocks)).as("zb"),
        graft.ext.ExactMath.intDiv(col("dx") * nBlocks, lit(256L)).as("lb"))
      .agg(count(lit(1)).as("c"),
        min("cx").as("cxl"), max("cx").as("cxh"),
        min("dx").as("dxl"), max("dx").as("dxh"))
    cells
      .select(explode(array(
          struct(lit("zorder").as("layout"), col("zb").as("block")),
          struct(lit("linear").as("layout"), col("lb").as("block")))).as("t"),
        col("c"), col("cxl"), col("cxh"), col("dxl"), col("dxh"))
      .groupBy(col("t.layout").as("layout"), col("t.block").as("block"))
      .agg(
        sum("c").as("n_rows"),
        min("cxl").as("cx_lo"), max("cxh").as("cx_hi"),
        min("dxl").as("dx_lo"), max("dxh").as("dx_hi"))
      .select(col("layout"), col("block"), col("n_rows"),
        col("cx_lo"), col("cx_hi"), col("dx_lo"), col("dx_hi"),
        ((col("cx_hi") - col("cx_lo") + 1L) * (col("dx_hi") - col("dx_lo") + 1L))
          .as("envelope_area"))
      .orderBy("layout", "block")
  }

  /** Bloom-index false-positive-rate measurement (X77): the quality dial
    * an operator watches AFTER deploying X71's index — probe every month
    * partition with 100 keys KNOWN to the corpus (the 100 smallest
    * distinct custkeys) and 100 keys known ABSENT (maxKey+1..maxKey+100),
    * count pairs the index admits vs pairs that actually hold the key,
    * and report the observed FPR per probe class (false admissions over
    * negative pairs). The absent class measures pure hash-collision FPR
    * at the index's realized fill; the present class shows admissions
    * dominated by true hits plus cross-month collisions. Scale shape:
    * ONE scan of the fact feeds a checkpointed distinct (month, key)
    * frame; everything downstream (bit frames, probe cross, hit counts)
    * is months × 200 probes — metadata-sized however large the fact is;
    * probes broadcast into every join. */
  private[graft] def bloomIndexFpr(orders: DataFrame, mBits: Long,
      kHashes: Int, nProbes: Int): DataFrame = {
    val mk = Dedup.truncate(orders.select(
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_custkey").as("k")).distinct())
    val maxKey = mk.agg(max("k")).first().getLong(0)
    val present = mk.select("k").distinct().orderBy("k").limit(nProbes)
      .withColumn("probe_class", lit("present"))
    val absent = mk.sparkSession.range(1, nProbes + 1)
      .select((lit(maxKey) + col("id")).as("k"),
        lit("absent").as("probe_class"))
    val probes = present.unionAll(absent)
    val probeBits = probes
      .select(col("k"), col("probe_class"),
        explode(sequence(lit(1), lit(kHashes))).as("i"))
      .select(col("k"), col("probe_class"), bloomBit(col("i"), col("k"), mBits).as("bit"))
      .distinct()
    val probeN = probeBits.groupBy("k", "probe_class")
      .agg(count(lit(1)).as("nb"))
    // opt-r15: NO distinct before the probe join. The former
    // `.distinct()` shuffled the full keys×k bit explode just to dedup
    // (month, bit) pairs, but the only consumer is `hits`, whose
    // countDistinct("bit") dedups anyway — so the broadcast probe join
    // (≤ nProbes·k bit values, ~2% selectivity at m=16384) filters the
    // explode FIRST and the distinct work happens on the survivors. At
    // 100 TB this deletes the largest exchange of the plan (fact-keys×k
    // rows); row-identical output by countDistinct idempotence.
    val monthBits = mk
      .select(col("month"), explode(sequence(lit(1), lit(kHashes))).as("i"),
        col("k"))
      .select(col("month"), bloomBit(col("i"), col("k"), mBits).as("bit"))
    val hits = monthBits.join(broadcast(probeBits), Seq("bit"))
      .groupBy("month", "k").agg(countDistinct("bit").as("nh"))
    val pairs = mk.select("month").distinct()
      .crossJoin(broadcast(probeN))
    pairs
      .join(hits, Seq("month", "k"), "left")
      .join(mk.withColumn("act", lit(1)), Seq("month", "k"), "left")
      .select(col("probe_class"),
        (coalesce(col("nh"), lit(0L)) === col("nb")).cast("int").as("adm"),
        coalesce(col("act"), lit(0)).as("act"))
      .groupBy("probe_class").agg(
        count(lit(1)).as("n_pairs"),
        sum("adm").as("n_admitted"),
        sum("act").cast("long").as("n_actual"),
        sum(when(col("adm") === 1 && col("act") === 0, 1L).otherwise(0L))
          .as("n_false_pos"))
      .select(col("probe_class"), col("n_pairs"), col("n_admitted"),
        col("n_actual"), col("n_false_pos"),
        graft.ext.ExactMath.ratioRounded(col("n_false_pos"),
          col("n_pairs") - col("n_actual"), 6).as("fpr"))
      .orderBy("probe_class")
  }

  /** Range-layout balance / staleness report (X79): the ADAPTIVE half of
    * adaptive partitioning — X74 computes balanced bounds from the data a
    * layout was built on; this report re-evaluates those FROZEN bounds
    * against the data as it stands now and says whether the layout went
    * stale. Bounds come from the base epoch (orders before `baseCutoff`,
    * the X74 arithmetic of [[rangePartitionBounds]]); every current key is
    * assigned by the step function "greatest lo_key ≤ key" (keys below the
    * first bound, and a null key, fall to bucket 0); per bucket the report
    * emits key/row counts, corpus share, load_ratio = share·B (1.0 =
    * perfectly balanced) and the rebalance flag at rounded load_ratio ≥ 1.5
    * — the signal an adaptive layout manager acts on by re-running X74.
    * The key is integral (the X74 prefix is `key div groupWidth`).
    *
    * Scale shape: ONE fact scan and ONE checkpoint serve both epochs (the
    * base-epoch count is a conditional count in the same grouped
    * aggregation; keys absent before the cutoff drop out via
    * nr_base > 0). The base epoch keeps the two-level cumsum: the group
    * offsets take the only global window, and the per-key cumsum runs only
    * in the at most 2·B groups that can hold a bound, on the driver (one
    * action, ≤ (2·B + 1)·groupWidth rows). The ≤ B bounds (bucket =
    * ⌊offset·B/N⌋ with offset < N) become a literal CASE, so the
    * assignment needs no join and no regroup of the per-key frame, and one
    * global aggregate yields the total with every bucket's counts. Nothing
    * O(distinct keys) reaches the driver. */
  private[graft] def partitionBalanceReport(orders: DataFrame,
      baseCutoff: String, keyCol: String, nBuckets: Int,
      groupWidth: Long): DataFrame = {
    val hist = Dedup.truncate(orders.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("nr"),
        count(when(col("o_orderdate") < lit(baseCutoff).cast("timestamp"), 1))
          .as("nr_base")))
    // The X74 bounds of the base epoch. Bucket b's lo_key is the first key
    // whose start offset reaches T_b = ⌈b·tot/B⌉: a key of the group
    // holding offset T_b, or the first key of the group after it. So only
    // the groups whose offsets, with the previous group's, span a
    // threshold (at most 2·B groups) need the per-key cumsum, and it runs
    // on the driver over their keys.
    val base = withGroup(hist.where(col("nr_base") > 0)
      .select(col("k"), col("nr_base").as("nr")), groupWidth)
    def bucketOf(off: Column) =
      graft.ext.ExactMath.intDiv(off * nBuckets, col("tot"))
    val spans = groupOffsets(base).where(col("grp").isNotNull &&
      (col("prev_goff") === 0 || bucketOf(col("goff") + col("gnr") - 1) >
        bucketOf(col("prev_goff") - 1)))
    val keys = base.join(broadcast(spans.select("grp", "goff", "tot")), "grp")
      .select(col("grp"), col("k").cast("long"), col("nr"), col("goff"),
        col("tot")).collect()
    // ≤ 2·B groups of ≤ groupWidth keys, but group 0 holds keys of both
    // signs (the prefix truncates toward zero)
    require(keys.length <= (2L * nBuckets + 1) * groupWidth,
      s"${keys.length} keys in the threshold groups of $nBuckets buckets")
    val loKey = keys.groupBy(_.getLong(0)).values.flatMap { g =>
      val ks = g.sortBy(_.getLong(1))
      ks.scanLeft(ks.head.getLong(3))(_ + _.getLong(2)).zip(ks).map {
        case (off, r) => (BigInt(off) * nBuckets / r.getLong(4)).toLong -> r.getLong(1)
      }
    }.groupMapReduce(_._1)(_._2)(math.min)
    require(loKey.size <= nBuckets,
      s"${loKey.size} range bounds for $nBuckets buckets")
    // the highest bucket whose lo_key the key reaches
    val bucket = loKey.toSeq.sortBy(-_._1).foldLeft(Option.empty[Column]) {
      case (acc, (b, lo)) =>
        val (cond, v) = (col("k") >= lo, lit(b))
        Some(acc.fold(when(cond, v))(_.when(cond, v)))
    }.fold(lit(0L))(_.otherwise(lit(0L)))
    // one global aggregate: the total plus a conditional key/row count
    // per bucket, unpivoted to one row per non-empty bucket in bucket order
    val buckets = (0L +: loKey.keys.toSeq).distinct.sorted
    val in = (b: Long) => col("bucket") === b
    hist.select(bucket.as("bucket"), col("nr"))
      .agg(sum("nr").as("tot"), buckets.flatMap(b => Seq(
        count(when(in(b), 1)).as(s"n_keys_$b"),
        sum(when(in(b), col("nr"))).as(s"n_rows_$b"))): _*)
      .select(col("tot"), inline(array(buckets.map(b => struct(
        lit(b).as("bucket"), col(s"n_keys_$b").as("n_keys"),
        col(s"n_rows_$b").as("n_rows"))): _*)))
      .where(col("n_keys") > 0)
      .select(col("bucket"), col("n_keys"), col("n_rows"),
        graft.ext.ExactMath.ratioRounded(col("n_rows"), col("tot"), 6)
          .as("share"),
        graft.ext.ExactMath.ratioRounded(col("n_rows") * nBuckets, col("tot"), 6)
          .as("load_ratio"))
      .withColumn("rebalance", (col("load_ratio") >= 1.5).cast("int"))
  }

  /** Workload pruning simulation (X80): the reference's whole advisory
    * loop asks "would this partition layout help THIS workload?" — this
    * key answers it measurably. Every logged query (the §1 query-log
    * derivation) is screened against the month layout + X73 zone maps:
    * a recognized `o_orderdate >= DATE 'd'` predicate prunes months below
    * d's month (partition pruning); a recognized `o_totalprice > p`
    * predicate prunes months whose zone-map max ≤ p; queries not touching
    * `orders` or carrying no recognized predicate are reported
    * `supported = 0` with zero pruning — the simulator is honest about
    * its predicate coverage, never optimistic. Output per distinct
    * workload query: run count, support flag, partition/pruned counts,
    * prune_frac (ratioRounded). Scale shape: the workload rollup is
    * O(distinct queries), the partition stats are one fact scan →
    * month rollup (≤ one row per partition), and the simulation is a
    * broadcast cross of two metadata-sized frames — nothing
    * data-proportional moves for ANY log or fact size. */
  private[graft] def workloadPruningSim(qlog: DataFrame,
      orders: DataFrame): DataFrame = {
    val datePat = "o_orderdate >= DATE '([0-9-]+)'"
    val pricePat = "o_totalprice > ([0-9.]+)"
    val wl = qlog.groupBy("query").agg(count(lit(1)).as("n_runs"))
      .withColumn("date_lit", regexp_extract(col("query"), datePat, 1))
      .withColumn("price_lit", regexp_extract(col("query"), pricePat, 1))
      .withColumn("on_orders", col("query").contains("FROM orders"))
      .withColumn("supported", (col("on_orders") &&
        (col("date_lit") =!= "" || col("price_lit") =!= "")).cast("int"))
    val parts = orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_totalprice"))
      .groupBy("month").agg(max("o_totalprice").as("max_price"))
    parts.crossJoin(broadcast(wl))
      .withColumn("pruned", when(col("supported") === 1 &&
        ((col("date_lit") =!= "" &&
          col("month") < substring(col("date_lit"), 1, 7)) ||
         (col("price_lit") =!= "" &&
          col("max_price") <= col("price_lit").cast("double"))), 1L)
        .otherwise(0L))
      .groupBy("query", "n_runs", "supported").agg(
        count(lit(1)).as("n_partitions"),
        sum("pruned").as("n_pruned"))
      .select(col("query"), col("n_runs"), col("supported"),
        col("n_partitions"), col("n_pruned"),
        graft.ext.ExactMath.ratioRounded(col("n_pruned"), col("n_partitions"), 6)
          .as("prune_frac"))
      .orderBy("query")
  }
}
