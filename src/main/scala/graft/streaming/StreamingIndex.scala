package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X78 — streaming MAINTENANCE of the partition skipping indexes: the
  * ingest-time face of X71 (`bloom_partition_index`) and X73
  * (`zonemap_partition_index`), the way X67 is the ingest face of the
  * governance keys. A lakehouse skipping layer is not rebuilt by scanning
  * the fact table nightly — it is maintained as data lands; this monitor
  * folds each arriving micro-batch into per-partition index state:
  * row count, the [min, max] zone-map envelope of the measure column, and
  * the Bloom bit set over the join key (the EXACT affine-family bits the
  * batch key emits, [[bitsOfKey]] = Layout.bloomPartitionIndex's
  * family, so the streamed index and the batch-built index can never
  * disagree on a bit).
  *
  * Scale/state design: state is O(partitions) rows, each ≤ mBits bits +
  * three scalars — bounded by the INDEX size (partitions × 2 KiB at
  * m=16384), never by stream length; the per-batch delta the driver
  * collects is the same shape (distinct (month, bit) + a 3-scalar rollup
  * per month). All merge operations — sum, min, max, set union — are
  * commutative and associative, so the snapshot is ARRIVAL-ORDER
  * INVARIANT: any micro-batch split of the same rows lands on the
  * identical state (the batch-twin property StreamingSpec asserts), and a
  * 1000-executor ingest can fold shard-local deltas in any order.
  *
  * Durability: one text file per batch id beside the checkpoint, under
  * the rules of [[VersionedState]].
  */
object StreamingIndex {

  /** Per-partition index state: zone map + Bloom bits. */
  final case class PartState(nRows: Long, minVal: Double, maxVal: Double,
      bits: Set[Long]) {
    def +(o: PartState): PartState = PartState(nRows + o.nRows,
      math.min(minVal, o.minVal), math.max(maxVal, o.maxVal), bits | o.bits)
  }

  /** The k Bloom bit positions of a key — Layout.bloomPartitionIndex's
    * family ([[graft.ext.Layout.bloomBits]]); the streamed and batch-built
    * indexes are interchangeable only because both use it. */
  def bitsOfKey(key: Long, mBits: Long, kHashes: Int): Set[Long] =
    graft.ext.Layout.bloomBits(key, mBits, kHashes).toSet

  /** One batch's per-month delta: the 3-scalar rollup plus the distinct
    * (month, bit) frame — the executor side does all data-proportional
    * work (distinct on (month, key) before the ×k explode), the driver
    * receives index-sized rows only. */
  def batchDelta(orders: DataFrame, mBits: Long,
      kHashes: Int): Map[String, PartState] = {
    val base = orders.select(
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_custkey"), col("o_totalprice"))
    val stats = base.groupBy("month").agg(
      count(lit(1)).as("n_rows"),
      min("o_totalprice").as("min_val"),
      max("o_totalprice").as("max_val")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    val bits = base.select(col("month"), col("o_custkey")).distinct()
      .select(col("month"),
        explode(sequence(lit(1), lit(kHashes))).as("i"), col("o_custkey"))
      .select(col("month"), graft.ext.Layout.bloomBit(col("i"), col("o_custkey"), mBits).as("bit"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (m, rs) =>
        m -> rs.map(_.getLong(1)).toSet
      }
    stats.map { case (m, (n, lo, hi)) =>
      m -> PartState(n, lo, hi, bits.getOrElse(m, Set.empty))
    }
  }

  /** Snapshot report rows (month, n_rows, min_val, max_val, n_set_bits) —
    * the shape the batch keys emit, for twin comparison. */
  def report(state: Map[String, PartState])
      : Seq[(String, Long, Double, Double, Long)] =
    state.toSeq.sortBy(_._1).map { case (m, s) =>
      (m, s.nRows, s.minVal, s.maxVal, s.bits.size.toLong)
    }

  /** Start index maintenance over a streaming (o_orderdate, o_custkey,
    * o_totalprice) frame: per micro-batch, fold [[batchDelta]] into the
    * persisted state (versioned at `<checkpoint>_state/v<id>`) and hand
    * the post-merge snapshot to `onBatch`. */
  def monitor(orders: DataFrame, checkpoint: String, mBits: Long = 16384L,
      kHashes: Int = 3)(
      onBatch: (Long, Map[String, PartState]) => Unit): StreamingQuery =
    VersionedState.textLoop[Map[String, PartState]](orders, checkpoint)(
      _.map { l =>
        val a = l.split(" ", 5)
        val bits = if (a.length < 5 || a(4).isEmpty) Set.empty[Long]
          else a(4).split(",").map(_.toLong).toSet
        a(0) -> PartState(a(1).toLong, a(2).toDouble, a(3).toDouble, bits)
      }.toMap,
      // doubles round-trip exactly through java.lang.Double.toString/parse
      _.toSeq.sortBy(_._1).map { case (m, s) =>
        s"$m ${s.nRows} ${s.minVal} ${s.maxVal} ${s.bits.toSeq.sorted.mkString(",")}"
      }) { (baseOpt, batch) =>
      batchDelta(batch, mBits, kHashes).foldLeft(
          baseOpt.getOrElse(Map.empty[String, PartState])) {
        case (acc, (m, d)) => acc.updated(m, acc.get(m).fold(d)(_ + d))
      }
    } { (id, _, merged) => onBatch(id, merged) }
}
