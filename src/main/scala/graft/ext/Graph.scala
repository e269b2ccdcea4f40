package graft.ext

import graft.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. Companion to
  * [[Dedup.clusters]] (connected components): where clustering asks "which
  * docs are the same", centrality asks "which doc should represent the
  * cluster" — the keep-policy input for dedup at scale.
  */
object Graph {

  /** Unnormalized PageRank in 1e-6 fixed point: ranks and contributions are
    * longs, so every step is exact integer arithmetic — commutative sums,
    * no float accumulation order to drift across engines or partitionings
    * (a double-based power iteration could not be hash-compared).
    *
    * r0 = 1e6; r'(v) = 0.15e6 + 0.85 · Σ_{u→v} (r(u) div deg(u)).
    *
    * `pairs` are undirected (a_id, b_id) rows; isolated nodes don't appear.
    * Each iteration is one shuffle join on the src id + one grouped sum —
    * the classic distributed PageRank shape; the rank state is O(nodes),
    * never materialized on the driver. Returns (vec_id, deg, rank). */
  def pagerankFixedPoint(pairs: DataFrame, iters: Int = 5): DataFrame = {
    val edges = pairs.select(col("a_id").as("s"), col("b_id").as("d"))
      .unionAll(pairs.select(col("b_id").as("s"), col("a_id").as("d")))
    // the degree table is referenced by every iteration's subtree: without
    // materialization the lazy chain re-aggregates the edge list per
    // iteration — 2×iters full passes at scale for a node-sized table
    val deg = Memo.frame("prdeg", pairs) {
      edges.groupBy("s").agg(count(lit(1)).as("deg"))
    }
    var rank = deg.select(col("s").as("id"), col("deg"), lit(1000000L).as("rank"))
    for (i <- 1 to iters) {
      val contrib = edges.join(rank, edges("s") === rank("id"))
        .select(col("d"), expr("rank div deg").as("c"))
        .groupBy("d").agg(sum("c").as("contrib"))
      // undirected graph: every node with an out-edge has an in-edge, so
      // the inner join loses nobody and contrib is never null
      rank = deg.join(contrib, deg("s") === contrib("d"))
        .select(col("s").as("id"), col("deg"),
          // (850·c) div 1000 == (850000·c) div 1000000 for every integer c
          // (equal reduced fractions), but with 1000× the overflow
          // headroom: the old form overflowed Long at contrib ≈ 1.08e13 —
          // a ~10M-neighbor hub — throwing under ANSI, wrapping otherwise
          (lit(150000L) + expr("(850 * contrib) div 1000")).as("rank"))
      // rank is referenced ONCE per iteration, so plan depth grows only
      // linearly (fine at the default iters = 5) — but bound it anyway for
      // long runs by truncating lineage every 8 iterations
      if (i % 8 == 0 && i < iters) rank = Dedup.truncate(rank)
    }
    rank.select(col("id").as("vec_id"), col("deg"), col("rank"))
      .orderBy("vec_id")
  }
}
