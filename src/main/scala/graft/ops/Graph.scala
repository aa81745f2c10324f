package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import LoopScope.CkptOps

/** Distributed graph centrality (q126), factored over explicit
  * node/edge frames so the spec can prove the branches the corpus
  * doesn't exercise (dangling nodes, rank convergence) on synthetic
  * graphs — the q102/q103 dormant-branch discipline.
  */
object Graph {

  /** Integer damped PageRank: ranks start at `scale`, each iteration is
    * r'(v) = 0.15·scale + ⌊85·Σ_{u→v} ⌊r(u)/outdeg(u)⌋ / 100⌋ — all
    * longs, identical DIV truncation in any engine, so an unrolled-CTE
    * oracle replays it exactly (invariant 7). Dangling nodes (no
    * out-edges) leak their mass: the classic uniform-redistribution
    * correction needs a global scalar per iteration; leaving it out
    * keeps every iteration a pure edge-grained join + hash aggregate
    * and is deterministic — documented, and proven on a synthetic
    * graph in KnnCentralitySpec.
    *
    * Scale shape: per iteration one equi-join of edges with the
    * node-grained rank table (shuffle on vec ids, partial aggs
    * map-side) and one node-grained left join; `localCheckpoint` per
    * round keeps the lineage flat (the round-3 iterative-loop rule).
    *
    * @param nodes (id) — one row per vertex
    * @param edges (src, dst) — directed; multi-edges count twice
    * @param track persist hook for the edge table (read every round)
    */
  def pageRankInt(nodes: DataFrame, edges: DataFrame, iters: Int, scale: Long,
      track: DataFrame => DataFrame = identity): DataFrame = {
    require(iters >= 1 && scale >= 100, s"iters=$iters scale=$scale")
    val odeg = edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val eo = track(edges.join(odeg, Seq("src")))
    val ids = nodes.select(col("id"))
    // fixed-iteration rank loop with per-round eager checkpoints over
    // node-grained tables (join keys are vertex ids, contributions
    // degree-bounded)
    var r = ids.select(col("id"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = eo.join(r, col("src") === col("id"))
        .select(col("dst"), expr("r DIV odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = ids.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(15L * scale / 100) + expr("(85L * coalesce(s, 0L)) DIV 100")).as("r"))
        .loopCkpt
    }
    r
  }
}
