package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list — the iterative graph-
  * analytics class ([[graft.dedup.ConnectedComponents]] covers the
  * connectivity class; this covers propagation). Fixed iteration count,
  * damping d: r' = (1−d)/N + d·Σ_in r/outdeg.
  *
  * Scale shape per iteration: one keyed join (ranks ⋈ edges on src —
  * both sides hash-partitioned on the key) and one partial+final
  * aggregation on dst. Nothing is collected; the rank frame is
  * localCheckpointed per iteration so lineage stays flat (without it,
  * iteration i replays iterations 1..i−1).
  *
  * Cross-engine determinism (the KMeansLloyd discipline): the per-edge
  * contribution rank/outdeg is ONE double division of identical
  * operands, quantized to DECIMAL(28,15) so the per-dst SUM is exact in
  * any order; the new rank is (1−d)/N + d·sum — two double ops over
  * identical inputs — rounded to 12dp, pinning every iteration
  * bit-identical across engines and partitionings.
  *
  * Dangling nodes: with no out-edges a node leaks its mass (the
  * classic simplification; redistribute-to-all needs a per-iteration
  * global scalar). Callers wanting the mass-conserving variant can add
  * symmetric reverse edges, which also guarantees every node appears
  * on both sides — the q141 recipe does exactly that.
  */
object PageRank {

  /** @param edges (src, dst) directed edge list, pre-deduplicated.
    * @param checkpointDir durable round boundaries ([[graft.core.Durable]]):
    *   `None` = ephemeral `localCheckpoint` (short jobs); `Some(dir)` =
    *   parquet rounds — the 100 TB mode, where an executor decommission
    *   mid-iteration must not restart a multi-hour job. PageRankSpec
    *   pins durable ≡ ephemeral.
    * @return (id, rank) for every node appearing as src or dst.
    */
  def run(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    def mat(df: DataFrame, tag: String): DataFrame =
      graft.core.Durable.materialize(df, checkpointDir, tag)
    val e = mat(edges.select(col("src").cast("long"), col("dst").cast("long")),
      "edges")
    // Out-degree folded INTO the materialized edge frame once (r19):
    // outdeg is STATIC across rounds, so the old per-iteration
    // e ⋈ ranks ⋈ outdeg chain re-paid the outdeg join every round —
    // one keyed join per iteration deleted at any scale, for 8 bytes a
    // row on the materialized frame. (Pre-partitioning e on src to reuse
    // the join exchange across rounds was measured and does NOT plan:
    // localCheckpoint under AQE loses outputPartitioning — see
    // plans/r19/partitioning_reuse_negative.txt.)
    val ewd = mat(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src"),
      "edges_outdeg")
    // node count rides the materialization job (no separate action)
    val (nodes, n) = graft.core.Durable.materializeCounted(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct(),
      checkpointDir, "nodes")
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var i = 0
    while (i < iterations) {
      val contribs = ewd
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          (col("rank") / col("outdeg")).cast("decimal(28,15)").as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).cast("double").as("inflow"))
      i += 1
      ranks = mat(
        nodes
          .join(contribs, nodes("id") === contribs("dst"), "left_outer")
          .select(col("id"),
            round(lit(base) + lit(damping) * coalesce(col("inflow"), lit(0.0)), 12)
              .as("rank")),
        s"ranks$i")
    }
    ranks
  }
}
