package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source shortest paths over a weighted edge list by distributed
  * Bellman-Ford relaxation — the distance class of graph analytics the
  * family was missing (ConnectedComponents: connectivity, PageRank:
  * propagation, KCore: density, Triangles: local structure). Multi-source
  * generalizes both BFS (unit weights) and "distance to nearest seed"
  * (blast radius from a spam/bot seed set, hop count from a trusted
  * domain whitelist — the crawl-curation uses).
  *
  * Each round is one keyed join (frontier ⋈ edges on src — both sides
  * hash-partitioned on the key) and one partial+final min-aggregation on
  * the destination: `dist' = min(dist, min over in-edges (dist[src] + w))`.
  * No adjacency lists are ever collected; a hot vertex costs its degree
  * in shuffle rows. Lineage is cut each round via [[graft.core.Durable]]
  * (ephemeral `localCheckpoint` or durable parquet rounds — the 100 TB
  * mode, where an executor decommission mid-iteration must not restart
  * the job).
  *
  * Determinism (the q141/q195 iteration-replay discipline): distances
  * are BIGINT sums of BIGINT weights under min — exact in any
  * partitioning and any engine, so a fixed-round unrolled oracle replays
  * hash-identical. Rounds run at most `maxRounds` times with a fixpoint
  * early-exit (relaxation is monotone: the reached-set only grows and
  * distances only shrink, so an unchanged (count, sum) pair is a
  * fixpoint and the remaining rounds are identities — which is also why
  * the fixed-round oracle stays equivalent). Convergence within the cap
  * is then ASSERTED with one extra relaxation: an under-provisioned cap
  * fails loudly rather than returning non-shortest distances.
  *
  * Negative weights are rejected (min-monotonicity and the convergence
  * assertion both assume them; a negative cycle would never converge).
  */
object ShortestPaths {

  /** @param edges   directed `(src, dst, w)` rows; BIGINT-castable, w ≥ 0.
    *                Undirected graphs pass both directions.
    * @param sources seed vertex set, column `id` — distance 0 anchors.
    * @param maxRounds relaxation-round cap (≥ the hop diameter of the
    *                reachable graph for convergence).
    * @param checkpointDir durable round boundaries ([[graft.core.Durable]]).
    * @return `(id, dist)` for every vertex reachable from any source
    *         (unreachable vertices are absent, not ∞).
    */
  def run(edges: DataFrame, sources: DataFrame, maxRounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")

    // the negative-weight guard rides the edge materialization job
    // (Durable.materializeObserved) — no separate scan
    val (e, em) = graft.core.Durable.materializeObserved(
      edges.select(
        col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("w").cast("long").as("w")),
      checkpointDir, "edges",
      Seq(coalesce(sum(when(col("w") < 0, 1L)), lit(0L)).as("neg")))
    require(em.get("neg").forall(_.asInstanceOf[Long] == 0L),
      "ShortestPaths requires non-negative weights")

    def relax(dist: DataFrame): DataFrame =
      dist.unionAll(
        dist.withColumnRenamed("id", "src")
          .join(e, "src")
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))

    // (reached count, Σ dist) — both exact BIGINTs; relaxation is
    // monotone in each (set grows, distances shrink), so an unchanged
    // pair certifies a fixpoint. The stamp RIDES each round's
    // materialization job (Durable.materializeObserved) — zero extra
    // actions per round.
    val stampMetrics = Seq(count(lit(1)).as("n"),
      coalesce(sum(col("dist")), lit(0L)).as("s"))
    def stampOf(m: Map[String, Any]): (Long, Long) = (
      graft.core.Durable.metric(m, "n"), graft.core.Durable.metric(m, "s"))
    def matStamped(df: DataFrame, tag: String): (DataFrame, (Long, Long)) = {
      val (out, m) = graft.core.Durable.materializeObserved(
        df, checkpointDir, tag, stampMetrics)
      (out, stampOf(m))
    }

    var (dist, prev) = matStamped(
      sources.select(col("id").cast("long").as("id")).distinct()
        .withColumn("dist", lit(0L)),
      "round0")
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      round += 1
      val (d2, cur) = matStamped(relax(dist), s"round$round")
      dist = d2
      stable = cur == prev
      prev = cur
    }
    if (!stable) {
      // the cap was hit while still moving — one more relaxation must
      // be an identity or the returned distances are not shortest
      val r = relax(dist).agg(count(lit(1)), coalesce(sum(col("dist")), lit(0L)))
        .head()
      require((r.getLong(0), r.getLong(1)) == prev,
        s"shortest-path relaxation did not converge within $maxRounds rounds — raise maxRounds")
    }
    dist
  }

  /** The DuckDB oracle for [[run]]: `maxRounds` relaxation rounds
    * unrolled as chained CTEs over `edgesSql` (columns `src`,`dst`,`w`)
    * and `sourcesSql` (column `id`). Generated, not hand-written — both
    * sides share the round count by construction. AS MATERIALIZED is
    * load-bearing: d_r references d_{r-1} twice, so inlined CTEs would
    * expand 2^rounds copies of the edge scan.
    */
  def oracleSql(edgesSql: String, sourcesSql: String, maxRounds: Int): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.dist + e.w AS dist
         |    FROM d${r - 1} d JOIN e ON e.src = d.id)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
       |  FROM ($sourcesSql)),
       |$rounds
       |SELECT id, dist FROM d$maxRounds ORDER BY id""".stripMargin
  }
}
