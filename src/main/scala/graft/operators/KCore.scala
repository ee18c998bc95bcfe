package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete every
  * vertex of degree < k (and its incident edges) until the graph is
  * stable; what survives is the k-core — the standard "dense part of the
  * graph" primitive (community seeds, spam/bot rings, robust co-purchase
  * clusters) the graph family (components, label propagation, PageRank,
  * triangles) was missing.
  *
  * Each round is two skinny distributed steps: a degree aggregation over
  * the edge list and a double semi-join keeping edges whose BOTH
  * endpoints survive — no adjacency lists are ever materialized, so a
  * hot vertex costs its degree in shuffle rows, never a collected
  * neighbor set. Rounds run a FIXED `maxRounds` times (peeling is
  * idempotent once stable, and a fixed round count is what a replayable
  * oracle needs); convergence within the cap is then asserted with one
  * extra degree check, so an under-provisioned cap fails loudly rather
  * than returning a non-core. Lineage is cut each round
  * (`localCheckpoint`) — a 10-round loop of joins would otherwise
  * compound into one exponential plan.
  */
object KCore {

  /** Surviving `(vertex, degree)` rows of the k-core of the undirected
    * simple graph `edges` (columns `a`, `b`; one row per edge). Degree
    * is the final within-core degree.
    *
    * Round boundaries materialize in one of two modes — the
    * `BudgetSelect(checkpointDir=)` pattern (r8 #4 / r9 #5):
    * ephemeral `localCheckpoint` by default (no extra I/O; blocks live
    * on executors), or durable parquet rounds under `checkpointDir` —
    * the 100-TB mode, where losing an executor mid-peel must not
    * restart a 10-round job. `KCoreSpec` pins durable ≡ ephemeral.
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")

    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("vertex"))
        .unionAll(e.select(col("b").as("vertex")))
        .groupBy("vertex").agg(count(lit(1)).as("degree"))

    // Early exit on fixpoint: peeling is monotone in the edge count, so
    // an unchanged count means a fixpoint — the remaining rounds would
    // be identities (which is also why the fixed-round unrolled oracle
    // stays equivalent). The count RIDES the round's materialization
    // job (Durable.materializeCounted) — zero extra actions per round.
    var (e, prevEdges) = graft.core.Durable.materializeCounted(
      edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b")),
      checkpointDir, "round0")
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      val keep = degrees(e).where(col("degree") >= k).select("vertex")
      round += 1
      val (e2, nEdges) = graft.core.Durable.materializeCounted(
        e.join(keep.withColumnRenamed("vertex", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("vertex", "b"), Seq("b"), "left_semi")
          .select("a", "b"),
        checkpointDir, s"round$round")
      e = e2
      stable = nEdges == prevEdges
      prevEdges = nEdges
    }
    // Final degree frame materialized ONCE with the convergence check
    // riding the same job (r19, guide §1.4): the old limit(1).count
    // check ran the degree aggregation once for the assertion and the
    // caller's own action ran it again — min(degree) < k is the same
    // predicate as "some vertex is unstable", and an empty core (no
    // metrics after optimizer elimination) is trivially converged.
    val (fin, mf) = graft.core.Durable.materializeObserved(
      degrees(e), checkpointDir, "final",
      Seq(coalesce(min(col("degree")), lit(Long.MaxValue)).as("mind")))
    val minDegree = mf.get("mind").map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue)
    require(minDegree >= k,
      s"k-core peeling did not converge within $maxRounds rounds — raise maxRounds")
    fin
  }

  /** The DuckDB oracle for [[kcore]]: `maxRounds` peel rounds unrolled
    * as chained CTEs over `edgesSql` (a query yielding columns `a`,`b`).
    * Generated, not hand-written — both sides share the round count by
    * construction.
    */
  def oracleSql(edgesSql: String, k: Int, maxRounds: Int): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    // e_r references e_{r-1} three times — 10 inlined rounds would
    // expand to 3^10 copies of the edge scan (observed as fd
    // exhaustion on the parquet file).
    val rounds = (1 to maxRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT v, count(*) AS c FROM (
         |  SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY v),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM d$r WHERE c >= $k)
         |    AND b IN (SELECT v FROM d$r WHERE c >= $k))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($edgesSql),
       |$rounds
       |SELECT CAST(v AS BIGINT) AS vertex, count(*) AS degree FROM (
       |  SELECT a AS v FROM e$maxRounds UNION ALL SELECT b FROM e$maxRounds)
       |GROUP BY v ORDER BY vertex""".stripMargin
  }
}
