package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the group step behind
  * duplicate-cluster resolution and leakage-free train/test splits
  * (near-duplicate documents must land in the SAME split, so splitting
  * assigns whole components, not documents).
  *
  * Algorithm: iterative min-label propagation (the standard
  * large-star/small-star simplification). Every vertex starts labeled
  * with itself; each round every vertex adopts the minimum label in its
  * closed neighborhood; converged when no label changes. Rounds are
  * O(graph diameter) — near-dup graphs are piles of tiny cliques, so
  * 2-4 rounds in practice. Each round is one join + one aggregate;
  * labels are localCheckpoint'ed per round to truncate the growing
  * lineage (the classic iterative-algorithm trap).
  *
  * Only vertices that touch an edge iterate: isolates are by definition
  * their own component and join back in one final pass. In a dedup graph
  * the edge-touched subgraph is typically a small fraction of the corpus
  * (duplicates are the exception, not the rule), so the per-round joins
  * run over that fraction instead of every document.
  */
object ConnectedComponents {

  /** @param vertices one column `id` (long)
    * @param edges    columns `id_a`, `id_b` (undirected pairs)
    * @param maxLocalEdges adaptive cutover: at or below this many edges
    *   the components are solved with driver-side union-find over the
    *   collected edge list (micro- to milliseconds) instead of paying
    *   per-round distributed job overhead — the same fits-in-one-place
    *   threshold logic as a broadcast join. Near-dup graphs are usually
    *   FAR below it: duplicates are the exception in a corpus. Set 0 to
    *   force the distributed path.
    * @return (id, component) where component = min id in the component
    */
  def assign(vertices: DataFrame, edges: DataFrame, maxIterations: Int = 20,
             maxLocalEdges: Long = 1000000L): DataFrame = {
    // MATERIALIZE the edge list once: it is referenced twice by the
    // symmetrize union and then joined every round — upstream edge
    // derivation (e.g. an exact-Jaccard pipeline) would otherwise
    // re-execute 2·rounds times.
    // Null endpoints dropped EXPLICITLY so both execution paths agree:
    // the distributed join would silently never match them, while a
    // driver-side collect would NPE on getLong.
    // The edge count rides the materialization job (Dataset.observe):
    // the adaptive-cutover decision costs zero extra passes over the
    // (often expensively derived) edge list.
    val (e, nEdges) = graft.core.Durable.materializeCounted(
      edges.select(col("id_a").as("src"), col("id_b").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull))
    // A provably-empty edge list is optimizer-eliminated together with
    // its CollectMetrics node (PropagateEmptyRelation) — no metrics ≡ 0.
    if (nEdges <= maxLocalEdges)
      return assignLocal(vertices, e)
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))

    // Convergence via the label-sum invariant: per-vertex labels are
    // monotonically nonincreasing, so the total sum strictly decreases
    // exactly while something still changes. Summed as decimal(38,0):
    // a LongType sum of 64-bit ids overflows (throws under ANSI) once
    // vertex count × id magnitude passes 2^63. The (sum, count) stamp
    // RIDES each round's checkpoint job (Dataset.observe) — zero extra
    // aggregate actions per round; count==0 doubles as the no-edges
    // early-out the isEmpty action used to pay for.
    val stampMetrics = Seq(
      coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s"),
      count(lit(1)).as("n"))
    def cpStamped(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, java.math.BigDecimal, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, stampMetrics.head, stampMetrics.tail: _*)
        .localCheckpoint()
      val m = obs.get
      (out,
        m.get("s").map(_.asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO),
        graft.core.Durable.metric(m, "n"))
    }

    // Active subgraph: vertices with degree ≥ 1.
    var (labels, prevSum, nActive) = cpStamped(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component")))
    var converged = nActive == 0L // no edges → nothing to propagate
    var it = 0
    while (!converged && it < maxIterations) {
      // Each vertex receives its neighbors' current labels...
      val incoming = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("component"))
      // ...and keeps the min over {own label} ∪ {neighbor labels}.
      val (next, nextSum, _) = cpStamped(
        labels.unionByName(incoming)
          .groupBy("id")
          .agg(min("component").as("component")))

      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    // Silent truncation would mislabel long chains and — downstream —
    // leak connected rows across train/test splits; fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds " +
          "(graph diameter exceeds it); raise maxIterations")
    // Isolates (and vertices named only in `vertices`) are their own
    // component; edge endpoints absent from `vertices` are dropped.
    vertices.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Exact union-find over a driver-collected edge list; labels join
    * back against `vertices` distributively. Semantics identical to the
    * iterative path (min id per component) — the spec runs the same
    * cases through both.
    */
  private def assignLocal(vertices: DataFrame, e: DataFrame): DataFrame = {
    val collected = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by MIN root so component = min id directly
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labels = collected.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSet.toSeq.map((id: Long) => (id, find(id)))
    val spark = vertices.sparkSession
    import spark.implicits._
    vertices.select(col("id"))
      .join(broadcast(labels.toDF("id", "component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Leakage-free split: hash the COMPONENT id (not the row id) into
    * `splits` buckets, so connected rows always share a split.
    */
  def componentSplit(labeled: DataFrame, splits: Int): DataFrame =
    labeled.withColumn("split",
      pmod(xxhash64(col("component")), lit(splits.toLong)).cast("int"))
}
