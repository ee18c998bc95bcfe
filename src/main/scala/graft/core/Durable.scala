package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** Round-boundary materialization policy for iterative operators
  * (k-core, PageRank, label propagation, Lloyd, budget select, …).
  *
  * Every multi-round loop must cut lineage at each round or plans
  * compound exponentially. HOW it cuts is a deployment choice:
  *
  *  - `checkpointDir = None` → `localCheckpoint()`: no extra I/O, but
  *    the materialized blocks live on executors — fine for a short job
  *    on a stable cluster, fatal for a multi-hour 100 TB job where a
  *    single executor decommission mid-iteration kills everything.
  *  - `checkpointDir = Some(dir)` → one parquet round-trip per round
  *    under `dir/<tag>`: durable against executor loss (HDFS/object
  *    store), restartable, and the round outputs are inspectable.
  *
  * Both produce the same rows; specs for each operator pin
  * durable ≡ ephemeral per round and in the final result.
  */
object Durable {

  def materialize(df: DataFrame, checkpointDir: Option[String], tag: String): DataFrame =
    checkpointDir match {
      case None => df.localCheckpoint()
      case Some(d) =>
        val path = s"$d/$tag"
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
    }

  /** [[materialize]] with aggregate metrics riding the materialization
    * action itself (`Dataset.observe` — a CollectMetrics node above the
    * plan): iterative operators read their per-round fixpoint stamps
    * (counts, sums) from the SAME job that cuts the round's lineage,
    * instead of paying a second scan-and-aggregate action per round.
    * Returns the materialized frame plus the metrics map. A
    * provably-empty round is optimizer-eliminated together with its
    * CollectMetrics node (PropagateEmptyRelation) — the map is then
    * EMPTY; callers default absent keys to their empty-aggregate value.
    */
  def materializeObserved(
      df: DataFrame, checkpointDir: Option[String], tag: String,
      metrics: Seq[org.apache.spark.sql.Column]
  ): (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val out = materialize(
      df.observe(obs, metrics.head, metrics.tail: _*), checkpointDir, tag)
    (out, obs.get)
  }

  /** [[materialize]] with one [[RowCount]] riding the materialization
    * job: the materialized frame and its row count.
    */
  def materializeCounted(df: DataFrame, checkpointDir: Option[String] = None,
      tag: String = ""): (DataFrame, Long) = {
    val c = new RowCount
    val out = materialize(c.on(df), checkpointDir, tag)
    (out, c.n)
  }

  /** A row count that rides the job which materializes the frame it is
    * attached to (`Dataset.observe` — one CollectMetrics node) instead
    * of paying a separate count action: `on` attaches it, `n` reads it
    * once that job has run. A provably-empty plan is optimizer-eliminated
    * together with its node (PropagateEmptyRelation), so an absent
    * metric reads as 0.
    */
  final class RowCount {
    private val obs = org.apache.spark.sql.Observation()
    def on(df: DataFrame): DataFrame = df.observe(obs, count(lit(1)).as("n"))
    def n: Long = metric(obs.get, "n")
  }

  /** One `Long` metric of an observation (absent — an eliminated
    * empty plan — reads as 0).
    */
  def metric(m: Map[String, Any], key: String): Long =
    m.get(key).map(_.asInstanceOf[Long]).getOrElse(0L)
}
