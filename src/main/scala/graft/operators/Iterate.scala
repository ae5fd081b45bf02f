package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared plumbing for iterative DataFrame loops
  * ([[Dedup.connectedComponents]], [[Graph.pageRankInt]],
  * [[Graph.hitsInt]], g6_kcore).
  */
private[graft] object Iterate {

  /** Confs an iterative loop pins for its duration through
    * [[graft.engine.Engine.withConfs]], at every scale:
    *  - AQE off: its stage-at-a-time scheduling turns every exchange of
    *    every round into its own scheduler job, and the loop's exchanges
    *    are already pinned, so its re-planning has nothing to do;
    *  - shuffle partitions `np`, sized to the graph, so the per-round
    *    exchanges stay co-located with the loop's cached partitioning;
    *  - broadcasts off: each BroadcastExchange build is its own driver
    *    job every round, and broadcasting a per-node table is exactly
    *    what a 100 TB run must not do.
    */
  def loopConfs(np: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> np.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The localCheckpoint'ed frame's underlying RDD. Dataset.unpersist()
    * does NOT free checkpoint blocks (they are plain persisted RDDs, not
    * CacheManager entries) — iterative loops must release each round's
    * blocks eagerly via this handle, or executors hold every round's
    * table until GC-driven cleanup.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
