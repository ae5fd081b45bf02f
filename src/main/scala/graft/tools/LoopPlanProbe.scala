package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: reconstruct ONE pageRankInt round (the graded g1 shape,
  * minus the checkpoint that truncates lineage in the committed plans)
  * and print its formatted physical plan, so join strategy / sort
  * placement per round is inspectable. Usage: runMain ... <sfDir>
  */
object LoopPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.engine.Engine.session(sfDir)
    graft.engine.Engine.persistTables(spark, sfDir)
    graft.operators.Graph.warmDerived(spark, sfDir)
    import org.apache.spark.sql.expressions.Window
    val np = 4
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", np.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fwd = graft.operators.Graph.tradeEdges(spark, sfDir)
      .select(col("c").as("src"), (col("s") + 1000000).as("dst"))
    val edgesIn = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val e1 = edgesIn.repartition(np, col("src"))
    val edges = e1
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .cache()
    val nodes = edges.select(col("src").as("node")).distinct().cache()
    val ranks = nodes.select(col("node"), lit(1000000L).as("rank"))
    val contribs = edges
      .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
        Seq("src"), "left")
      .select(col("dst"), expr(s"coalesce(rank, 150000) div deg").as("contrib"))
    val next = contribs.repartition(np, col("dst"))
      .groupBy("dst").agg(sum("contrib").as("incoming"))
      .select(col("dst").as("node"),
        expr(s"150000 + (850 * incoming) div 1000").as("rank"))
    println("=== ROUND PLAN ===")
    println(next.queryExecution.executedPlan.toString.take(8000))
    spark.stop()
  }
}
