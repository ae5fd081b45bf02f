package graft.tools

/** Dev utility: per-query exchange census — hash/range/broadcast counts
  * in the executed plan, the numbers every "N shuffles" doc claim in the
  * inventory should be checked against.
  * Usage: runMain graft.tools.PlanAudit <sfDir> <q1,q2|all>
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args.length < 2 || args(1) == "all") graft.Queries.all.map(_.name)
      else args(1).split(",").toSeq
    val spark = graft.engine.Engine.session(sfDir)
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // EXECUTE first: an unexecuted AQE plan prints the initial plan
        // (isFinalPlan=false) — runtime re-planning (exchange reuse,
        // SMJ→broadcast conversion) only shows after an action
        df.foreach(_ => ())
        val plan = df.queryExecution.executedPlan.toString
        // count NODE LINES, not substrings: a ReusedExchange line embeds
        // its child exchange's string, which a substring count would
        // double-count as a real shuffle
        val nodes = plan.linesIterator
          .map(_.dropWhile(c => !c.isLetter)).toSeq
        def n(prefix: String) = nodes.count(_.startsWith(prefix))
        println(f"[plan] $name%-28s " +
          f"hash=${n("Exchange hashpartitioning")} " +
          f"range=${n("Exchange rangepartitioning")} " +
          f"single=${n("Exchange SinglePartition")} " +
          f"broadcast=${n("BroadcastExchange")} " +
          f"reused=${n("ReusedExchange")} " +
          f"sortmerge=${n("SortMergeJoin")}")
      } catch {
        case e: Throwable =>
          println(s"[plan] $name FAILED ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ")}")
      }
    }
    spark.stop()
  }
}
