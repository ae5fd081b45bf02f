package graft.tools

/** Dev utility: split a graded query's wall into driver-side phases —
  * DataFrame construction (fn), analysis, optimization, physical
  * planning + codegen prep (executedPlan) — vs execution (noop sink).
  * Reps expose what is one-off JIT vs paid-per-invocation: the bench
  * re-invokes fn per pass, so per-invocation planning cost is real
  * graded time.
  *
  * Usage: runMain graft.tools.PlanTime <sfDir> <q1,q2,...> [reps]
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.engine.Engine.session(sfDir)
    graft.engine.Engine.persistTables(spark, sfDir)

    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

    names.foreach { name =>
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val df = graft.Queries.byName(name).fn(spark, sfDir)
        val tFn = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.assertAnalyzed()
        val tAn = ms(t1)
        val t2 = System.nanoTime()
        df.queryExecution.optimizedPlan
        val tOpt = ms(t2)
        val t3 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPhys = ms(t3)
        val t4 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = ms(t4)
        println(f"[plantime] $name%-28s rep $rep fn ${tFn}%4d ms " +
          f"analyze ${tAn}%4d ms optimize ${tOpt}%4d ms physical " +
          f"${tPhys}%4d ms exec ${tExec}%5d ms")
      }
    }
    spark.stop()
  }
}
