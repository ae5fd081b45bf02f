package graft.tools

import graft.engine.Engine

/** Generic paired within-JVM A/B over a session conf (round 11). Host
  * wall-clock drifts ±25% between JVMs (SURVEY §8 probe data), so any
  * lever worth <30% must be judged by alternating the two settings of
  * one conf inside ONE session and comparing per-iteration pairs.
  *
  * Usage: runMain graft.tools.PairProbe <sfDir> <q1,q2,...> \
  *          <confKey=valA|valB> [iters=6]
  * The stream result memo is always off — repeats must re-execute.
  * Dev tool, not a graded surface.
  */
object PairProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val Array(confKey, vals) = args(2).split("=", 2)
    val Array(valA, valB) = vals.split("\\|", 2)
    val iters = if (args.length > 3) args(3).toInt else 6
    val spark = Engine.session(sfDir)

    def run(name: String): Double = Engine.releasing(spark) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    Engine.persistTables(spark, sfDir)
    names.foreach(run) // warm the code paths once (JIT, codegen cache)

    // per query, per iteration: (timeA, timeB) pairs
    val pairs = names.map(_ -> collection.mutable.Buffer
      .empty[(Double, Double)]).toMap
    for (i <- 1 to iters) {
      // alternate which value goes first so slow-host ramps cancel
      val order = if (i % 2 == 1) Seq(valA, valB) else Seq(valB, valA)
      val got = collection.mutable.Map.empty[(String, String), Double]
      order.foreach { v =>
        spark.conf.set(confKey, v)
        names.foreach(q => got((q, v)) = run(q))
      }
      names.foreach { q =>
        pairs(q) += ((got((q, valA)), got((q, valB))))
        System.err.println(f"[pair] iter $i $q%-28s " +
          f"A($valA)=${got((q, valA))}%.3f B($valB)=${got((q, valB))}%.3f")
      }
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    var sumA = 0.0; var sumB = 0.0
    names.foreach { q =>
      val ps = pairs(q).toSeq
      val mA = med(ps.map(_._1)); val mB = med(ps.map(_._2))
      val dm = med(ps.map(p => p._1 - p._2))
      sumA += mA; sumB += mB
      System.err.println(f"[pair] MED $q%-28s A=$mA%.3f B=$mB%.3f " +
        f"pairedDelta(A-B)=$dm%+.3f")
    }
    System.err.println(f"[pair] TOTAL medians A=$sumA%.3f B=$sumB%.3f " +
      f"($confKey: A=$valA B=$valB)")
    spark.stop()
  }
}
