package graft.tools

import org.apache.spark.sql.functions._

/** Growth-rate evidence for the events/graph tier: the iterative graph
  * operators (pagerank, HITS, k-core, label propagation) are
  * floor-proven at fixture scale — wall time ≈ stages × scheduling
  * floor, not compute. The scale-honesty claim behind accepting that
  * floor is that the per-round plans grow LINEARLY in edges; this probe
  * runs the shipped graded plans over 1×/4×/8× scaled events (user and
  * event ids offset per copy — the graph grows as new disjoint
  * user-domains at constant per-domain density) and prints the curve.
  * Near-flat wall at 8× edges = the rounds really are floor-bound and
  * the compute underneath scales; a superlinear bend = a hidden
  * all-pairs or a whole-graph serialization. Dev tool, not graded.
  *
  * Usage: runMain graft.tools.GraphScaleProbe [mults=1,4,8] [q1,...]
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = (if (args.nonEmpty) args(0) else "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val names = (if (args.length > 1) args(1)
      else "g1_pagerank,g7_hits,g6_kcore,g8_label_prop,a7_window_hourly")
      .split(",").toSeq
    val base = "/root/testdata/sf0.1"
    val spark = graft.engine.Engine.session(base)

    def scaledDir(mult: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ev_scale_${mult}x_").toString
      val ev = graft.engine.Engine.table(spark, base, "events")
      val nU = ev.agg(max("user_id")).collect()(0).getLong(0) + 1
      val nE = ev.agg(max("event_id")).collect()(0).getLong(0) + 1
      (0 until mult).map { c =>
        ev.select(
          (col("event_id") + lit(c * nE)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(c * nU)).as("user_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // small static tables some queries join
      Seq("customer", "region", "supplier", "nation", "orders", "lineitem", "part", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      dir
    }

    def time(name: String, d: String): Double = {
      val fn = graft.Queries.byName(name).fn
      graft.engine.Engine.releasing(spark) {
        val t0 = System.nanoTime()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    val dirs = mults.map(m => m -> scaledDir(m)).toMap
    println(f"[graph-scale] ${"query"}%-22s " +
      mults.map(m => f"${m}%2dx").mkString("   "))
    names.foreach { q =>
      val times = mults.map { m =>
        val d = dirs(m)
        time(q, d) // warm
        math.min(time(q, d), time(q, d))
      }
      println(f"[graph-scale] $q%-22s " +
        times.map(t => f"$t%6.2f").mkString(" "))
    }
    spark.stop()
  }
}
