package graft.tools

import org.apache.spark.sql.functions._

/** A/B harness for the graded skew join (j27_skew_salted): times the
  * SALTED plan against its plain-join twin on the same Zipf-skewed key,
  * same session, interleaved best-of-N — the measurement behind the
  * A/B note in the query's doc. Not part of the shipped library.
  *
  * Usage: runMain graft.tools.SkewAB <sfDir> [reps=3]
  *
  * Reading the result: at local[32]/sf0.1 the hottest key (~50 k rows)
  * still fits one task comfortably, so salted ≈ plain is the EXPECTED
  * outcome — the probe exists to show the salt insurance costs nothing
  * at fixture scale (the 16× replication of a 100-row dim is noise).
  * The win case is a cluster where one key's rows exceed a partition
  * budget; that cannot be reproduced under local[32] fixtures.
  */
object SkewAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.engine.Engine.session(sfDir)

    def fact = graft.engine.Engine.table(spark, sfDir, "events")
      .select(col("event_id"),
        floor(lit(100.0) / (col("user_id") % 100 + 1)).as("zkey"),
        round(col("value") * 100).cast("long").as("cents"))
    def dim = graft.engine.Engine.table(spark, sfDir, "supplier")
      .groupBy((col("s_suppkey") % 100).as("zkey"))
      .agg(min("s_name").as("label"))

    def salted() = graft.engine.Scale
      .saltedJoin(fact, dim, "zkey", col("event_id"), 16, "left")
      .groupBy("zkey", "label")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    def plain() = fact.join(dim, Seq("zkey"), "left")
      .groupBy("zkey", "label")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))

    def time(mk: () => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both shapes once (codegen + scan caches), then interleave
    time(salted); time(plain)
    val (sBest, pBest) = (1 to reps).foldLeft((Double.MaxValue, Double.MaxValue)) {
      case ((sb, pb), _) => (math.min(sb, time(salted)), math.min(pb, time(plain)))
    }
    println(f"[skew-ab] salted best $sBest%.3f s | plain best $pBest%.3f s " +
      f"| ratio ${sBest / pBest}%.2f (reps=$reps, sf=$sfDir)")
    spark.stop()
  }
}
