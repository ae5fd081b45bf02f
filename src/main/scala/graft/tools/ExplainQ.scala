package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.engine.{Ck, Engine}

/** Dev utility: print a graded query's executed plan under bench-like
  * confs (floor scope off so the query's own shape shows, AQE off so
  * exchanges are visible statically).
  *
  * Usage: runMain graft.tools.ExplainQ <sfDir> <q1,q2,...> [outDir suffix]
  *
  * With the optional `outDir suffix` pair, additionally writes each
  * query's `.explain("formatted")` text to `<outDir>/<name>_<suffix>.txt`
  * — the per-round plan-evidence artifact (plans/r{N}/<q>_before|after).
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val outDir = if (args.length > 3) Some((args(2), args(3))) else None
    val spark = Engine.session(sfDir,
      "spark.graft.floorScope" -> "false", "spark.sql.adaptive.enabled" -> "false",
      // full lineage in the explain output: checkpoints otherwise truncate
      // every ckpt-bearing query's plan to a LogicalRDD stub (see Ck.cp)
      Ck.BypassKey -> "true")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = graft.Queries.byName(n).fn(spark, sfDir)
      println(df.queryExecution.executedPlan.toString)
      outDir.foreach { case (dir, suffix) =>
        val formatted =
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val p = java.nio.file.Paths.get(dir, s"${n}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, formatted.getBytes(
          java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    spark.stop()
  }
}
