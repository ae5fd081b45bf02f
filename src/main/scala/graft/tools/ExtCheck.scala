package graft.tools

/** Dev utility: run named inventory queries in a session with
  * GraftExtensions INSTALLED (FuseArrayDot active), to prove the engine's
  * own queries survive the optimizer rule — esp. derived-key self-joins
  * above fused dot products. Usage: runMain graft.tools.ExtCheck <sfDir> <q1,q2>
  */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = graft.engine.Engine.session(sfDir,
      "spark.sql.extensions" -> "graft.plans.GraftExtensions")
    names.foreach { name =>
      try {
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(s"[extcheck] $name OK rows=$n")
      } catch {
        case e: Throwable =>
          println(s"[extcheck] $name FAILED ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}")
      }
    }
    spark.stop()
  }
}
