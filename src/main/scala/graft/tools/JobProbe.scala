package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.engine.Engine

/** Prints every Spark job a graded query triggers (description + stage
  * count) — the attribution step behind job-floor work: at ~0.2 s local
  * scheduling floor per job, knowing WHICH jobs a streaming query pays
  * is the difference between cutting scaffold and guessing. Dev tool.
  *
  * Usage: runMain graft.tools.JobProbe <sfDir> <q1,q2,...>
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Engine.session(sfDir)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.add(s"job ${j.jobId} stages=${j.stageInfos.size} :: " +
          desc.take(120).replaceAll("\n", " "))
      }
    })
    names.foreach { n =>
      // warm pass, then the attributed pass
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      jobs.clear()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Engine.drainListeners(spark)
      println(s"=== $n")
      jobs.forEach(j => println("  " + j))
    }
    spark.stop()
  }
}
