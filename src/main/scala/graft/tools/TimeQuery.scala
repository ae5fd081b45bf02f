package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.engine.Engine

/** Dev utility: time named inventory queries under BENCH conditions
  * (noop sink, fixture floor confs, shared table cache, best of N) and
  * print per-query scheduler counters — jobs / stages / tasks. The local
  * scheduling floor is ~0.15-0.25 s per job and stages gate serially
  * inside a job, so a slow-but-few-task query usually needs fewer
  * stages/jobs (cache reused frames, avoid re-planned subtrees), not
  * more parallelism.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <q1,q2|all> [n]
  * SPARK_EXTRA_CONF="k=v;k=v" overrides confs for A/B runs (see
  * Engine.session).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val n = if (args.length > 2) args(2).toInt else 2
    val spark = Engine.session(sfDir)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks): Unit
      }
    })

    Engine.persistTables(spark, sfDir)
    graft.operators.Graph.warmDerived(spark, sfDir)
    names.foreach { name =>
      val runs = (1 to n).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0L)
        val dt = Engine.releasing(spark) {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // counters are zeroed per run: an event still queued would count
        // against the next run
        Engine.drainListeners(spark)
        (dt, jobs.get(), stages.get(), tasks.get())
      }
      val best = runs.minBy(_._1)
      println(f"[time] $name%-28s best ${best._1}%.2fs  " +
        f"jobs ${best._2}%3d  stages ${best._3}%3d  tasks ${best._4}%5d  " +
        s"runs ${runs.map(r => f"${r._1}%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
