package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev utility: time named inventory queries under BENCH conditions
  * (noop sink, fixture floor confs, shared table cache, best of N) and
  * print per-query scheduler counters — jobs / stages / tasks. The local
  * scheduling floor is ~0.15-0.25 s per job and stages gate serially
  * inside a job, so a slow-but-few-task query usually needs fewer
  * stages/jobs (cache reused frames, avoid re-planned subtrees), not
  * more parallelism.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <q1,q2|all> [n]
  * SPARK_EXTRA_CONF="k=v;k=v" overrides confs for A/B runs (keys passed
  * are exempted from the floor-conf auto-set, mirroring Bench).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val n = if (args.length > 2) args(2).toInt else 2
    val extra = graft.engine.Engine.harnessExtraConfs("timeq")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // whole-stage-codegen class cache sized for a multi-query session
      // (round 11, VERDICT r10 task 2): the default 100-entry LRU is
      // evicted by any plan-heavy query, so in a 365-query session every
      // query re-Janino-compiles all its generated stages on every pass
      // (~1s on the hot whole-frame-window queries — the whole measured
      // "bench-context inflation"; tools/AltProbe bisected it, and
      // 10000 entries restored isolated-best times with other queries
      // interleaved). JVM-static: must be set at builder time.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    val extraKeys = extra.map(_._1).toSet
    graft.engine.Engine.fixtureFloorConfs(spark, sfDir, extraKeys)
    // mirror Bench (round 11): graded/bench conditions measure REAL
    // streaming execution, not a memoized-sink readback on rep 2+
    if (!extraKeys.contains("spark.graft.streamResultMemo"))
      spark.conf.set("spark.graft.streamResultMemo", "false")
    spark.sparkContext.setLogLevel("ERROR")

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

    graft.engine.Engine.persistTables(spark, sfDir)
    graft.operators.Graph.warmDerived(spark, sfDir)
    names.foreach { name =>
      val runs = (1 to n).map { _ =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        jobs.set(0); stages.set(0); tasks.set(0L)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async (the bus is private[spark]); a short
        // settle keeps the counters honest for a dev tool
        Thread.sleep(120)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
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
