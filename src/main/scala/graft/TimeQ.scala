package graft

import org.apache.spark.sql.SparkSession

/** Dev-only single-query timer: `runMain graft.TimeQ <sfDir> q1,q2,...`
  * mirrors Bench.run's methodology (noop sink, persistTables warm cache,
  * leaked-checkpoint cleanup, best-of-2) for one or a few queries, so a
  * perf fix can be measured in isolation without a full inventory pass.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    // dev knob: SPARK_EXTRA_CONF="k=v;k=v" for conf experiments
    val extra = graft.engine.Engine.harnessExtraConfs("timeq")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder()
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
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fixture-scale scheduling-floor confs, gated like Bench/Verify;
    // SPARK_EXTRA_CONF keys win for A/B runs
    graft.engine.Engine.fixtureFloorConfs(spark, sfDir, extra.map(_._1).toSet)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
      }
    })
    def run(name: String): (Double, Int, Int, Int) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (j0, s0, k0) = (jobs, stages, tasks)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener counters update asynchronously on the bus — drain it so
      // this query's jobs/stages/tasks don't bleed into the next snapshot
      // (listenerBus is private[spark]; reflection is fine in a dev tool)
      for {
        m <- spark.sparkContext.getClass.getMethods.find(_.getName == "listenerBus")
        bus = m.invoke(spark.sparkContext)
        w <- bus.getClass.getMethods
          .find(x => x.getName == "waitUntilEmpty" && x.getParameterCount == 0)
      } w.invoke(bus)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
      (dt, jobs - j0, stages - s0, tasks - k0)
    }

    graft.engine.Engine.persistTables(spark, sfDir)
    graft.operators.Graph.warmDerived(spark, sfDir)
    names.foreach(run) // warm-up pass
    val t = names.map(n => n -> run(n))
    t.foreach { case (n, (s, j, st, tk)) =>
      println(f"[timeq] $n%-28s $s%.3f s  jobs=$j%3d stages=$st%4d tasks=$tk%5d") }
    spark.stop()
  }
}
