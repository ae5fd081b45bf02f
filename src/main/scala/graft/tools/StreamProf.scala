package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-tier cost attribution (VERDICT r9 task 3): run one or more
  * graded streaming queries end-to-end, capture every micro-batch's
  * QueryProgressEvent, and print the per-phase durations (addBatch,
  * walCommit, state commit, trigger latency) plus the wall-clock split
  * around the stream (setup vs stream vs readback). Dev tool, not a
  * graded surface.
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("stream_session_state")
    val reps = if (args.length > 2) args(2).toInt else 2
    // the session's memo-off default is this tool's whole purpose: a memo
    // hit on rep 2+ would measure parquet readback, not the stream
    val spark = graft.engine.Engine.session(sfDir)

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json): Unit
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    graft.engine.Engine.persistTables(spark, sfDir)
    names.foreach { name =>
      for (r <- 1 to reps) {
        progress.clear()
        val t0 = System.nanoTime()
        val df = graft.Queries.byName(name).fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"=== $name rep $r: fn(incl stream)=${(t1 - t0) / 1e9}%.3f s, readback+noop=${(t2 - t1) / 1e9}%.3f s")
        // compact per-batch phase attribution pulled out of the progress
        // JSON: durationMs.* are the micro-batch phases; stateOperators'
        // commitTimeMs is the per-batch state-store commit total
        progress.forEach { j =>
          def grab(field: String): String = {
            val m = ("\"" + field + "\"\\s*:\\s*(\\d+)").r
            m.findAllMatchIn(j).map(_.group(1)).mkString("+")
          }
          val fields = Seq("triggerExecution", "latestOffset", "getBatch",
            "queryPlanning", "walCommit", "commitOffsets", "addBatch",
            "commitTimeMs", "numRowsTotal")
          println("  BATCH " + fields.map(f => s"$f=${grab(f)}").mkString(" "))
        }
      }
    }
    spark.stop()
  }
}
