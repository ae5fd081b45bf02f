package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long, pass: Int)

/** Spans and Spark events of a traced run, kept in memory.
  *
  * The benchmark's own code opens spans (op -> construct / execute, op ->
  * Pipeline.run / write, op -> ZoneMap verb) and tags the Spark jobs each
  * one starts with `setJobGroup(<span id>)`. The listeners record jobs,
  * stages, Catalyst phase times and streaming progress; [[spans]] then
  * hangs every job under the span whose group it carries (or, for jobs
  * started on threads without the group, the innermost span open at the
  * job's start), and every stage under its job.
  */
final class Trace(spark: SparkSession) {

  private val sc: SparkContext = spark.sparkContext
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowEpochNs(): Long = System.nanoTime() + epochOffset

  private val benchSpans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var pass = 0
  def setPass(p: Int): Unit = pass = p

  final case class JobRec(id: Int, group: Option[String], start: Long, var end: Long)
  final case class StageRec(id: Int, job: Int, start: Long, end: Long, tasks: Int,
                            runMs: Long, cpuMs: Double, gcMs: Long, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, input: Long)
  final case class PlanRec(at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class StreamRec(at: Long, triggerMs: Long, commitMs: Long, stateRows: Long)

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val streams = mutable.ArrayBuffer.empty[StreamRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val schedDelayMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val taskFailures = mutable.Map.empty[Int, Int].withDefaultValue(0)
  @volatile private var lastEventNs = System.nanoTime()

  private def ms(epochMs: Long): Long = epochMs * 1000000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.GroupKey)))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs += JobRec(e.jobId, g, ms(e.time), ms(e.time))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = ms(e.time))
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime
        schedDelayMs(e.stageId) += math.max(0L, delay)
      }
      if (!i.successful) taskFailures(e.stageId) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages += StageRec(s.stageId, stageJob.getOrElse(s.stageId, -1),
        ms(s.submissionTime.getOrElse(0L)), ms(s.completionTime.getOrElse(0L)), s.numTasks,
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      lastEventNs = System.nanoTime()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("analysis").map(p => ms(p.startTimeMs)).getOrElse(nowEpochNs())
      Trace.this.synchronized { plans += PlanRec(at, d("analysis"), d("optimization"), d("planning")) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val at = ms(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      Trace.this.synchronized {
        streams += StreamRec(at, d("triggerExecution"), d("commitOffsets") + d("walCommit"), state)
      }
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** wait until the listener bus has been quiet for a moment */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def compileNs(): Long = CodeGenerator.compileTime
  def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` as a child span of the innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(Trace.GroupKey)
    val prevDesc = sc.getLocalProperty(Trace.DescKey)
    sc.setJobGroup(id.toString, s"$layer:$name", interruptOnCancel = false)
    stack = id :: stack
    val t0 = nowEpochNs()
    try body
    finally {
      val t1 = nowEpochNs()
      stack = stack.tail
      this.synchronized { benchSpans += Span(id, parent, layer, name, t0, t1, pass) }
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** All spans: the benchmark's own, then jobs and stages under them. */
  def spans(): Seq[Span] = this.synchronized {
    val own = benchSpans.toSeq
    val byId = own.map(s => s.id -> s).toMap
    def innermostAt(t: Long): Option[Span] =
      own.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption
    val jobIdBase = 1L << 40
    val stageIdBase = 1L << 50
    val jobSpans = jobs.toSeq.flatMap { j =>
      val owner = j.group.flatMap(g => scala.util.Try(g.toLong).toOption).flatMap(byId.get)
        .orElse(innermostAt(j.start))
      owner.map(o => Span(jobIdBase + j.id, o.id, "spark.job", s"job ${j.id}", j.start,
        math.max(j.start, j.end), o.pass))
    }
    val jobById = jobSpans.map(s => (s.id - jobIdBase).toInt -> s).toMap
    val stageSpans = stages.toSeq.flatMap { st =>
      jobById.get(st.job).map(j => Span(stageIdBase + st.id, j.id, "spark.stage",
        s"stage ${st.id}", st.start, math.max(st.start, st.end), j.pass))
    }
    own ++ jobSpans ++ stageSpans
  }

  /** pass of the innermost bench span open at `t`, or -1 */
  def passAt(t: Long): Int = this.synchronized {
    benchSpans.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start)
      .headOption.map(_.pass).getOrElse(-1)
  }

  def schedDelay(stage: Int): Long = this.synchronized(schedDelayMs(stage))
  def failures(stage: Int): Int = this.synchronized(taskFailures(stage))
}

object Trace {

  /** the local properties `setJobGroup` writes */
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"

  /** Self time per layer: span duration minus the union of its direct
    * children's intervals, summed per layer. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curS = 0L; var curE = -1L
        ivs.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Util.jstr(s.layer)},""" +
      s""""name":${Util.jstr(s.name)},"start_ns":${s.start},"end_ns":${s.end},"pass":${s.pass}}"""
}
