package perfbench

import java.nio.file.Path

/** Per-layer numbers of a traced run: each is the median over the traced
  * measured passes (`traced`: pass id, wall, codegen ms) of its per-pass
  * total, except the set-up figures and the first-pass codegen figures. */
final class Layers(r: Run, t: Trace, traced: Seq[(Int, Double, Double)]) {

  private val spans = t.spans()
  private val byId = spans.map(s => s.id -> s).toMap
  private val stageRec = t.stages.map(s => s.id -> s).toMap
  private val passes = traced.map(_._1)

  private def med(f: Int => Double): Double = Stats.median(passes.map(f))

  private def inPass(p: Int) = spans.filter(_.pass == p)
  private def total(p: Int, layer: String): Double =
    inPass(p).filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum
  private def stagesOf(p: Int) =
    inPass(p).filter(_.layer == "spark.stage").flatMap(s => stageRec.get((s.id - (1L << 50)).toInt))
  private def jobsOf(p: Int) = inPass(p).filter(_.layer == "spark.job")
  private def at(p: Int, ts: Long) = t.passAt(ts) == p
  private def mb(b: Double) = b / 1048576.0

  def metrics(setup: Map[String, Double], codegenFirst: (Double, Double),
              firstCallP50: Double, overhead: Double): Seq[(String, Double, String)] = {
    def stageSum(f: t.StageRec => Double)(p: Int) = stagesOf(p).map(f).sum
    val wall = traced.map(x => x._1 -> x._2).toMap
    val cgWarm = traced.map(x => x._1 -> x._3).toMap
    Seq(
      ("engine.session_s", setup("engine.session_s"), "s"),
      ("engine.persist_tables_s", setup("engine.persist_tables_s"), "s"),
      ("operators.warm_derived_s", setup("operators.warm_derived_s"), "s"),
      ("engine.cache_mb", setup("engine.cache_mb"), "MB"),
      ("queries.first_call_p50_s", firstCallP50, "s"),
      ("queries.construct_s", med(total(_, "construct")), "s"),
      ("queries.construct_jobs", med(p => jobsOf(p).count(j => byId.get(j.parent).exists(_.layer == "construct")).toDouble), "count"),
      ("queries.execute_s", med(total(_, "execute")), "s"),
      ("spark.plan.analysis_ms", med(p => t.plans.filter(x => at(p, x.at)).map(_.analysisMs).sum.toDouble), "ms"),
      ("spark.plan.optimization_ms", med(p => t.plans.filter(x => at(p, x.at)).map(_.optimizationMs).sum.toDouble), "ms"),
      ("spark.plan.planning_ms", med(p => t.plans.filter(x => at(p, x.at)).map(_.planningMs).sum.toDouble), "ms"),
      ("spark.codegen.compile_ms", codegenFirst._1, "ms"),
      ("spark.codegen.classes", codegenFirst._2, "count"),
      ("spark.codegen.warm_compile_ms", med(cgWarm), "ms"),
      ("spark.sched.jobs", med(jobsOf(_).size.toDouble), "count"),
      ("spark.sched.stages", med(stagesOf(_).size.toDouble), "count"),
      ("spark.sched.tasks", med(stageSum(_.tasks.toDouble)), "count"),
      ("spark.sched.delay_ms", med(stageSum(s => t.schedDelay(s.id).toDouble)), "ms"),
      ("spark.exec.run_ms", med(stageSum(_.runMs.toDouble)), "ms"),
      ("spark.exec.cpu_ms", med(stageSum(_.cpuMs)), "ms"),
      ("spark.exec.gc_ms", med(stageSum(_.gcMs.toDouble)), "ms"),
      ("spark.exec.busy_frac", med(p => stageSum(_.runMs.toDouble)(p) / (wall(p) * 1000.0 * r.cores)), "frac"),
      ("spark.exec.task_failures", med(stageSum(s => t.failures(s.id).toDouble)), "count"),
      ("spark.shuffle.write_mb", med(p => mb(stageSum(_.shuffleWrite.toDouble)(p))), "MB"),
      ("spark.shuffle.read_mb", med(p => mb(stageSum(_.shuffleRead.toDouble)(p))), "MB"),
      ("spark.shuffle.spill_mb", med(p => mb(stageSum(_.spill.toDouble)(p))), "MB"),
      ("spark.scan.input_mb", med(p => mb(stageSum(_.input.toDouble)(p))), "MB"),
      ("pipeline.run_s", med(total(_, "pipeline.run")), "s"),
      ("pipeline.write_s", med(total(_, "pipeline.write")), "s"),
      ("sources.csv_sink_s", med(total(_, "sources.csv_sink")), "s"),
      ("sources.parquet_sink_s", med(total(_, "sources.parquet_sink")), "s"),
      ("sources.output_mb", med(p => r.notes.getOrElse((p, "sources.output_mb"), 0.0)), "MB"),
      ("sources.lake_write_s", med(total(_, "sources.lake_write")), "s"),
      ("sources.lake_compact_s", med(total(_, "sources.lake_compact")), "s"),
      ("sources.lake_merge_s", med(total(_, "sources.lake_merge")), "s"),
      ("sources.lake_delete_s", med(total(_, "sources.lake_delete")), "s"),
      ("sources.lake_read_s", med(total(_, "sources.lake_read")), "s"),
      ("sources.lake_files_read_frac", med(p => r.notes.getOrElse((p, "sources.lake_files_read_frac"), 0.0)), "frac"),
      ("streaming.batches", med(p => t.streams.count(x => at(p, x.at)).toDouble), "count"),
      ("streaming.trigger_ms", med(p => t.streams.filter(x => at(p, x.at)).map(_.triggerMs).sum.toDouble), "ms"),
      ("streaming.commit_ms", med(p => t.streams.filter(x => at(p, x.at)).map(_.commitMs).sum.toDouble), "ms"),
      ("streaming.state_rows", med(p => t.streams.filter(x => at(p, x.at)).map(_.stateRows).sum.toDouble), "count"),
      ("trace.overhead_ratio", overhead, "ratio"))
  }

  /** Writes the span file and the per-layer self-time table; prints the table. */
  def writeArtifacts(dir: Path, stem: String): Unit = {
    Util.write(dir.resolve(s"$stem.spans.jsonl"), spans.map(Trace.spanJson).mkString("", "\n", "\n"))
    val warm = spans.filter(s => passes.contains(s.pass))
    val self = Trace.selfTimes(warm).toSeq.sortBy(-_._2)
    val n = math.max(1, passes.size)
    val rows = self.map { case (layer, s) => f"$layer%-24s ${s / n}%10.4f" }
    val table = (f"${"layer"}%-24s ${"self_s/pass"}%10s" +: rows).mkString("\n")
    Util.write(dir.resolve(s"$stem.selftime.txt"), table + "\n")
    println(s"[perfbench] per-layer self time over ${passes.size} traced measured passes " +
      s"(span file ${dir.resolve(s"$stem.spans.jsonl")}):")
    table.split("\n").foreach(l => println(s"[perfbench]   $l"))
  }
}
