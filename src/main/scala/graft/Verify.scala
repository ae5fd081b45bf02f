package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local dev only;
    // the driver always invokes with exactly two args = run everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // A/B knob (mirrors Bench/TimeQ): SPARK_EXTRA_CONF="k=v;k=v" — makes
    // the floor-off correctness A/B first-class (e.g.
    // SPARK_EXTRA_CONF="spark.graft.floorScope=false" reruns the inventory
    // under production AQE/partitioning without forked-JVM javaOptions)
    val extra = graft.engine.Engine.harnessExtraConfs("verify")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
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
    spark.sparkContext.setLogLevel("WARN")
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    // fixture-scale scheduling-floor confs (size- and conf-gated; see
    // Engine.fixtureFloorConfs) — A/B overrides above take precedence
    graft.engine.Engine.fixtureFloorConfs(spark, sfDir, extra.map(_._1).toSet)
    new java.io.File(outDir).mkdirs()
    // shared one-scan-per-table cache pays off across the full inventory;
    // filtered dev runs skip it
    if (only.isEmpty) {
      graft.engine.Engine.persistTables(spark, sfDir)
      // warm shared derived frames before the first per-query block
      // snapshot so the leak cleanup below never frees them mid-run
      graft.operators.Graph.warmDerived(spark, sfDir)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        // release each query's leaked final-checkpoint blocks (see
        // Bench.run) so a full inventory dump doesn't accumulate them
        val before = spark.sparkContext.getPersistentRDDs.keySet
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
