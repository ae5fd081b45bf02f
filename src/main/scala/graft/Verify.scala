package graft
import graft.engine.Engine
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
    // SPARK_EXTRA_CONF="spark.graft.floorScope=false" (see Engine.session)
    // reruns the inventory under production AQE/partitioning, the
    // floor-off correctness A/B
    val spark = Engine.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // shared one-scan-per-table cache pays off across the full inventory;
    // filtered dev runs skip it
    if (only.isEmpty) {
      Engine.persistTables(spark, sfDir)
      // warm shared derived frames before the first per-query block
      // snapshot so the leak cleanup below never frees them mid-run
      graft.operators.Graph.warmDerived(spark, sfDir)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try Engine.releasing(spark)(fn(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name"))
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
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
