package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.Pipeline
import graft.sources.{Sources, ZoneMap}

/** The write and ingest path, run cold: the reference DAG at the daily
  * and a backfill volume, and the lake verbs over `events`. Inputs are
  * input variant `variant` of [[Gen]]. */
final class Etl(r: Run, variant: Int) {

  private val spark: SparkSession = r.spark
  private val root: Path = r.o.work.resolve("etl").resolve(s"v$variant")
  private val inputs = root.resolve("inputs")
  private val outputs = root.resolve("outputs")

  /** rows per league file: the reference's daily ~7.6k rows over ten
    * files, and a backfill 10x that */
  private val volumes = Map("daily" -> 760, "backfill" -> 7600)

  private lazy val odds = Gen.oddsJson(variant, games = 60)
  private lazy val xgCur = Gen.xgStandings(spark, variant, 0)
  private lazy val xgLast = Gen.xgStandings(spark, variant, 1)
  private lazy val dims = Gen.dims(spark, variant)

  /** Writes the seeded league CSVs for both volumes. */
  def stageInputs(): Map[String, Double] = {
    val t0 = Util.now()
    Util.deleteTree(inputs)
    volumes.foreach { case (v, n) => Gen.leagueCsvs(inputs.resolve(v), variant, n) }
    Map("setup_s" -> Util.secs(t0, Util.now()))
  }

  private def csvFrames(volume: String): Seq[DataFrame] = {
    val ls = Files.list(inputs.resolve(volume))
    val files = try ls.toArray.map(_.asInstanceOf[Path]).sortBy(_.toString).toSeq finally ls.close()
    files.map { f =>
      val header = Files.newBufferedReader(f)
      val cols = try header.readLine().split(",").toSeq finally header.close()
      Sources.tolerantCsv(spark, f.toString,
        StructType(cols.map(c => StructField(c, StringType))))
    }
  }

  def pipelineOp(volume: String): Op = {
    val name = s"pipeline_$volume"
    val csvDir = outputs.resolve(s"$volume-csv").toString
    val pqDir = outputs.resolve(s"$volume-parquet").toString
    Op(name, () => r.span("op", name) {
      val out = r.span("pipeline.run", name)(Pipeline.run(spark,
        Pipeline.Inputs(csvFrames(volume), Some(odds), None, Some(xgCur), Some(xgLast), dims)))
      r.span("pipeline.write", name) {
        r.span("sources.csv_sink", name)(Pipeline.write(out, csvDir))
        r.span("sources.parquet_sink", name)(Pipeline.write(out, pqDir, parquet = true))
      }
      r.note("sources.output_mb",
        (Util.treeBytes(java.nio.file.Paths.get(csvDir)) +
          Util.treeBytes(java.nio.file.Paths.get(pqDir))) / 1048576.0)
    }, () => {
      def csv(f: String) = spark.read.option("header", "true").csv(s"$csvDir/$f")
      def pq(f: String) = spark.read.parquet(s"$pqDir/$f")
      val key = s"etl/v$variant/$name"
      Seq(s"$key/hist.csv" -> Fp.of(csv("HIST_matches.csv")),
        s"$key/upcoming.csv" -> Fp.of(csv("UPCOMING_fixtures.csv")),
        s"$key/hist.parquet" -> Fp.of(pq("HIST_matches")),
        s"$key/upcoming.parquet" -> Fp.of(pq("UPCOMING_fixtures")))
    })
  }

  private def events = graft.engine.Engine.table(spark, r.d, "events")
  private def micros(ts: String) = java.sql.Timestamp.valueOf(ts).getTime * 1000L
  private val (lo, hi) = (micros("2024-01-08 00:00:00"), micros("2024-01-18 00:00:00"))
  private def inRange(df: DataFrame) =
    df.filter(unix_micros(col("ts")) >= lo && unix_micros(col("ts")) < hi)

  /** The lake verbs as one ordered cycle over a fresh layout. Cycle `n`
    * > 1 repeats the cycle on a layout of its own (op names `lake_<verb>.n`);
    * only cycle 1 is checked and reports the files-read fraction. */
  def lakeOps(cycle: Int = 1): Seq[Op] = {
    val key = s"etl/v$variant"
    val lake = root.resolve(s"lake-$cycle").toString
    def table: DataFrame = ZoneMap.readPruned(spark, lake, Long.MinValue, Long.MaxValue)
    def name(verb: String) = if (cycle == 1) s"lake_$verb" else s"lake_$verb.$cycle"
    def count(): Long = ZoneMap.countRange(spark, lake, lo, hi) match {
      case Some((interior, boundary)) => interior + inRange(boundary).count()
      case None => inRange(table).count()
    }
    def checks(prints: => Seq[(String, Fp.Print)]) = () => if (cycle == 1) prints else Nil
    // the table is fingerprinted after the first and the last verb; the
    // last state depends on every verb before it
    def lakeOp(verb: String, layer: String, checked: Boolean = false)(body: => Unit): Op =
      Op(name(verb), () => r.span("op", name(verb))(r.span(layer, verb)(body)),
        checks(if (checked) Seq(s"$key/lake_$verb" -> Fp.of(table)) else Nil))
    Seq(
      lakeOp("write", "sources.lake_write", checked = true) {
        Util.deleteTree(java.nio.file.Paths.get(lake))
        ZoneMap.write(Gen.lakeBase(events, variant), lake, "ts", 16)
      },
      lakeOp("append", "sources.lake_write")(
        ZoneMap.append(Gen.lakeAppend(events, variant), lake, "ts", 4)),
      lakeOp("compact", "sources.lake_compact") {
        val rows = ZoneMap.readManifest(lake).map(_.map(_.rows).sum).getOrElse(0L)
        ZoneMap.compact(spark, lake, "ts", math.max(1L, rows / 6))
      },
      lakeOp("merge", "sources.lake_merge")(
        ZoneMap.mergeUpdates(spark, lake, "ts", Gen.lakeUpdates(events, variant), "event_id", "value")),
      lakeOp("delete", "sources.lake_delete", checked = true)(
        ZoneMap.deleteWhere(spark, lake, "ts", Gen.lakeDelete(variant))),
      Op(name("read"), () => r.span("op", name("read"))(r.span("sources.lake_read", "readPruned") {
        val df = ZoneMap.readPruned(spark, lake, lo, hi)
        val files = ZoneMap.readManifest(lake).map(_.size).getOrElse(0)
        if (files > 0 && cycle == 1)
          r.note("sources.lake_files_read_frac", df.inputFiles.length.toDouble / files)
        inRange(df).write.format("noop").mode("overwrite").save()
      }), checks(Seq(s"$key/lake_read" -> Fp.of(inRange(ZoneMap.readPruned(spark, lake, lo, hi)))))),
      Op(name("count"), () => r.span("op", name("count"))(r.span("sources.lake_read", "countRange") {
        count()
      }), checks(Seq(s"$key/lake_count" -> Fp.Print(count(), "count"))))
    )
  }
}
