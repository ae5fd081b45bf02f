package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.engine.Ck
import graft.pipeline.{Pipeline, Schemas}
import graft.sources.Sources

/** End-to-end DAG parity: the full reference workflow in one Spark app,
  * including the all-sources-failed degradation path.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def empty(s: org.apache.spark.sql.types.StructType) =
    Sources.emptyWithSchema(spark, s)

  private val dims = Pipeline.Dims(
    teams = Seq(("Arsenal", 0.7, 0.6, 0.8)).toDF(
      "team", "gk_rating", "setpiece_rating", "crowd_index"),
    stadiums = Seq(("Arsenal", "Emirates", 51.5549, -0.1084),
      ("Chelsea", "Stamford Bridge", 51.4817, -0.191)).toDF(
      "team", "stadium", "lat", "lon"),
    refs = Seq(("Ref A", 0.35)).toDF("ref_name", "ref_pen_rate"),
    injuries = Seq((Timestamp.valueOf("2024-08-17 00:00:00"), "Chelsea", 0.5))
      .toDF("date", "team", "injury_index"),
    lineups = Seq((Timestamp.valueOf("2024-08-17 00:00:00"), "Chelsea", 1, 0, 1))
      .toDF("date", "team", "key_att_out", "key_def_out", "keeper_changed"),
    nameMap = Seq(("The Gunners", "Arsenal")).toDF("raw", "canonical"))

  /** The full-DAG inputs: every source present. `extraRows` appends
    * league rows (out of date order, with a tied date, an unparseable
    * date and a missing odds price) to the one the assertions read.
    */
  private def fullInputs(extraRows: Boolean = false): Pipeline.Inputs = {
    val more = if (!extraRows) Nil else Seq(
      ("01/09/2024", "Chelsea", "The Gunners", "0", "0", 2.9, 3.2, 2.4),
      ("10/08/2024", "Arsenal", "Fulham", "3", "0", 1.3, 5.5, 9.0),
      ("01/09/2024", "Fulham", "Brentford", "1", "2", 2.5, 3.3, 2.8),
      ("not a date", "Brentford", "Arsenal", "1", "1", 4.0, 3.8, 1.9),
      ("24/08/2024", "Brentford", "Chelsea", "2", "2", Double.NaN, 3.4, 2.6))
    val rawLeague = (Seq(
      ("17/08/2024", "The Gunners", "Chelsea", "2", "1", 1.8, 3.5, 4.2)) ++ more)
      .toDF("Date", "HomeTeam", "AwayTeam", "FTHG", "FTAG", "B365H", "B365D", "B365A")
      .withColumn("B365H", when(isnan(col("B365H")), lit(null)).otherwise(col("B365H")))
    val oddsJson =
      """[{"home_team":"Arsenal","away_team":"Chelsea",
          "commence_time":"2024-08-24T16:30:00Z",
          "bookmakers":[{"key":"bm","markets":[{"key":"h2h","outcomes":[
            {"name":"Arsenal","price":1.9},{"name":"Draw","price":3.6},
            {"name":"Chelsea","price":3.9}]}]}]}]"""
    val xgCur = Seq(("Arsenal", 1, "2.1", "0.9", "1.2", "0.5"),
      ("Chelsea", 1, "1.8", "1.1", "0.7", "0.2"))
      .toDF("team", "league_id", "xg", "xga", "xgd", "xgd90")
    val xgLast = Seq(("Arsenal", 1, "1.9", "1.0", "0.9", "0.3"))
      .toDF("team", "league_id", "xg", "xga", "xgd", "xgd90")
    Pipeline.Inputs(Seq(rawLeague), Some(oddsJson), manualOdds = None,
      Some(xgCur), Some(xgLast), dims)
  }

  test("full DAG: ingest → odds → xg → priors → enrich → build → validate") {
    val out = Pipeline.run(spark, fullInputs())

    assert(out.reports.forall(_.ok), s"contract violations: ${out.reports}")
    val h = out.hist.collect()(0)
    assert(out.hist.columns.toSeq == Schemas.histColumns)
    assert(h.getAs[String]("home_team") == "Arsenal") // name-mapped
    assert(h.getAs[Int]("home_goals") == 2)
    assert(h.getAs[Double]("home_odds_dec") == 1.8)
    val u = out.upcoming.collect()(0)
    assert(out.upcoming.columns.toSeq == Schemas.upcomingColumns)
    assert(u.getAs[Double]("draw_odds_dec") == 3.6)
    // final canonical projection drops xg columns (reference template has
    // none); the blend is observable on the hybrid table:
    // 0.6*2.1+0.4*1.9 for Arsenal, cur-only for Chelsea
    val xgRows = out.xgHybrid.orderBy("team").collect()
    assert(math.abs(xgRows(0).getAs[Double]("xg_hybrid") - 2.02) < 1e-9)
    assert(xgRows(1).getAs[Double]("xg_hybrid") == 1.8)
    // priors derived from xg replace the teams dim
    assert(out.teamsMaster.columns.contains("gk_rating"))
  }

  test("manual override beats the odds API (S7)") {
    val manual = Seq((Timestamp.valueOf("2024-09-01 15:00:00"), "A", "B", 2.0, 3.0, 4.0))
      .toDF("date", "home_team", "away_team",
        "home_odds_dec", "draw_odds_dec", "away_odds_dec")
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Nil, Some("""[{"home_team":"X","away_team":"Y","commence_time":"2024-09-02T12:00:00Z","bookmakers":[]}]"""),
      Some(manual), None, None, dims))
    val u = out.upcoming.collect()
    assert(u.length == 1 && u(0).getAs[String]("home_team") == "A")
  }

  test("degradation: every source failed → schema-valid empty outputs, DAG completes") {
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Nil, None, None, None, None,
      Pipeline.Dims(empty(Schemas.teamsMaster), empty(Schemas.stadiums),
        empty(Schemas.refBaselines), empty(Schemas.injuries),
        empty(Schemas.lineups), empty(Schemas.teamNameMap))))
    assert(out.reports.forall(_.ok))
    assert(out.hist.columns.toSeq == Schemas.histColumns)
    assert(out.hist.isEmpty && out.upcoming.isEmpty)
  }

  test("write: parity CSV outputs land as single header-ed files") {
    val dir = Files.createTempDirectory("graft_pipe_").toString
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Seq(Seq(("01/09/2024", "Arsenal", "Chelsea", "1", "1", 2.0))
        .toDF("Date", "HomeTeam", "AwayTeam", "FTHG", "FTAG", "B365H")),
      None, None, None, None, dims))
    Pipeline.write(out, dir)
    val histLines = Files.readAllLines(Paths.get(s"$dir/HIST_matches.csv"))
    assert(histLines.get(0) == Schemas.histColumns.mkString(","))
    assert(histLines.size == 2)
  }

  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq

  test("full DAG under reliable checkpoints returns identical rows") {
    def rows(reliable: Boolean): (Seq[String], Seq[String]) = {
      spark.conf.set(Ck.ReliableKey, reliable.toString)
      try {
        val out = Pipeline.run(spark, fullInputs(extraRows = true))
        (rendered(out.hist), rendered(out.upcoming))
      } finally spark.conf.unset(Ck.ReliableKey)
    }
    val local = rows(reliable = false)
    assert(local._1.size == 5 && local._2.size == 1, s"unexpected fixture rows: $local")
    assert(rows(reliable = true) == local)
  }

  test("write: the materialized outputs cost one job per table, CSV and parquet") {
    val dir = Files.createTempDirectory("graft_pipe_jobs_").toString
    val out = Pipeline.run(spark, fullInputs(extraRows = true))
    val csvJobs = SparkSpec.jobsIn(spark)(Pipeline.write(out, s"$dir/csv"))
    val parquetJobs = SparkSpec.jobsIn(spark)(
      Pipeline.write(out, s"$dir/parquet", parquet = true))
    assert(csvJobs <= 2, s"CSV sink re-ran the DAG: $csvJobs jobs for 2 tables")
    assert(parquetJobs <= 2, s"parquet sink re-ran the DAG: $parquetJobs jobs for 2 tables")
    // the lazy lineage, for contrast, re-runs the sort's sampling per sink
    val lazyJobs = SparkSpec.jobsIn(spark)(
      Pipeline.write(Pipeline.build(spark, fullInputs(extraRows = true)), s"$dir/lazy"))
    assert(lazyJobs > csvJobs, s"lazy $lazyJobs jobs vs materialized $csvJobs")
  }

  test("write: materialized CSVs are byte-identical to the lazy buildFinal frames") {
    val dir = Files.createTempDirectory("graft_pipe_bytes_").toString
    val in = fullInputs(extraRows = true)
    Pipeline.write(Pipeline.run(spark, in), s"$dir/materialized")
    Pipeline.write(Pipeline.build(spark, in), s"$dir/lazy")
    for (f <- Seq("HIST_matches.csv", "UPCOMING_fixtures.csv")) {
      val got = Files.readAllBytes(Paths.get(s"$dir/materialized/$f"))
      val want = Files.readAllBytes(Paths.get(s"$dir/lazy/$f"))
      assert(java.util.Arrays.equals(got, want),
        s"$f differs:\n${new String(got)}\nvs\n${new String(want)}")
    }
    // the fixture exercises what the bytes pin: date order across a tie,
    // the header, and a null written as an empty field
    val hist = Files.readAllLines(Paths.get(s"$dir/materialized/HIST_matches.csv"))
    assert(hist.get(0) == Schemas.histColumns.mkString(","))
    assert(hist.size == 6)
    assert(hist.stream().anyMatch(_.contains(",,")))
  }
}
