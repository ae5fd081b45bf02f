package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Ck, Validate}
import graft.sources.{Sinks, Sources}

/** The reference's end-to-end daily DAG (pipeline.yml:30-74) as ONE Spark
  * application: where the reference runs 9 python processes exchanging CSV
  * files on disk, this exchanges DataFrames in memory and only
  * materializes the canonical outputs (plus optional intermediate dumps
  * for the reference's resume/debug-ability).
  *
  * Stage order (reference):
  *   fetch_football_data → fetch_the_odds_api → fetch_fbr_team_xg →
  *   bootstrap_team_priors → ensure_min_files → enrich_features →
  *   build_hist_and_upcoming → validate_data
  *
  * All network sources arrive through [[Sources.Fetcher]] so deployments
  * inject real HTTP and tests inject canned bodies; every fetch failure
  * degrades to an empty-but-valid frame (S6) and the DAG completes.
  *
  * The two canonical outputs are materialized once ([[Ck.cp]], lazy):
  * the validation count is the first action and stores the sorted rows,
  * so both sinks of [[write]] read stored blocks instead of re-running
  * the scans, the enrichment joins and the range-sort sampling. The
  * blocks are freed by Spark's `ContextCleaner` once the [[Outputs]] are
  * unreachable (or by an explicit `unpersist` of their RDDs); under
  * `spark.graft.reliableCheckpoint=true` the first action writes a
  * checkpoint file instead.
  */
object Pipeline {

  final case class Inputs(
      histCsvBodies: Seq[DataFrame],      // S1: per-league raw frames
      oddsJsonBody: Option[String],       // S3: odds REST response
      manualOdds: Option[DataFrame],      // S7: override table
      xgCurrent: Option[DataFrame],       // S4: current-season standings
      xgLast: Option[DataFrame],          // S4: previous-season standings
      dims: Dims)

  final case class Dims(
      teams: DataFrame, stadiums: DataFrame, refs: DataFrame,
      injuries: DataFrame, lineups: DataFrame, nameMap: DataFrame)

  final case class Outputs(hist: DataFrame, upcoming: DataFrame,
                           teamsMaster: DataFrame, xgHybrid: DataFrame,
                           reports: Seq[Validate.ContractReport])

  def run(spark: SparkSession, in: Inputs): Outputs = {
    val out = build(spark, in)
    val hist = Ck.cp(out.hist, eager = false)
    val upcoming = Ck.cp(out.upcoming, eager = false)

    // 5. validation (the reference's de-facto spec); its counts are the
    // first actions, so they compute each output exactly once
    val reports = Seq(
      Validate.report("HIST_matches", hist, Schemas.histColumns),
      Validate.report("UPCOMING_fixtures", upcoming, Schemas.upcomingColumns))

    out.copy(hist = hist, upcoming = upcoming, reports = reports)
  }

  /** Steps 1-4 of [[run]] as lazy frames: no validation, nothing
    * materialized.
    */
  private[graft] def build(spark: SparkSession, in: Inputs): Outputs = {
    // 1. historical ingest (entry point 1)
    val hist0 =
      if (in.histCsvBodies.nonEmpty) Ingest.ingest(in.histCsvBodies)
      else Sources.emptyWithSchema(spark, Schemas.hist)

    // 2. upcoming fixtures: manual override ▸ odds JSON ▸ empty-valid
    val oddsRequired = Seq("date", "home_team", "away_team",
      "home_odds_dec", "draw_odds_dec", "away_odds_dec")
    val upcoming0 = Sources.withOverride(in.manualOdds, oddsRequired,
      in.oddsJsonBody.map(OddsJson.parseGames(spark, _))
        .getOrElse(Sources.emptyWithSchema(spark, Schemas.upcoming)))

    // 3. xG hybrid + team priors (entry point 3)
    val xg = (in.xgCurrent, in.xgLast) match {
      case (Some(c), Some(l)) => XgHybrid.blend(c, l)
      case _ => Sources.emptyWithSchema(spark, Schemas.xgHybrid)
    }
    val priors = if (xg.isEmpty) in.dims.teams else XgHybrid.teamPriors(xg)

    // 4. enrichment (entry point 2) over both fact tables
    def enrich(df: DataFrame): DataFrame =
      Enrich.enrich(df, priors, in.dims.stadiums, in.dims.refs,
        in.dims.injuries, in.dims.lineups, xg, in.dims.nameMap)

    Outputs(Enrich.buildFinal(enrich(hist0), Schemas.histColumns),
      Enrich.buildFinal(enrich(upcoming0), Schemas.upcomingColumns),
      priors, xg, Nil)
  }

  /** Materialize the canonical outputs the way the reference does: one
    * header-ed CSV per table (parity mode) or partitioned parquet (scale
    * mode). Outputs of [[run]] are already materialized, so each table
    * costs one write job.
    */
  def write(out: Outputs, dir: String, parquet: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dir))
    if (parquet) {
      Sinks.parquetPartitioned(out.hist, s"$dir/HIST_matches")
      Sinks.parquetPartitioned(out.upcoming, s"$dir/UPCOMING_fixtures")
    } else {
      Sinks.singleFileCsv(out.hist, s"$dir/HIST_matches.csv")
      Sinks.singleFileCsv(out.upcoming, s"$dir/UPCOMING_fixtures.csv")
    }
  }
}
