package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Engine
import graft.pipeline.Enrich

/** The flagship: the reference's entire enrichment DAG
  * (enrich_features.py:151-179) as ONE oracle-graded query. Fact + six
  * dims are derived deterministically from the testdata star schema; the
  * oracle replays the exact precedence semantics in SQL.
  *
  * Fact carries some columns with nulls (home_gk_rating, ref_pen_rate,
  * home_injury_index, away_travel_km) so every precedence tier is
  * observable: pre-existing value ▸ joined dim value ▸ constant default.
  * Columns the fact does NOT carry get `ensure_cols` constants which then
  * beat dim values — the reference's load-bearing quirk.
  */
object QueriesPipe {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  private val pipeEnrich = Q(
    "pipe_enrich",
    "Full enrichment pipeline: J9 name-map, P4 ensure-cols, J1 team " +
      "master, J3 injuries, J4 lineups, J2 refs, J6+F8 travel, J7 xg — " +
      "all broadcast joins, zero shuffles on the fact side",
    (s, d) => {
      // with AQE on, every one of the ~12 shuffle/broadcast query stages
      // schedules its own job and AQE's runtime stage cache misses
      // several alias-twin broadcasts that the static ReuseExchange rule
      // collapses; under the fixture floor (AQE off, Engine.floorConfs)
      // the same plan runs at a third of the jobs (42 → 13 at sf0.1).
      val n = t(s, d, "nation")
      val nameMap = n.filter(col("n_nationkey") % 4 === 0)
        .select(col("n_name").as("raw"), lower(col("n_name")).as("canonical"))
      val home = n.select(col("n_nationkey").as("hk"), col("n_name").as("home_raw"))
      val away = n.select(col("n_nationkey").as("ak"), col("n_name").as("away_raw"))
      val fact = t(s, d, "customer")
        .select(col("c_custkey").as("cid"), col("c_nationkey"),
          ((col("c_nationkey") + 7) % 25).as("away_k"))
        .join(broadcast(home), col("c_nationkey") === col("hk"))
        .join(broadcast(away), col("away_k") === col("ak"))
        .select(col("cid"),
          date_add(to_date(lit("2024-01-01")), (col("cid") % 30).cast("int"))
            .cast("timestamp").as("date"),
          col("home_raw").as("home_team"), col("away_raw").as("away_team"),
          when(col("cid") % 2 === 1, lit(0.9)).as("home_gk_rating"),
          when(col("cid") % 2 === 0, lit(0.45)).as("home_injury_index"),
          when(col("cid") % 3 =!= 0, lit(0.5)).as("ref_pen_rate"),
          concat(lit("R"), (col("cid") % 5).cast("string")).as("ref_name"),
          when(col("cid") % 5 =!= 0, lit(42.0)).as("away_travel_km"))
      val teams = n.select(col("n_name").as("team"), lit(0.8).as("gk_rating"),
        lit(0.75).as("setpiece_rating"), lit(0.85).as("crowd_index"))
      val stad = n.select(col("n_name").as("team"), lit("S").as("stadium"),
        (col("n_nationkey") * 3 - 30).cast(DoubleType).as("lat"),
        (col("n_nationkey") * 6 - 60).cast(DoubleType).as("lon"))
      val refs = t(s, d, "region")
        .select(concat(lit("R"), col("r_regionkey").cast("string")).as("ref_name"),
          (lit(0.2) + col("r_regionkey") * 0.05).as("ref_pen_rate"))
      val dimDate = date_add(to_date(lit("2024-01-01")),
        (col("n_nationkey") % 30).cast("int")).cast("timestamp")
      val inj = n.select(dimDate.as("date"), col("n_name").as("team"),
        lit(0.55).as("injury_index"))
      val lu = n.select(dimDate.as("date"), col("n_name").as("team"),
        (col("n_nationkey") % 2).cast("int").as("key_att_out"),
        ((col("n_nationkey") + 1) % 2).cast("int").as("key_def_out"),
        lit(1).as("keeper_changed"))
      val xg = n.select(col("n_name").as("team"), lit(1).as("league_id"),
        (col("n_nationkey") + 0.5).as("xg_hybrid"),
        (col("n_nationkey") * 0.25).as("xga_hybrid"),
        (col("n_nationkey") - 2.0).as("xgd_hybrid"),
        (col("n_nationkey") * 0.125 - 1.0).as("xgd90_hybrid"))
      Enrich.enrich(fact, teams, stad, refs, inj, lu, xg, nameMap)
        .select(col("cid"), col("date"), col("home_team"), col("away_team"),
          col("home_gk_rating"), col("away_gk_rating"),
          col("home_setpiece_rating"), col("away_setpiece_rating"),
          col("crowd_index"), col("home_injury_index"), col("away_injury_index"),
          col("home_key_att_out"), col("home_key_def_out"), col("home_keeper_changed"),
          col("away_key_att_out"), col("away_key_def_out"), col("away_keeper_changed"),
          col("ref_pen_rate"), col("home_travel_km"),
          round(col("away_travel_km"), 3).as("away_travel_km"),
          col("home_xg"), col("home_xga"), col("home_xgd"), col("home_xgd_per90"),
          col("away_xg"), col("away_xga"), col("away_xgd"), col("away_xgd_per90"))
        .orderBy("cid")
        .ckpt(true)
    },
    Some("""
      WITH nmap AS (
        SELECT n_name AS raw, lower(n_name) AS canonical
        FROM nation WHERE n_nationkey % 4 = 0),
      fact0 AS (
        SELECT c_custkey AS cid,
               (DATE '2024-01-01' + CAST(c_custkey % 30 AS INT))::TIMESTAMP AS date,
               hn.n_name AS home_raw, an.n_name AS away_raw,
               CASE WHEN c_custkey % 2 = 1 THEN 0.9 END AS home_gk_rating,
               CASE WHEN c_custkey % 2 = 0 THEN 0.45 END AS home_injury_index,
               CASE WHEN c_custkey % 3 <> 0 THEN 0.5 END AS ref_pen_rate_f,
               'R' || CAST(c_custkey % 5 AS VARCHAR) AS ref_name,
               CASE WHEN c_custkey % 5 <> 0 THEN 42.0 END AS away_travel_km
        FROM customer
        JOIN nation hn ON c_nationkey = hn.n_nationkey
        JOIN nation an ON (c_nationkey + 7) % 25 = an.n_nationkey),
      fact AS (
        SELECT f.*,
               coalesce(mh.canonical, trim(home_raw)) AS home_team,
               coalesce(ma.canonical, trim(away_raw)) AS away_team
        FROM fact0 f
        LEFT JOIN nmap mh ON trim(home_raw) = mh.raw
        LEFT JOIN nmap ma ON trim(away_raw) = ma.raw),
      dim AS (
        SELECT coalesce(m.canonical, trim(n_name)) AS team, n_nationkey AS k,
               (DATE '2024-01-01' + CAST(n_nationkey % 30 AS INT))::TIMESTAMP AS ddate
        FROM nation LEFT JOIN nmap m ON trim(n_name) = m.raw),
      refs AS (
        SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS ref_name,
               CAST(0.2 AS DOUBLE) + r_regionkey * CAST(0.05 AS DOUBLE) AS ref_pen_rate
        FROM region)
      SELECT f.cid, f.date, f.home_team, f.away_team,
             -- home carried nulls: existing ▸ joined(0.8) ▸ 0.6
             CAST(coalesce(f.home_gk_rating, 0.8) AS DOUBLE) AS home_gk_rating,
             -- away ensured const 0.6 wins over dim
             CAST(0.6 AS DOUBLE) AS away_gk_rating,
             CAST(0.6 AS DOUBLE) AS home_setpiece_rating,
             CAST(0.6 AS DOUBLE) AS away_setpiece_rating,
             CAST(0.7 AS DOUBLE) AS crowd_index,
             -- home carried nulls: existing ▸ joined(0.55 on date match) ▸ 0.3
             CAST(coalesce(f.home_injury_index,
               CASE WHEN ih.k IS NOT NULL THEN 0.55 END, 0.3)
               AS DOUBLE) AS home_injury_index,
             CAST(0.3 AS DOUBLE) AS away_injury_index,
             -- lineup flags: fact lacked them → joined ▸ 0
             coalesce(lh.k % 2, 0) AS home_key_att_out,
             coalesce((lh.k + 1) % 2, 0) AS home_key_def_out,
             CASE WHEN lh.k IS NOT NULL THEN 1 ELSE 0 END AS home_keeper_changed,
             coalesce(la.k % 2, 0) AS away_key_att_out,
             coalesce((la.k + 1) % 2, 0) AS away_key_def_out,
             CASE WHEN la.k IS NOT NULL THEN 1 ELSE 0 END AS away_keeper_changed,
             -- ref: existing(0.5 or null) ▸ joined ▸ 0.30
             coalesce(f.ref_pen_rate_f, r.ref_pen_rate, 0.30) AS ref_pen_rate,
             CAST(0.0 AS DOUBLE) AS home_travel_km,
             -- away: existing 42.0 ▸ haversine(home stadium, away stadium)
             round(coalesce(f.away_travel_km,
               2 * 6371 * asin(sqrt(least(CAST(1.0 AS DOUBLE),
                 pow(sin(radians((sa.k*3-30) - (sh.k*3-30))/2), 2) +
                 cos(radians(sh.k*3-30)) * cos(radians(sa.k*3-30)) *
                 pow(sin(radians((sa.k*6-60) - (sh.k*6-60))/2), 2))))), 3)
               AS away_travel_km,
             CAST(xh.k + 0.5 AS DOUBLE) AS home_xg,
             CAST(xh.k * 0.25 AS DOUBLE) AS home_xga,
             CAST(xh.k - 2.0 AS DOUBLE) AS home_xgd,
             CAST(xh.k * 0.125 - 1.0 AS DOUBLE) AS home_xgd_per90,
             CAST(xa.k + 0.5 AS DOUBLE) AS away_xg,
             CAST(xa.k * 0.25 AS DOUBLE) AS away_xga,
             CAST(xa.k - 2.0 AS DOUBLE) AS away_xgd,
             CAST(xa.k * 0.125 - 1.0 AS DOUBLE) AS away_xgd_per90
      FROM fact f
      LEFT JOIN dim ih ON f.date = ih.ddate AND f.home_team = ih.team
      LEFT JOIN dim lh ON f.date = lh.ddate AND f.home_team = lh.team
      LEFT JOIN dim la ON f.date = la.ddate AND f.away_team = la.team
      LEFT JOIN refs r ON f.ref_name = r.ref_name
      LEFT JOIN dim sh ON f.home_team = sh.team
      LEFT JOIN dim sa ON f.away_team = sa.team
      LEFT JOIN dim xh ON f.home_team = xh.team
      LEFT JOIN dim xa ON f.away_team = xa.team
      ORDER BY cid"""))

  val all: Seq[Q] = Seq(pipeEnrich)
}
