package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The real inventory lives in [[graft.Queries]] (one entry per SURVEY §2
  * operator, each with DuckDB oracle SQL where SQL-expressible).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the reference's core shape (enrich_features.py:151-179):
    * a fact table left-joined against broadcast dimensions plus derived
    * column expressions — here orders × customer with defaults.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.byName("pipe_enrich").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Entries are the RAW query fns. The fixture-scale scheduling-floor
    * confs (AQE off, 6-partition shuffles) are applied ONCE per session
    * by the harness mains via [[graft.engine.Engine.fixtureFloorConfs]] —
    * the end state of round 6-7's floor work: an allowlist of
    * per-query floor-scoped queries grew through four TimeQ sweeps
    * (49 → 58 → 77 names, each finding the same jobs≫stages storm
    * signature deeper in the bench tail), a full-inventory A/B showed
    * the remaining ~275 queries win another ~30 s collectively with zero
    * regressions, and the session-level form then beat wrap-everything
    * by skipping 353 per-query eager checkpoints (~10 s/pass). The
    * session confs are size- and conf-gated, so production-scale reads
    * keep the native AQE plan with its skew/coalesce safety nets.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
