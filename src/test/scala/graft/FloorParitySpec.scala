package graft

import graft.tools.FloorCheck

/** CI-grade slice of the floor-off parity ratchet (VERDICT r7 task 4):
  * the harness mains apply fixture-scale scheduling-floor confs (AQE off,
  * 6-partition shuffles) for speed, and the invariant that graded VALUES
  * never depend on them is pinned two ways — the full-inventory
  * `tools.FloorCheck` main (run per round alongside Verify), and this
  * always-on spec covering a representative query per at-risk shape:
  * iterative graph (pointer-jumping components, k-core), blocked ER with
  * a component loop, rank-based stats (two-level ranks), windowed
  * trimming, a streaming foreachBatch upsert (its MERGE shuffles inside
  * the conf scope), a partial-agg rollup, and the as-of union-merge.
  */
class FloorParitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val representatives = Seq(
    "g6_kcore",            // iterative graph loop, localCheckpoint rounds
    "dedup_components",    // pointer-jumping min-label components
    "er_name_cluster",     // blocked ER + component loop (densest floor shape)
    "stat_spearman",       // two-level rank rewrite
    "w30_winsorized",      // windowed percentile trim
    "stream_cdc_state",    // foreachBatch MERGE under scoped confs
    "a5_count_groups",     // partial-agg baseline
    "j12_asof_join"        // union-merge as-of
  )

  representatives.foreach { name =>
    test(s"$name: floor-on and floor-off return identical rows") {
      FloorCheck.parity(spark, sf, name) match {
        case None => succeed
        case Some(why) => fail(s"$name diverged across floor modes: $why")
      }
    }
  }
}
