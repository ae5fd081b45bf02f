package graft.operators

import graft.engine.Ck.Ops
import graft.engine.Engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale posture (100 TB): never materialize the O(n²) pair space. Exact
  * dedup is one hash-partitioned groupBy. Near-dup goes shingle → signature
  * → band-bucket join, so candidate generation is a shuffle on band keys and
  * only within-bucket pairs are ever enumerated. All signature math is
  * integer column arithmetic — codegen'd, no UDFs.
  *
  * The MinHash here is the classic (a·x + b) mod p permutation family over
  * token ids; token ids are a stable content hash ([[tokenId]]) — a pure
  * map-side expression, so id assignment needs no vocabulary
  * materialization, no global rank, and zero shuffles at any corpus size.
  */
object Dedup {

  /** Stable 32-bit token id: the first 8 hex chars of md5, read as an
    * integer in [0, 2^32). Engine-portable (any SQL engine with `md5`
    * computes the identical id — DuckDB: `('0x'||substr(md5(t),1,8))::BIGINT`)
    * and embarrassingly parallel: replaces the former dense-rank-over-vocab
    * id scheme whose `Window.orderBy` was a single-partition bottleneck on
    * web-scale vocabularies.
    */
  def tokenId(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast(LongType)

  /** Exact dedup: group identical payloads, keep the smallest id.
    * Grouping key leads with the 64-bit payload hash so group comparison
    * (sort/probe) touches 8 bytes first and the full payload only on
    * hash-equal rows; the hash is a function of the payload, so the result
    * is identical to grouping on the payload alone — collisions included.
    * One shuffle either way.
    */
  def exact(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.groupBy(xxhash64(col(payloadCol)).as("payload_hash"), col(payloadCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word-bigram shingle set over an ALREADY-MATERIALIZED token-array
    * column. The token array must be a projected column, not an inline
    * `split(...)` expression: lambda bodies get no common-subexpression
    * elimination, so an inlined split re-parses the text for every shingle
    * element — measured 10× slower at sf0.1 (4.3 s vs 0.48 s on 5 k docs).
    *
    * Sub-2-token docs get an empty shingle set: without the guard,
    * `sequence(1, size-1)` with size < 2 counts DOWN (Spark defaults step
    * to -1 when start > stop), yielding [1, 0], and `element_at(toks, 0)`
    * throws under Spark 4's ANSI mode. DuckDB's `range(1, len)` is empty
    * in that case, so the guard is also what keeps both engines aligned.
    */
  def bigramShinglesFromToks(toks: Column): Column =
    when(size(toks) >= 2,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))))
      .otherwise(array().cast("array<string>"))

  /** Convenience form for small/test inputs; production paths should
    * project `split(text, " ")` first and use [[bigramShinglesFromToks]].
    */
  def bigramShingles(text: Column): Column = bigramShinglesFromToks(split(text, " "))

  /** Jaccard similarity of two shingle-set columns, rounded for
    * cross-engine determinism.
    */
  def jaccard(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)), 6)

  /** Jaccard via |A∪B| = |A|+|B|−|A∩B| with pre-computed set sizes: one
    * array_intersect evaluation per pair instead of intersect + union —
    * matters when the expression sits above a join and each reference to
    * the shingle columns costs a re-evaluation.
    */
  def jaccardPrecomputed(inter: Column, na: Column, nb: Column): Column =
    round(inter.cast("double") / (na + nb - inter), 6)

  /** (doc_id, tok) exploded token pairs. `distinctTokens` = set semantics
    * (MinHash); multiset (with counts) is what SimHash wants.
    */
  def tokenPairs(docs: DataFrame, idCol: String, textCol: String,
                 distinctTokens: Boolean): DataFrame = {
    val toks0 = split(col(textCol), " ")
    val toks = if (distinctTokens) array_distinct(toks0) else toks0
    docs.select(col(idCol), explode(toks).as("tok"))
  }

  /** MinHash signatures: one row per (doc, j) with
    * h_j = min over doc tokens of ((2j+1)·tid + (7j+3)) mod 8191.
    *
    * All numHashes mins are aggregate expressions in ONE groupBy on the
    * doc id, then the wide row unpivots to the (id, j, h) long form —
    * the former crossJoin-by-j shape pushed numHashes× the token rows
    * through the exchange (same lesson as [[simhash16]]: regrouping the
    * identical integer arithmetic halved its runtime). Unpivot after the
    * agg touches only |docs|·numHashes rows.
    */
  def minhashSignatures(ptid: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(j =>
      min((lit(2 * j + 1) * col("tid") + lit(7 * j + 3)) % 8191).as(s"h$j"))
    ptid.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), explode(array((0 until numHashes).map(j =>
        struct(lit(j).as("j"), col(s"h$j").as("h"))): _*)).as("jh"))
      .select(col(idCol), col("jh.j").as("j"), col("jh.h").as("h"))
  }

  /** LSH banding with r=2 rows/band: band key = "h_even_h_odd". Returns
    * bucket occupancy (band_idx, band_key, n) — the pre-pair-enumeration
    * view that stays linear at scale. Callers enumerate pairs only within
    * buckets below a size cap.
    */
  def lshBuckets(sig: DataFrame, idCol: String): DataFrame =
    sig.groupBy(col(idCol), expr("j div 2").as("band_idx"))
      .agg(concat_ws("_",
        min(when(col("j") % 2 === 0, col("h"))),
        min(when(col("j") % 2 === 1, col("h")))).as("band_key"))
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("n"))

  /** Connected components over a candidate-pair graph by iterative
    * min-label propagation — the Pregel/GraphX shape, driver-coordinated:
    * each round every node takes the min of its own label and its
    * neighbors' labels (two shuffles: edge join + per-node min); the
    * driver reads ONE scalar per round (the label-sum, which decreases
    * monotonically) to detect the fixpoint. Labels and edges stay fully
    * distributed. Rounds needed = O(log diameter): each round also
    * pointer-jumps against its own freshly-built pointer table, halving
    * label-chain depth (ComponentsConvergenceSpec pins a 64-node path
    * converging within 9 rounds) — and star-shaped edge sets (doc ↔
    * bucket representative, as [[lshBuckets]] induces) keep diameters
    * near-constant anyway, so this converges in a handful of rounds at
    * any corpus size.
    *
    * This is the cluster step of corpus-level dedup: LSH emits candidate
    * pairs, components glue overlapping pairs into dedup groups, and the
    * min label is the deterministic canonical representative.
    *
    * @param nodes  single-column frame of node ids (long). CONTRACT
    *               (ADVICE r9): every edge endpoint must appear in
    *               `nodes` — the round-9 co-located left-join merge
    *               anchors on the nodes frame, so an endpoint absent
    *               from it is silently dropped and labels stop
    *               propagating through it (the older union+groupBy
    *               shape emitted such nodes). All in-repo callers pass
    *               nodes ⊇ endpoints (they derive nodes FROM the edge
    *               list or a superset scan); external callers must too.
    * @param edges  two-column frame (a, b); symmetrized internally
    * @param parts  pinned partition count for the loop's exchanges; 0 =
    *               session shuffle parallelism. Size it to the GRAPH (the
    *               hitsInt/pageRankInt contract): label frames are a few
    *               MB even for large candidate graphs, and slicing them
    *               across 32 near-empty tasks per round is pure floor.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int = 25, parts: Int = 0,
                          jumps: Int = 1): DataFrame = {
    // Constraint propagation OFF for the loop: checkpointed labels keep
    // their attribute ids across rounds, so each round's union + pointer-
    // jumping self-join re-exposes one id on multiple plan branches and
    // Spark 4.1's Union constraint rewrite crashes (AttributeMap key not
    // found). Constraints would only add inferred IsNotNull filters here —
    // ids/labels are never null by construction — so nothing is lost.
    // Loop pins (Iterate.loopConfs): measured 38 jobs on er_name_cluster
    // with AQE vs 16 without at identical results; the loop's frames are
    // uniformly hash-keyed, so AQE contributes nothing here.
    val spark = nodes.sparkSession
    val np = if (parts > 0) parts
             else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // each round's checkpoint blocks are freed eagerly via the underlying
    // RDD (see Iterate.checkpointRdd for why Dataset.unpersist can't)
    import Iterate.checkpointRdd
    // empty input: sum(label) over zero rows is null — coalesce to 0 so
    // an empty nodes frame converges to an empty result instead of NPE
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    Engine.withConfs(spark)(
        ("spark.sql.constraintPropagation.enabled" -> "false") +:
          Iterate.loopConfs(np): _*) {
    val n = nodes.toDF("id")
    val e0 = edges.toDF("a", "b")
    // cache the symmetrized edges PRE-PARTITIONED on b, the per-round
    // probe key — at 100 TB the same co-location comes from bucketing the
    // edge table on b. Build shape (round 9): symmetrize with ONE explode
    // (a union reads the input twice — two scan stages), and dedup ON the
    // b-partitioning: hash(b) satisfies the (a, b) clustering of
    // dropDuplicates (the pageRankInt fuse), so the build pays exactly
    // one exchange where union+distinct+repartition paid three.
    val e = e0.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("x"))
      .select(col("x.a").as("a"), col("x.b").as("b"))
      .repartition(np, col("b"))
      .dropDuplicates("a", "b")
      .cache()
    // localCheckpoint (not cache): each round's plan would otherwise carry
    // the ENTIRE prior lineage — re-analyzed by the optimizer every round,
    // so planning cost grows superlinearly with rounds (measured 105 s at
    // 5 k docs before truncation). LAZY checkpoints: the round's moved-
    // count read is the materializing job, so each round schedules ONE
    // driver job, not checkpoint + read (measured 44 → ~24 jobs on
    // er_name_cluster under the older sum scheme)
    var labels = n.select(col("id"), col("id").as("label")).ckpt(false)
    // lazy frames whose consumers materialize at the NEXT round's action —
    // freed only once that action has run (freeing a lazy local
    // checkpoint's input before its blocks exist would strand the
    // truncated lineage)
    var pendingFree: Seq[DataFrame] = Nil
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // labels arrive partitioned by LABEL (the previous pointer join's
      // key) — exchange to id ONCE per round; both consumers below (the
      // propagation probe and the merge) read the SAME exchange
      // (ReuseExchange dedups the identical subtree), where the previous
      // union+groupBy shape exchanged the label table twice and then
      // full-shuffled the union (round 9: 29 → 24 stages on
      // er_name_cluster, identical labels every round)
      val labelsId = labels.repartition(np, col("id"))
      val prop = e.join(labelsId, e("b") === labelsId("id"))
        .select(col("a").as("id"), col("label").as("label"))
      // neighbor-min merge as a CO-LOCATED left join (both sides hash(id,
      // np)) instead of union+groupBy: least() ignores the null a
      // no-in-edge node gets, so stepped(id) = min(self, neighbor mins)
      // exactly as before — one exchange (the propagation groupBy, the
      // irreducible one: labels genuinely move along edges) where the
      // union shape paid three
      val propMin = prop.groupBy("id").agg(min("label").as("pmin"))
      // `old` rides along so the round's convergence signal — did ANY
      // label strictly improve in the merge — is an aggregate over this
      // one co-located join, with no extra exchange and no proof round
      // semantics of its own: propagation-stable ⟹ label[u] ≥ label[v]
      // across every (symmetrized) edge ⟹ labels equal across every
      // edge ⟹ constant per component ⟹ the fixpoint (and the constant
      // is the component min, since the min node's label never changes).
      // The previous sum-checksum convergence compared consecutive
      // ROUNDS, which cost the final round its pointer-jump join; this
      // is the same observation count with a cheaper last round.
      val stepped = labelsId.join(propMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), col("pmin")).as("label"))
        .ckpt(false)
      // the round's ONE driver action: materializes the previous round's
      // lazy jump (labels) and this round's merge (stepped) in a single
      // job, and reads back the moved count
      val moved = stepped
        .agg(coalesce(sum(when(col("label") < col("old"), 1L)
          .otherwise(0L)), lit(0L))).head().getLong(0)
      pendingFree.foreach(df =>
        checkpointRdd(df).foreach(_.unpersist(blocking = false)))
      pendingFree = Nil
      converged = moved == 0L
      // pointer jumping: label ← stepped(label) — chasing THIS round's
      // pointer table (round 8; previously the one-step-older `labels`,
      // which converged in O(diameter) rounds, not O(log diameter):
      // er_name_cluster took 4+1 rounds where 2+1 suffice). The
      // self-reference is safe because `stepped` is checkpoint-truncated
      // to a LogicalRDD first — the join below is a plain two-frame join
      // over fresh aliases, not the Spark 4.1 Union-constraint crash
      // shape — and LAZY, so the labelSum read still materializes both
      // checkpoints in the round's single driver job. Monotonicity and
      // fixpoint are unchanged: labels only decrease toward the
      // component min, and a sum-stable round means no label moved.
      // optionally chase the pointer more than once per round
      // (`jumps` > 1): label ← stepped(stepped(label)). Each extra jump
      // is one more label-keyed exchange + join inside the same round
      // job. Helps ONLY when convergence is pointer-chain-depth-bound;
      // when it is propagation-HOP-bound (the min label simply hasn't
      // traversed enough edges yet — the typical LSH-star and ER-block
      // shape), extra jumps cannot deliver an unarrived label and just
      // cost their exchanges. MEASURED round 11 on both in-repo callers:
      // er_name_cluster jumps=2 kept 3+1 rounds and went 23 → 31 stages
      // / 1.39 → 1.84 s — both callers stay at the default 1; the knob
      // remains for genuinely deep-chain graphs.
      if (converged) {
        // stepped == labels semantically; labels stays the result and
        // stepped's just-materialized blocks are dropped right away. The
        // jump below never runs — the old sum-checksum scheme paid its
        // label-keyed exchange even in the no-change round.
        checkpointRdd(stepped).foreach(_.unpersist(blocking = false))
      } else {
        var next = stepped.select(col("id"), col("label"))
        val mids = scala.collection.mutable.Buffer.empty[DataFrame]
        for (_ <- 1 to jumps) {
          val l = next.as("l")
          val r = next.select(col("id").as("lid"), col("label").as("llabel"))
          next = l
            .join(r, col("l.label") === col("lid"), "left")
            .select(col("l.id").as("id"),
              coalesce(col("llabel"), col("l.label")).as("label"))
            .ckpt(false)
          mids += next
        }
        // the jump stays LAZY: the next round's moved-action materializes
        // it inside that round's single job. Free labels/stepped only
        // after that happens (pendingFree). Local-mode caveat (ADVICE
        // r8): if one of next's local-checkpoint blocks were lost AFTER
        // the deferred free (executor loss), the truncated lineage could
        // not recompute through stepped — local mode can't lose
        // executors, and a cluster run sets
        // spark.graft.reliableCheckpoint=true (Ck.cp), under which these
        // frees are no-ops on durable checkpoint files and recovery
        // recomputes from the retained lineage instead.
        pendingFree = Seq(labels, stepped) ++ mids.dropRight(1)
        labels = next
      }
      it += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $it moved=$moved converged=$converged")
    }
    if (!converged && pendingFree.nonEmpty) {
      // maxIters bailout with a still-lazy final jump: materialize it so
      // the deferred frees below are safe (pathological path — real
      // inputs converge)
      labelSum(labels): Unit
      pendingFree.foreach(df =>
        checkpointRdd(df).foreach(_.unpersist(blocking = false)))
    }
    e.unpersist()
    labels.withColumnRenamed("label", "component")
    }
  }

  /** 16-bit SimHash over the token multiset: weight_j = Σ cnt·(2·bit_j−1)
    * with per-token hash (37·tid + 11) mod 2^16 over the stable [[tokenId]];
    * signature bit j set iff weight_j > 0.
    *
    * All 16 bit-weights are computed as 16 aggregate expressions in ONE
    * groupBy on the doc id — no 16× row expansion, one shuffle, full
    * map-side combine. (The previous crossJoin-by-16-bits shape pushed 16×
    * the token rows through the exchange: measured 3.8 s → this shape at
    * sf0.1; identical values, it's the same integer arithmetic regrouped.)
    */
  def simhash16(cnts: DataFrame, idCol: String): DataFrame = {
    val h = (lit(37) * tokenId(col("tok")) + 11) % 65536
    val weights = (0 until 16).map(j =>
      sum(col("cnt") * (lit(2) * (shiftright(col("h"), j) % 2) - 1)).as(s"w$j"))
    cnts.select(col(idCol), col("cnt"), h.as("h"))
      .groupBy(col(idCol))
      .agg(weights.head, weights.tail: _*)
      .select(col(idCol),
        (0 until 16).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
