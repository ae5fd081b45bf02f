package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.Engine
import graft.operators.Graph

/** Round-5 batch 19: Katz centrality, KS score separation,
  * boilerplate-strip impact.
  */
object QueriesR5u {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------- g17_katz_centrality: attenuated path-count influence

  private val katz = Q(
    "g17_katz_centrality",
    "Katz centrality (4 rounds, integer arithmetic, attenuation 1/2) " +
      "on the co-purchase backbone — the path-counting influence " +
      "measure that g1's PageRank normalizes away (PageRank divides " +
      "by degree, Katz counts ALL attenuated walks: a node adjacent " +
      "to hubs scores high even with low degree): k_{t+1} = 1000 + " +
      "(Σ_in k_t) div 2 in fixed-point integers, so every round is " +
      "accumulation-order-proof. Rides the memoized ≤2000-edge " +
      "backbone; 4 lazy rounds on a bounded frame (the unbounded-" +
      "graph variant would checkpoint like pageRankInt). Top 20.",
    (s, d) => {
      val ed = Graph.backbone(s, d).select("a", "b")
      val und = ed.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(ed.select(col("b").as("src"), col("a").as("dst")))
        .ckpt(true)
      val nodes = und.select(col("src").as("node")).distinct()
        .ckpt(true)
      var k = nodes.select(col("node"), lit(1000L).as("katz"))
      for (_ <- 1 to 4) {
        val inc = und
          .join(k.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum("katz").as("incoming"))
        k = nodes.join(inc, Seq("node"), "left")
          .select(col("node"),
            (lit(1000L) + expr("coalesce(incoming, 0L) div 2"))
              .as("katz"))
      }
      k.orderBy(desc("katz"), col("node")).limit(20)
        .select(col("node"), col("katz").as("katz_milli"))
    },
    Some {
      val backbone =
        """WITH ed AS MATERIALIZED (
                SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            cap AS (SELECT c, list_sort(list(DISTINCT s))[1:20] AS ss
                    FROM ed GROUP BY c),
            pr AS (SELECT unnest(flatten(list_transform(range(1, len(ss)),
                     i -> list_transform(range(i + 1, len(ss) + 1),
                       j -> {'a': ss[i], 'b': ss[j]})))) AS p
                   FROM cap WHERE len(ss) >= 2),
            e0 AS MATERIALIZED (
                SELECT a, b FROM (SELECT p.a AS a, p.b AS b,
                                         count(*) AS n
                                  FROM pr GROUP BY p.a, p.b
                                  ORDER BY n DESC, a, b LIMIT 2000)),
            und AS MATERIALIZED (
                SELECT a AS src, b AS dst FROM e0
                UNION ALL SELECT b AS src, a AS dst FROM e0),
            nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
            k0 AS MATERIALIZED (SELECT node, 1000 AS katz FROM nodes)"""
      val rounds = (1 to 4).map { r =>
        val prev = s"k${r - 1}"
        s"""inc$r AS (
              SELECT und.dst AS node,
                     CAST(sum(katz) AS BIGINT) AS incoming
              FROM und JOIN $prev ON und.src = $prev.node
              GROUP BY 1),
            k$r AS MATERIALIZED (
              SELECT nodes.node,
                     1000 + coalesce(incoming, 0) // 2 AS katz
              FROM nodes LEFT JOIN inc$r ON nodes.node = inc$r.node)"""
      }.mkString(",\n", ",\n", "")
      backbone + rounds +
        """
            SELECT node, CAST(katz AS BIGINT) AS katz_milli
            FROM k4 ORDER BY katz DESC, node LIMIT 20"""
    })

  // ------- ml_ks_separation: the credit-scoring KS statistic

  private val ksSeparation = Q(
    "ml_ks_separation",
    "Kolmogorov-Smirnov score-separation statistic — the model-" +
      "discrimination number credit scoring reports next to AUC (KS = " +
      "max gap between the positive and negative score CDFs, and the " +
      "score cut where it happens): scoring order value against the " +
      "returned-flag label, per-value positive/negative counts roll " +
      "up exactly, CDFs ride TWO-LEVEL bucketed cumulative windows " +
      "(the stat_levene discipline): the distinct-price frame is " +
      "nearly row-sized, so a whole-frame cumulative window would be " +
      "one serial task at any scale — instead rows cumsum inside " +
      "(4096-dollar bucket) windows and a broadcast bucket rollup " +
      "supplies each bucket's global offset and the class totals. " +
      "The argmax row is a deterministic top-1 cut. Output: KS, the " +
      "optimal threshold, and the class totals.",
    (s, d) => {
      // FLOOR NOTE (round 12, VERDICT r11 task 6): 7 stages / 3 jobs /
      // 42 tasks — checkpoint materialization (scan + the single bk
      // exchange), the bounded offMap rollup nested via replicate-NL,
      // the CDF window pass, top-1, final checkpoint. TimeQ best
      // straddles the 1.0 s bar run-to-run (0.96 / 1.06 / 1.31 on one
      // host, same code — SURVEY §8's boundary-noise caveat); the plan
      // is already one data exchange end-to-end and every prior lever
      // (broadcast→replicate-NL, two-level windows, eager ckpt) is
      // measured at the site below. Stage floor × 7 ≈ the wall time;
      // no further cut found that doesn't re-serialize the CDF.
      //
      // AQE's stage-at-a-time scheduling turns each exchange into its
      // own scheduler job; under the fixture floor (AQE off) the eager
      // checkpoint + final materialization run as a handful of jobs.
      // AQE-safe at cluster scale.
      // ONE exchange end-to-end: hash(bk) clusters every later key —
      // the (bk, score) value rollup, the per-bucket offset rollup, and
      // the within-bucket cumulative window all reuse it (bk is a
      // function of score, so bk-partitioning clusters scores too).
      // Checkpointed because the rollup feeds both the offset build and
      // the CDF pass.
      // CPU-dense banded exchange: 2x-floor parallelism (Engine
      // .computeParts — measured 0.94 -> 0.67 s at the 6-partition floor)
      val parts = graft.engine.Engine.computeParts(s, d)
      // round 14: CACHE, not eager checkpoint — the lazy cache fills
      // inside the final materialization job (the offMap rollup stage
      // is an upstream dependency of the CDF stage, so it fills the
      // cache and the CDF pass hits it), preserving the hash(bk)
      // partitioning exactly like the LogicalRDD did, but without the
      // dedicated checkpoint job: 3 jobs → 2 at identical stage work.
      val vc = t(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100, 0).cast(LongType)
          .as("score"),
          (col("l_returnflag") === "R").cast(LongType).as("pos"))
        .withColumn("bk", expr("score div 409600"))
        .repartition(parts, col("bk"))
        .groupBy("bk", "score")
        .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
        .cache()
      // bucket rollup: offsets (exclusive prefix sums) + class totals —
      // bounded by the VALUE RANGE, not the corpus, so the whole-frame
      // windows here run over a few hundred rows
      val wPre = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(lit(1))
      // the bounded bucket table collapses to ONE row carrying a
      // bk→offsets-struct map and rides the CDF pass as a plain
      // cartesian (SHUFFLE_REPLICATE_NL, the stat_levene idiom) — the
      // former broadcast(off) spent a scheduler job building a
      // few-hundred-row broadcast; the rollup chain now nests inside
      // the main job, reading the vc checkpoint narrowly
      val offMap = vc.groupBy("bk")
        .agg(sum("np").as("bp"), sum("nn").as("bn"))
        .withColumn("op", coalesce(sum("bp").over(wPre), lit(0L)))
        .withColumn("onn", coalesce(sum("bn").over(wPre), lit(0L)))
        .withColumn("tp", sum("bp").over(wAll))
        .withColumn("tn", sum("bn").over(wAll))
        .agg(map_from_arrays(collect_list(col("bk")),
          collect_list(struct(col("op"), col("onn"), col("tp"),
            col("tn")))).as("om"))
      val wIn = Window.partitionBy("bk").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def dd(c: String) = col(c).cast(DoubleType)
      vc.hint("shuffle_replicate_nl").crossJoin(offMap)
        .withColumn("o", element_at(col("om"), col("bk")))
        .withColumn("tp", col("o.tp")).withColumn("tn", col("o.tn"))
        .withColumn("cp", col("o.op") + sum("np").over(wIn))
        .withColumn("cn", col("o.onn") + sum("nn").over(wIn))
        .select(col("score"), col("tp"), col("tn"),
          round(abs(dd("cp") / dd("tp") - dd("cn") / dd("tn")) * 1e6, 0)
            .cast(LongType).as("ks_micro"))
        .orderBy(desc("ks_micro"), col("score")).limit(1)
        .select(col("score").as("threshold_cents"), col("tp").as("n_pos"),
          col("tn").as("n_neg"), col("ks_micro"))
        .ckpt(true)
    },
    Some("""WITH vc AS (
              SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                       AS score,
                     CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                       ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
                       ELSE 1 END) AS BIGINT) AS nn
              FROM lineitem GROUP BY 1),
            cum AS (
              SELECT score,
                     CAST(sum(np) OVER (ORDER BY score) AS BIGINT) AS cp,
                     CAST(sum(nn) OVER (ORDER BY score) AS BIGINT) AS cn,
                     CAST(sum(np) OVER () AS BIGINT) AS tp,
                     CAST(sum(nn) OVER () AS BIGINT) AS tn
              FROM vc)
            SELECT score AS threshold_cents, tp AS n_pos, tn AS n_neg,
                   CAST(round(abs(CAST(cp AS DOUBLE) / tp -
                     CAST(cn AS DOUBLE) / tn) * 1e6, 0) AS BIGINT)
                     AS ks_micro
            FROM cum
            ORDER BY ks_micro DESC, score LIMIT 1"""))

  // ------- curate_boilerplate_effect: what would stripping reclaim?

  private val boilerplateEffect = Q(
    "curate_boilerplate_effect",
    "Boilerplate-strip impact report per source — curate_boilerplate " +
      "finds the repeated spans; this prices the CLEANUP: per source, " +
      "the share of word 5-gram spans that are corpus boilerplate " +
      "(≥3-doc reach), the affected-doc share, and the mean " +
      "boilerplate density of affected docs — the numbers that decide " +
      "whether stripping is worth a reprocessing pass. The span " +
      "explode and hash rollup are the boilerplate machinery; the " +
      "per-source verdict joins docs back on the span key (keyed " +
      "shuffles end to end).",
    (s, d) => {
      // AQE's stage-at-a-time scheduling turns each exchange into its
      // own scheduler job; under the fixture floor (AQE off) the eager
      // checkpoint + final materialization run as a handful of jobs.
      // AQE-safe at cluster scale.
      // native tokenization (plans.AlnumTokens, round 13): one
      // compiled byte scan, byte-identical tokens (TokenizeSpec)
      val spans = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.plans.AlnumTokens(col("text")).as("toks"))
        // No size(toks) >= 5 pre-filter (round 13 optimization): it
        // pushed below the tokenizing projection and duplicated the
        // regex tokenization per row (TokProbe: 0.20 → 0.40 s);
        // redundant anyway — NgramHashes is total (size < 5 → empty)
        // and explode drops empty arrays.
        .select(col("doc_id"), col("source"),
          // spans ship as xxhash64 longs, not ~40-byte 5-gram strings
          // (the dedup family's hashed-shingle trade — the output
          // carries only counts, the oracle keeps exact strings);
          // native fused build+hash (plans.NgramHashes, round 13): the
          // round-12 incremental zip_with chain was still 4 interpreted
          // lambda levels + an interpreted hash transform per row —
          // identical grams and hashes, one compiled loop
          explode(graft.plans.NgramHashes(col("toks"), 5)).as("span"))
        .ckpt(true)
      // no boiler join at all (round 9; was a groupBy + broadcast-back):
      // collapse to one row per (span, doc) on a span-pinned exchange —
      // hash(span) clusters the (span, doc, source) keys — then each
      // span's doc reach is a count over the span partition it already
      // sits in (window, zero exchange, span cardinality keeps it
      // parallel at any scale), and the boiler test is a row-local
      // comparison: one exchange where the join shape paid a
      // countDistinct pair plus a broadcast build
      val sd = spans.repartition(col("span"))
        .groupBy("span", "doc_id", "source")
        .agg(count(lit(1)).as("c"))
        .withColumn("reach",
          count(lit(1)).over(Window.partitionBy("span")))
      val perDoc = sd
        .groupBy("doc_id", "source")
        .agg(sum("c").as("n_spans"),
          sum(when(col("reach") >= 3, col("c")).otherwise(0L))
            .as("n_boiler"))
      def dd(c: String) = col(c).cast(DoubleType)
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_spans").as("spans_total"),
          sum("n_boiler").as("spans_boiler"),
          sum(when(col("n_boiler") > 0, 1L).otherwise(0L))
            .as("docs_affected"))
        .select(col("source"), col("n_docs"), col("docs_affected"),
          round(dd("spans_boiler") * 1e6 / dd("spans_total"), 0)
            .cast(LongType).as("boiler_span_share_micro"),
          round(dd("docs_affected") * 1e6 / dd("n_docs"), 0)
            .cast(LongType).as("docs_affected_share_micro"))
        .coalesce(1).sortWithinPartitions("source")
        .ckpt(true)
    },
    Some("""WITH toks AS (
              SELECT doc_id, source,
                     list_filter(regexp_split_to_array(
                       regexp_replace(lower(text), '[^a-z0-9 ]', ' ',
                         'g'), '\s+'), x -> x <> '') AS tk
              FROM documents),
            spans AS (
              SELECT doc_id, source,
                     array_to_string(tk[i:i+4], ' ') AS span
              FROM toks,
                   unnest(range(1, len(tk) - 3)) AS u(i)
              WHERE len(tk) >= 5),
            boiler AS (
              SELECT span FROM spans
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
            per_doc AS (
              SELECT doc_id, source,
                     CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(CASE WHEN boiler.span IS NOT NULL THEN 1
                       ELSE 0 END) AS BIGINT) AS n_boiler
              FROM spans LEFT JOIN boiler USING (span)
              GROUP BY 1, 2)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_boiler > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS docs_affected,
                   CAST(round(CAST(sum(n_boiler) AS DOUBLE) * 1e6 /
                     sum(n_spans), 0) AS BIGINT)
                     AS boiler_span_share_micro,
                   CAST(round(CAST(sum(CASE WHEN n_boiler > 0 THEN 1
                       ELSE 0 END) AS DOUBLE) * 1e6 / count(*), 0)
                     AS BIGINT) AS docs_affected_share_micro
            FROM per_doc GROUP BY 1 ORDER BY 1"""))

  val all: Seq[Q] = Seq(katz, ksSeparation, boilerplateEffect)
}
