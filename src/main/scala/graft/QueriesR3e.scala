package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.Engine
import graft.operators.{Dedup, Similarity}

/** Round-3 batch 5: SimHash Hamming banding, a purely-relational
  * count-min sketch, distributed token-budget selection, and DSIR-style
  * importance weighting — the remaining classic large-corpus curation
  * shapes (Manku et al. WWW'07 near-dup detection; Cormode/Muthukrishnan
  * count-min; Xie et al. 2023 data selection via importance resampling).
  */
object QueriesR3e {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ---------------- dedup_hamming_band: SimHash + pigeonhole banding

  /** Fresh-lineage 32-bit simhash signatures (doc_id, simhash). Each call
    * reads the table anew so the candidate self-join sees independent
    * attribute ids (the Spark 4.1 constraint-inference dodge used across
    * the repo). 32 bits (the raw md5-derived token id IS the per-token
    * hash — already uniform) rather than the 16-bit simhash16 bridge:
    * on a shared-vocabulary corpus 16 bits collapse (measured: 30k
    * "near-dup" pairs at sf0.01 vs 174 with 32 bits at the same
    * threshold — random 32-bit pairs sit at Hamming ~16±2.8).
    */
  private def simhash32Of(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.tokenPairs(t(s, d, "documents"), "doc_id", "text",
      distinctTokens = false)
    val cnts = pairs.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val weights = (0 until 32).map(j =>
      sum(col("cnt") * (lit(2) * (shiftright(col("h"), j) % 2) - 1)).as(s"w$j"))
    cnts.select(col("doc_id"), col("cnt"), Dedup.tokenId(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(weights.head, weights.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Explode the 32-bit signature into 4 contiguous 8-bit bands. */
  private def banded(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            (shiftright(col("simhash"), 8 * b) % 256).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  private val hammingBand = Q(
    "dedup_hamming_band",
    "SimHash near-dup PAIRS via pigeonhole banding (the Manku et al. " +
      "WWW'07 web-crawl dedup construction): split each 32-bit signature " +
      "into 4 bands of 8 bits — two signatures within Hamming distance 3 " +
      "MUST agree exactly on at least one band, so candidates come from " +
      "4 equi-joins on (band, key), never a cross join; the " +
      "popcount(xor) verify (<= 2 graded here) runs map-side on the " +
      "joined row only. Per-band bucket occupancy is n/256; at 100 TB " +
      "the same plan widens to a 64-bit simhash with 16-bit bands " +
      "(occupancy n/65536) — the shape is identical, band width grows " +
      "with log(n).",
    (s, d) => {
      // one cached signature frame self-joined via aliases — building the
      // banded pipeline per side recomputed the token-explode × 32-bit
      // expansion twice (measured ~2x on this query)
      val x = banded(simhash32Of(s, d)).cache()
      val y = x
      x.as("x").join(y.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
            .cast(LongType).as("hamming"))
        .distinct() // a close pair can agree on several bands
        .filter(col("hamming") <= 2)
        .transform(graft.engine.Ops.reportSort("doc_a", "doc_b"))
    },
    Some("""WITH tokens AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
            cnts AS (
              SELECT doc_id, tok, count(*) AS cnt FROM tokens GROUP BY 1, 2),
            w AS (
              SELECT doc_id, j,
                     sum(cnt * (2 * ((h // (1 << j)) % 2) - 1)) AS wj
              FROM (SELECT doc_id, cnt,
                           ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
                    FROM cnts)
              CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
              GROUP BY doc_id, j),
            sigs AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN wj > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
                       AS simhash
              FROM w GROUP BY doc_id),
            bands AS (
              SELECT doc_id, simhash, b, (simhash // (1 << (8 * b))) % 256 AS key
              FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
            cand AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                     CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b, hamming
            FROM cand WHERE hamming <= 2 ORDER BY doc_a, doc_b"""))

  // --------------------- text_countmin: relational count-min sketch

  private def cmCell(tid: Column, r: Int): Column =
    (lit(2 * r + 3) * tid + lit(5 * r + 1)) % 512

  private val countmin = Q(
    "text_countmin",
    "Count-min sketch built from plain relational ops: 4 pairwise-" +
      "independent-style hash rows × 512 counters, materialized as a " +
      "2048-row (r, w, c) table by one groupBy — the sketch itself is " +
      "MERGEABLE state (union two corpora = add their sketches), the " +
      "property that lets 1000 executors each sketch their split and " +
      "ship 2048 rows to a combiner instead of re-shuffling 100 TB of " +
      "tokens. Estimates (min over the 4 probed counters) are checked " +
      "against the exact top-20 heavy hitters: the CMS one-sided error " +
      "guarantee est >= exact is emitted as a graded boolean, and the " +
      "integer estimates themselves hash-match across engines because " +
      "every counter is an exact integer count.",
    (s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val cells = toks.select(explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"),
            cmCell(Dedup.tokenId(col("tok")), r).as("w"))): _*)).as("rw"))
        .select(col("rw.r").as("r"), col("rw.w").as("w"))
      val sketch = cells.groupBy("r", "w").agg(count(lit(1)).as("c"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
        .orderBy(desc("exact"), col("tok")).limit(20)
      val probes = top.select(col("tok"), col("exact"),
          explode(array((0 until 4).map(r =>
            struct(lit(r).as("r"),
              cmCell(Dedup.tokenId(col("tok")), r).as("w"))): _*)).as("rw"))
        .select(col("tok"), col("exact"),
          col("rw.r").as("r"), col("rw.w").as("w"))
      probes.join(sketch, Seq("r", "w"))
        .groupBy("tok", "exact")
        .agg(min("c").as("cm_est"))
        .select(col("tok"), col("exact"), col("cm_est"),
          (col("cm_est") >= col("exact")).as("never_under"))
        .transform(graft.engine.Ops.reportSort(desc("exact"), col("tok")))
    },
    Some("""WITH toks AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            cells AS (
              SELECT r, ((2*r+3) * ('0x' || substr(md5(tok), 1, 8))::BIGINT
                         + (5*r+1)) % 512 AS w
              FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS r)),
            sketch AS (SELECT r, w, count(*) AS c FROM cells GROUP BY 1, 2),
            top AS (SELECT tok, count(*) AS exact FROM toks GROUP BY tok
                    ORDER BY exact DESC, tok LIMIT 20),
            probes AS (
              SELECT tok, exact, r,
                     ((2*r+3) * ('0x' || substr(md5(tok), 1, 8))::BIGINT
                      + (5*r+1)) % 512 AS w
              FROM top CROSS JOIN (SELECT unnest(range(0, 4)) AS r)),
            est AS (SELECT tok, exact, min(c) AS cm_est
                    FROM probes JOIN sketch USING (r, w) GROUP BY tok, exact)
            SELECT tok, exact, cm_est, cm_est >= exact AS never_under
            FROM est ORDER BY exact DESC, tok"""))

  // ------------- curate_token_budget: distributed budgeted selection

  private val tokenBudget = Q(
    "curate_token_budget",
    "Token-budget corpus selection — greedy best-quality-first fill of a " +
      "20k-token training budget WITHOUT a global sort: docs are scored " +
      "(distinct-token ratio, integer micro), bucketed into 11 coarse " +
      "score bands, and the running budget is resolved in two levels — " +
      "a tiny per-band cumulative table (<=11 rows, broadcast back) plus " +
      "a within-band hash-ranked running sum, so the only windows run " +
      "inside one score band each. At 100 TB the band histogram is the " +
      "distributed analogue of a sort: refine band width until the " +
      "boundary band is small, then rank only that band. A doc that " +
      "straddles the budget boundary is dropped whole (docs are atomic).",
    (s, d) => {
      val budget = 20000L
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast(LongType).as("n_toks"),
          size(array_distinct(col("toks"))).cast(LongType).as("n_uniq"))
        .select(col("doc_id"), col("n_toks"),
          expr("(n_uniq * 1000000) div n_toks").as("score_micro"))
        .select(col("doc_id"), col("n_toks"), col("score_micro"),
          expr("score_micro div 100000").as("band"))
      val bands = docs.groupBy("band").agg(sum("n_toks").as("bsum"))
      import org.apache.spark.sql.expressions.Window
      val bandCum = bands.select(col("band"), col("bsum"),
        coalesce(sum("bsum").over(
          Window.orderBy(desc("band"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("cum_before"))
      val hv = Dedup.tokenId(col("doc_id").cast("string"))
      val wBand = Window.partitionBy("band").orderBy(col("hv"), col("doc_id"))
      docs.join(broadcast(bandCum), Seq("band"))
        .withColumn("hv", hv)
        .withColumn("rs", sum("n_toks").over(wBand))
        .filter(col("cum_before") + col("rs") <= budget)
        .select(col("doc_id"), col("n_toks"), col("score_micro"), col("band"))
        .transform(graft.engine.Ops.reportSort("doc_id"))
    },
    Some("""WITH docs AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                     CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS n_uniq
              FROM documents),
            scored AS (
              SELECT doc_id, n_toks,
                     (n_uniq * 1000000) // n_toks AS score_micro,
                     ((n_uniq * 1000000) // n_toks) // 100000 AS band
              FROM docs),
            bands AS (
              SELECT band, sum(n_toks) AS bsum FROM scored GROUP BY band),
            band_cum AS (
              SELECT band, bsum,
                     coalesce(sum(bsum) OVER (ORDER BY band DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
              FROM bands),
            ranked AS (
              SELECT s.doc_id, s.n_toks, s.score_micro, s.band, bc.cum_before,
                     sum(s.n_toks) OVER (PARTITION BY s.band
                       ORDER BY ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)),
                                                1, 8))::BIGINT, s.doc_id) AS rs
              FROM scored s JOIN band_cum bc USING (band))
            SELECT doc_id, n_toks, score_micro, band
            FROM ranked WHERE cum_before + rs <= 20000
            ORDER BY doc_id"""))

  // ------------------- curate_dsir: importance-weighted selection

  private val dsir = Q(
    "curate_dsir",
    "DSIR-style importance weighting (Xie et al. 2023, 'Data Selection " +
      "for Language Models via Importance Resampling'): score every raw " +
      "doc by how target-like its hashed n-gram features are. Features = " +
      "unigrams hashed into 1024 buckets (the paper's hashed feature " +
      "space); target distribution = the English slice, raw = the whole " +
      "corpus; each bucket's add-1-smoothed log-likelihood ratio is " +
      "rounded ONCE to integer micro-bits so per-doc scores are exact " +
      "BIGINT sums (accumulation-order-proof, the repo's standard float " +
      "bridge). ONE token-stream pass (a conditional count rides the " +
      "raw count's groupBy) produces the 1024-row model — broadcast " +
      "back, so scoring is one map-side join however large the corpus; " +
      "totals come from 1-row cartesians, never a driver scalar.",
    (s, d) => {
      // the hashed token stream feeds FOUR references (raw counts,
      // target counts, the target total, scoring) — one eager checkpoint
      // hashes the corpus once (under AQE, stage-at-a-time scheduling
      // made this 13 scheduler jobs; the fixture floor turns AQE off).
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), col("lang"),
          (Dedup.tokenId(col("tok")) % 1024).as("k"))
        .cache() // round 14: lazy cache, not eager ckpt — the broadcast
                 // (lr) build job fills it, the final join hits blocks;
                 // one dedicated materialization job saved
      // ONE aggregation builds both distributions (round 13): the raw
      // per-bucket count and the target (en) count are the same groupBy
      // with a conditional count, so the former two full scans of the
      // 4M-token checkpoint + the raw⟕tgt merge join collapse into a
      // single pass — measured 7 → 6 jobs / 15 → 13 stages / 161 → 137
      // tasks, 2.07 → 0.85 s TimeQ best-of-3 in one window, identical
      // model (the left-join + fill(0) and count(when) produce the same
      // tc=0 for target-absent buckets). Totals still fold out of the
      // model itself and ride as 1-row cartesians (the round-9 move).
      val model = toks.groupBy("k").agg(
        count(lit(1)).as("r"),
        count(when(col("lang") === "en", 1)).as("tc"))
      val lr = model
        .hint("shuffle_replicate_nl")
        .crossJoin(model.agg(sum("r").as("rtot")))
        .crossJoin(model.agg(sum("tc").as("ttot")))
        .select(col("k"),
          round((log2((col("tc") + 1).cast(DoubleType) /
                      (col("ttot") + 1024).cast(DoubleType))
               - log2((col("r") + 1).cast(DoubleType) /
                      (col("rtot") + 1024).cast(DoubleType))) * 1e6, 0)
            .cast(LongType).as("lr_micro"))
      toks.join(broadcast(lr), Seq("k"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum("lr_micro").as("score_micro"))
        .orderBy("doc_id")
        .ckpt(true)
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS k
              FROM (SELECT doc_id, lang,
                           unnest(string_split(text, ' ')) AS tok
                    FROM documents)),
            raw AS (SELECT k, count(*) AS r FROM toks GROUP BY k),
            tgt AS (SELECT k, count(*) AS tc FROM toks WHERE lang = 'en'
                    GROUP BY k),
            tot AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS rtot,
                           (SELECT count(*) FROM toks WHERE lang = 'en') AS ttot),
            lr AS (
              SELECT raw.k,
                     CAST(round((log2(CAST(coalesce(tc, 0) + 1 AS DOUBLE)
                                      / CAST(ttot + 1024 AS DOUBLE))
                               - log2(CAST(r + 1 AS DOUBLE)
                                      / CAST(rtot + 1024 AS DOUBLE)))
                                * 1000000, 0) AS BIGINT) AS lr_micro
              FROM raw LEFT JOIN tgt ON raw.k = tgt.k CROSS JOIN tot)
            SELECT doc_id, count(*) AS n_toks,
                   CAST(sum(lr_micro) AS BIGINT) AS score_micro
            FROM toks JOIN lr USING (k)
            GROUP BY doc_id ORDER BY doc_id"""))

  // ----------------- sim_pq_codes: product quantization (PQ) encoding

  private val pqCodes = Q(
    "sim_pq_codes",
    "Product quantization (Jegou et al. 2011, the workhorse of " +
      "billion-scale ANN indexes): split each 64-dim embedding into 8 " +
      "subvectors of 8 dims, quantize every subvector to its nearest of " +
      "16 subspace codes, and pack the 8 4-bit code ids into ONE 32-bit " +
      "word — a 512-byte vector compressed to 4 bytes, the compression " +
      "that lets an executor hold a billion codes in RAM for asymmetric-" +
      "distance scans. Codebook = the first 16 vectors' subvectors " +
      "(deterministic; production trains per-subspace k-means — " +
      "sim_kmeans_update is that step). Assignment reuses the IVF/" +
      "SemDeDup compositional-d2 broadcast argmin (bit-exact across " +
      "engines, struct-min tie-break on code id); per-subspace " +
      "quantization error is bridged to BIGINT micro before the sum so " +
      "the per-vector total is accumulation-order-proof. Corpus side is " +
      "map-only: n×8 subvectors against a broadcast 128-row codebook.",
    (s, d) => {
      val sub = t(s, d, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.quantize(Similarity.toDoubleVec(col("embedding"))).as("v"))
        .select(col("id"), explode(array((0 until 8).map(j =>
          struct(lit(j).as("j"), slice(col("v"), 8 * j + 1, 8).as("sv"))): _*))
          .as("x"))
        .select(col("id"), col("x.j").as("j"), col("x.sv").as("sv"))
      val codes = t(s, d, "embeddings")
        .filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"),
          Similarity.quantize(Similarity.toDoubleVec(col("embedding"))).as("cv"))
        .select(col("cid"), explode(array((0 until 8).map(j =>
          struct(lit(j).as("j"), slice(col("cv"), 8 * j + 1, 8).as("code"))): _*))
          .as("x"))
        .select(col("x.j").as("j"), col("cid"), col("x.code").as("code"))
      val best = sub.join(broadcast(codes), Seq("j"))
        .select(col("id"), col("j"), struct(
            (Similarity.dot(col("sv"), col("sv")) -
              lit(2) * Similarity.dot(col("sv"), col("code")) +
              Similarity.dot(col("code"), col("code"))).as("d2"),
            col("cid")).as("dc"))
        .groupBy("id", "j").agg(min("dc").as("m"))
      best
        .select(col("id"), col("j"),
          col("m.cid").as("cid"), col("m.d2").as("d2"))
        .groupBy("id")
        .agg(
          sum(expr("cid * shiftleft(CAST(1 AS BIGINT), CAST(4 * j AS INT))"))
            .as("pq_code"),
          sum(round(col("d2") / lit(1099511627776.0) * 1e6, 0)
            .cast(LongType)).as("err_micro"))
        .select(col("id").as("vec_id"), col("pq_code"), col("err_micro"))
        .transform(graft.engine.Ops.reportSort("vec_id"))
    },
    Some("""WITH v AS (SELECT vec_id AS id,
                       list_transform(embedding::DOUBLE[],
                         x -> round(x * 1048576)) AS v
                       FROM embeddings),
            sub AS (SELECT id, j, list_slice(v, 8*j+1, 8*j+8) AS sv
                    FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
            codes AS (SELECT j, c.id AS cid,
                             list_slice(c.v, 8*j+1, 8*j+8) AS code
                      FROM v c
                      CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
                      WHERE c.id < 16),
            best AS (SELECT id, j, min(struct_pack(
                       d2 := list_dot_product(sv, sv)
                             - 2 * list_dot_product(sv, code)
                             + list_dot_product(code, code),
                       cid := cid)) AS m
                     FROM sub JOIN codes USING (j) GROUP BY id, j)
            SELECT id AS vec_id,
                   CAST(sum(m.cid * (CAST(1 AS BIGINT) << CAST(4*j AS INT)))
                        AS BIGINT) AS pq_code,
                   CAST(sum(CAST(round(m.d2 / 1099511627776.0 * 1000000, 0)
                        AS BIGINT)) AS BIGINT) AS err_micro
            FROM best GROUP BY id ORDER BY vec_id"""))

  val all: Seq[Q] = Seq(hammingBand, countmin, tokenBudget, dsir, pqCodes)
}
