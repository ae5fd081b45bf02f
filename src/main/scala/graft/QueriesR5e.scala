package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.Engine
import graft.operators.Dedup

/** Round-5 batch 3: Jarque-Bera normality via exact wide-integer moment
  * sums, winsorized/interquantile robust stats via bounded-rollup
  * quantile location, and the MinHash-candidate Jaccard threshold sweep.
  */
object QueriesR5e {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------- stat_jarque_bera: moment-based normality screen

  private val jarqueBera = Q(
    "stat_jarque_bera",
    "Jarque-Bera normality test per return flag on extended price — the " +
      "'can I use Gaussian math on this metric' gate, from skewness and " +
      "excess kurtosis. The raw moment sums Σc, Σc², Σc³, Σc⁴ accumulate " +
      "in EXACT wide-integer arithmetic over integer cents (Spark " +
      "DECIMAL(38,0), DuckDB HUGEINT) — a double moment sum is " +
      "accumulation-order dependent and unhashable across engines, an " +
      "exact integer is not. One keyed agg, fully partial-aggregatable; " +
      "the central-moment algebra runs on the 3-row rollup. (Σc⁴ in " +
      "cents holds to ~1e9 rows per group in 38 digits; beyond that, " +
      "rescale units or recenter per group first.) pow() is avoided on " +
      "both engines — explicit products and m2·√m2 keep the expression " +
      "trees bit-identical.",
    (s, d) => {
      val dec = DecimalType(38, 0)
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100, 0).cast(DecimalType(9, 0))
            .cast(dec).as("c"))
      val agg = base.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum((col("c") * col("c")).cast(dec)).as("s2"),
        sum((col("c") * col("c") * col("c")).cast(dec)).as("s3"),
        sum((col("c") * col("c") * col("c") * col("c")).cast(dec)).as("s4"))
      def dd(c: String) = col(c).cast(DoubleType)
      val mu = dd("s1") / dd("n")
      val m2 = dd("s2") / dd("n") - mu * mu
      val m3 = dd("s3") / dd("n") - lit(3.0) * mu * (dd("s2") / dd("n")) +
        lit(2.0) * mu * mu * mu
      val m4 = dd("s4") / dd("n") - lit(4.0) * mu * (dd("s3") / dd("n")) +
        lit(6.0) * mu * mu * (dd("s2") / dd("n")) -
        lit(3.0) * mu * mu * mu * mu
      val sk = m3 / (m2 * sqrt(m2))
      val ku = m4 / (m2 * m2) - 3.0
      val jb = dd("n") / 6.0 * (sk * sk + ku * ku / 4.0)
      agg.select(col("g"), col("n"),
          round(sk * 1e6, 0).cast(LongType).as("skew_micro"),
          round(ku * 1e6, 0).cast(LongType).as("kurt_micro"),
          round(jb * 1e6, 0).cast(LongType).as("jb_micro"))
        .transform(graft.engine.Ops.reportSort("g"))
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS g,
                     CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                       AS HUGEINT) AS c
              FROM lineitem),
            agg AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n,
                     sum(c) AS s1, sum(c * c) AS s2,
                     sum(c * c * c) AS s3, sum(c * c * c * c) AS s4
              FROM base GROUP BY 1),
            m AS (
              SELECT g, n,
                     CAST(s1 AS DOUBLE) / n AS mu,
                     CAST(s2 AS DOUBLE) / n AS r2,
                     CAST(s3 AS DOUBLE) / n AS r3,
                     CAST(s4 AS DOUBLE) / n AS r4
              FROM agg),
            cm AS (
              SELECT g, n,
                     r2 - mu * mu AS m2,
                     r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                     r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                        - 3.0 * mu * mu * mu * mu AS m4
              FROM m),
            sk AS (
              SELECT g, n,
                     m3 / (m2 * sqrt(m2)) AS sk,
                     m4 / (m2 * m2) - 3.0 AS ku
              FROM cm)
            SELECT g, n,
                   CAST(round(sk * 1e6, 0) AS BIGINT) AS skew_micro,
                   CAST(round(ku * 1e6, 0) AS BIGINT) AS kurt_micro,
                   CAST(round(CAST(n AS DOUBLE) / 6.0 *
                       (sk * sk + ku * ku / 4.0) * 1e6, 0) AS BIGINT)
                     AS jb_micro
            FROM sk ORDER BY g"""))

  // ------- w30_winsorized: robust per-group stats without a global sort

  private val winsorized = Q(
    "w30_winsorized",
    "Per-group 5/95% winsorized mean + interquantile (trimmed-by-value) " +
      "mean of extended price — the robust aggregate for outlier-heavy " +
      "metrics. The quantile VALUES are located exactly without any " +
      "global sort: a bounded (group × 4096-dollar-bucket) rollup gives " +
      "cumulative offsets (the rollup is bounded by the VALUE RANGE, " +
      "not the corpus), the target rank's bucket is identified on that " +
      "tiny frame, and only the boundary buckets' rows are ranked " +
      "(within-bucket windows — each a sliver of one group). Target " +
      "ranks use pure integer arithmetic (k = 1 + (p·(n−1)) div 100) — " +
      "a float rank like floor(0.05·(n−1)) can land a hair under an " +
      "integer and flip the rank cross-engine. Clamp + sum are exact " +
      "BIGINT cents.",
    (s, d) => {
      // AQE's stage-at-a-time scheduling gave every exchange its own job
      // (13 locally); under the fixture floor (AQE off) the plan runs as
      // one job plus a build per broadcast. AQE-safe at cluster scale.
      // cached (round 14; was an eager checkpoint): the (g, cents,
      // bucket) projection feeds the rollup, the boundary-bucket ranking
      // AND the final clamp pass — without it the scan + round/div
      // compute runs 3×; the lazy cache fills inside the main job's
      // first consumer stage, saving the dedicated checkpoint job
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100, 0).cast(LongType).as("c"))
        .withColumn("bk", expr("c div 409600"))
        .cache()
      val roll = base.groupBy("g", "bk").agg(count(lit(1)).as("nb"))
        .withColumn("off", coalesce(sum("nb").over(
          Window.partitionBy("g").orderBy("bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val nG = roll.groupBy("g").agg(sum("nb").as("n"))
        .withColumn("k5", expr("1 + (5 * (n - 1)) div 100"))
        .withColumn("k95", expr("1 + (95 * (n - 1)) div 100"))
      // the buckets holding each target rank (≤ 2 per group) — located
      // on the bounded rollup, then only those buckets' rows get ranked
      // the ≤2-per-group boundary-bucket table collapses to ONE row
      // carrying a "g|bk"→bracket-struct map, riding the boundary-rank
      // pass as a plain cartesian (SHUFFLE_REPLICATE_NL, the hitsInt /
      // stat_levene idiom): a null map lookup IS the bucket filter. The
      // former shape spent FOUR scheduler jobs on this frame and the
      // threshold frame (two eager checkpoints + two broadcast builds);
      // the whole chain now nests inside the main job.
      val boundsMap = roll.join(nG, "g")
        .withColumn("holds5",
          col("off") < col("k5") && col("k5") <= col("off") + col("nb"))
        .withColumn("holds95",
          col("off") < col("k95") && col("k95") <= col("off") + col("nb"))
        .filter(col("holds5") || col("holds95"))
        .agg(map_from_arrays(
          collect_list(concat_ws("|", col("g"), col("bk"))),
          collect_list(struct(col("off"), col("k5"), col("k95"),
            col("holds5"), col("holds95")))).as("bm"))
      val wIn = Window.partitionBy("g", "bk").orderBy("c")
      // ≤3-row thresholds, same collapse: one row with g→lo / g→hi maps
      val thMap = base.hint("shuffle_replicate_nl").crossJoin(boundsMap)
        .withColumn("bs",
          element_at(col("bm"), concat_ws("|", col("g"), col("bk"))))
        .filter(col("bs").isNotNull)
        .withColumn("rn", row_number().over(wIn) + col("bs.off"))
        .select(col("g"),
          when(col("bs.holds5") && col("rn") === col("bs.k5"), col("c"))
            .as("lo_c"),
          when(col("bs.holds95") && col("rn") === col("bs.k95"), col("c"))
            .as("hi_c"))
        .groupBy("g").agg(max("lo_c").as("lo_cents"),
          max("hi_c").as("hi_cents"))
        .agg(map_from_arrays(collect_list(col("g")),
            collect_list(col("lo_cents"))).as("lom"),
          map_from_arrays(collect_list(col("g")),
            collect_list(col("hi_cents"))).as("him"))
      def dd(c: String) = col(c).cast(DoubleType)
      base.hint("shuffle_replicate_nl").crossJoin(thMap)
        .select(col("g"), col("c"),
          element_at(col("lom"), col("g")).as("lo_cents"),
          element_at(col("him"), col("g")).as("hi_cents"))
        .groupBy("g").agg(count(lit(1)).as("n"),
          first("lo_cents").as("lo_cents"),
          first("hi_cents").as("hi_cents"),
          sum(greatest(least(col("c"), col("hi_cents")), col("lo_cents")))
            .as("wsum"),
          sum(when(col("c").between(col("lo_cents"), col("hi_cents")),
            col("c"))).as("tsum"),
          sum(when(col("c").between(col("lo_cents"), col("hi_cents")),
            lit(1L)).otherwise(lit(0L))).as("tn"))
        .select(col("g"), col("n"), col("lo_cents"), col("hi_cents"),
          round(dd("wsum") / dd("n"), 0).cast(LongType)
            .as("winsor_mean_cents"),
          col("tn"),
          round(dd("tsum") / dd("tn"), 0).cast(LongType)
            .as("trim_mean_cents"))
        // 3-row output: sort in one partition, skip the range-sample job
        .coalesce(1).sortWithinPartitions("g")
        .ckpt(true)
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS g,
                     CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
              FROM lineitem),
            ranked AS (
              SELECT g, c,
                     row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                     count(*) OVER (PARTITION BY g) AS n
              FROM base),
            ks AS (
              SELECT g, max(n) AS n,
                     1 + (5 * (max(n) - 1)) // 100 AS k5,
                     1 + (95 * (max(n) - 1)) // 100 AS k95
              FROM ranked GROUP BY g),
            th AS (
              SELECT ranked.g AS g,
                     max(CASE WHEN rn = k5 THEN c END) AS lo_cents,
                     max(CASE WHEN rn = k95 THEN c END) AS hi_cents
              FROM ranked JOIN ks ON ranked.g = ks.g
              GROUP BY 1)
            SELECT base.g AS g, CAST(count(*) AS BIGINT) AS n,
                   lo_cents, hi_cents,
                   CAST(round(CAST(sum(greatest(least(c, hi_cents),
                                                lo_cents)) AS DOUBLE)
                       / count(*), 0) AS BIGINT) AS winsor_mean_cents,
                   CAST(sum(CASE WHEN c BETWEEN lo_cents AND hi_cents
                            THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                   CAST(round(CAST(sum(CASE WHEN c BETWEEN lo_cents
                                              AND hi_cents
                                       THEN c END) AS DOUBLE)
                       / sum(CASE WHEN c BETWEEN lo_cents AND hi_cents
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS trim_mean_cents
            FROM base JOIN th ON base.g = th.g
            GROUP BY base.g, lo_cents, hi_cents
            ORDER BY g"""))

  // ------- dedup_threshold_sweep: duplicate-rate vs Jaccard threshold

  private val thresholdSweep = Q(
    "dedup_threshold_sweep",
    "Duplicate-pair histogram across Jaccard bands — the knob curve a " +
      "curator reads before picking a dedup threshold (how many pairs " +
      "does each 0.1 of threshold admit?). Candidates come from the " +
      "MinHash-LSH band buckets (size-capped, so pair space stays " +
      "linear — never all-pairs), exact word-bigram Jaccard scores " +
      "each candidate once (pairs dedup across bands first), and the " +
      "band id is INTEGER floor((10·|∩|) div |∪|) — a float " +
      "floor(10·j) can land a hair under the band edge and flip " +
      "cross-engine. Per-band sums stay BIGINT micros.",
    (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.tokenPairs(docs, "doc_id", "text",
        distinctTokens = true)
      val ptid = pairs.select(col("doc_id"),
        Dedup.tokenId(col("tok")).as("tid"))
      val sig = Dedup.minhashSignatures(ptid, "doc_id", numHashes = 8)
      val bands = sig.groupBy(col("doc_id"), expr("j div 2").as("band_idx"))
        .agg(concat_ws("_",
          min(when(col("j") % 2 === 0, col("h"))),
          min(when(col("j") % 2 === 1, col("h")))).as("band_key"))
      val buckets = bands.groupBy("band_idx", "band_key")
        .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")).between(2, 20))
      val cand = buckets
        .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
        .select(col("a"),
          explode(slice(col("ids"), col("i") + 2, size(col("ids"))))
            .as("b"))
        .distinct()
      val sh = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          Dedup.bigramShinglesFromToks(col("toks")).as("sh"))
        .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"))
      val scored = cand
        .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a"),
          col("nsh").as("n_a")), "a")
        .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b"),
          col("nsh").as("n_b")), "b")
        .withColumn("inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
        .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
        .withColumn("jac_band", expr("(10 * inter) div uni"))
        .withColumn("jac_micro",
          round(col("inter").cast(DoubleType) / col("uni") * 1e6, 0)
            .cast(LongType))
      scored.groupBy("jac_band")
        .agg(count(lit(1)).as("n_pairs"), sum("jac_micro").as("sum_jac_micro"))
        .transform(graft.engine.Ops.reportSort("jac_band"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                       AS tok
              FROM documents),
            sig AS (
              SELECT doc_id, j,
                     min(((2*j+1)*tid + (7*j+3)) % 8191) AS h
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(tok), 1, 8))::BIGINT AS tid
                    FROM toks)
              CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
              GROUP BY doc_id, j),
            bands AS (
              SELECT doc_id, j // 2 AS band_idx,
                     string_agg(CAST(h AS VARCHAR), '_' ORDER BY j)
                       AS band_key
              FROM sig GROUP BY doc_id, j // 2),
            buckets AS (
              SELECT band_idx, band_key,
                     list_sort(list(doc_id)) AS ids
              FROM bands GROUP BY 1, 2
              HAVING count(*) BETWEEN 2 AND 20),
            cand AS (
              SELECT DISTINCT p.a AS a, p.b AS b
              FROM (SELECT unnest(flatten(list_transform(range(1, len(ids)),
                       i -> list_transform(range(i + 1, len(ids) + 1),
                         j -> {'a': ids[i], 'b': ids[j]})))) AS p
                    FROM buckets)),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i+1])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents)),
            scored AS (
              SELECT CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT)
                       AS inter,
                     CAST(len(x.sh) + len(y.sh)
                          - len(list_intersect(x.sh, y.sh)) AS BIGINT)
                       AS uni
              FROM cand JOIN sh x ON cand.a = x.doc_id
                        JOIN sh y ON cand.b = y.doc_id)
            SELECT (10 * inter) // uni AS jac_band,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CAST(round(CAST(inter AS DOUBLE) / uni * 1e6,
                                       0) AS BIGINT)) AS BIGINT)
                     AS sum_jac_micro
            FROM scored GROUP BY 1 ORDER BY 1"""))

  val all: Seq[Q] = Seq(jarqueBera, winsorized, thresholdSweep)
}
