package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.Engine
import graft.operators.Similarity

/** Round-3 batch 36: PSI drift between time periods, tie-aware Spearman
  * rank correlation, and one distributed power-iteration step on the
  * embedding Gram matrix.
  */
object QueriesR4j {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------------- stat_psi_drift: population stability index

  private val psiDrift = Q(
    "stat_psi_drift",
    "Population Stability Index between the pre-1998 baseline and the " +
      "post-1998 current period of order prices — the model-monitoring " +
      "drift gate every scoring pipeline runs before trusting a " +
      "feature: fixed-width 25k bins (cross-engine exact, no " +
      "percentile-interpolation drift), Laplace-smoothed shares " +
      "(+0.5 per observed bin, so empty-on-one-side bins stay " +
      "finite and deterministic), per-bin contribution " +
      "(p_cur − p_base)·ln(p_cur/p_base), and the headline PSI as a " +
      "broadcast scalar join-back. One groupBy on the bin (bounded " +
      "key space) — the whole audit is a single shuffle of bin " +
      "counts at any scale.",
    (s, d) => {
      val binned = t(s, d, "orders")
        .select(floor(col("o_totalprice") / 25000.0).cast(LongType)
          .as("bin"),
          (to_date(col("o_orderdate")) < lit("1998-01-01")).as("is_base"))
      val grp = binned.groupBy("bin")
        .agg(sum(col("is_base").cast(LongType)).cast(LongType).as("n_base"),
          sum((!col("is_base")).cast(LongType)).cast(LongType).as("n_cur"))
      val tot = grp.agg(sum("n_base").cast(LongType).as("nb_tot"),
        sum("n_cur").cast(LongType).as("nc_tot"),
        count(lit(1)).as("k"))
      val pb = (col("n_base").cast("double") + 0.5) /
        (col("nb_tot").cast("double") + col("k").cast("double") * 0.5)
      val pc = (col("n_cur").cast("double") + 0.5) /
        (col("nc_tot").cast("double") + col("k").cast("double") * 0.5)
      val contrib = grp.crossJoin(broadcast(tot))
        .withColumn("p_base", round(pb, 6))
        .withColumn("p_cur", round(pc, 6))
        .withColumn("psi_contrib", round((pc - pb) * log(pc / pb), 6))
      // headline PSI: nano-rounded per-bin terms, exact integer sum (a
      // ~40-term double sum is accumulation-order-dependent; ln is
      // libm-ulp-sensitive) — psi_contrib stays a per-row round
      val total = contrib.agg(
        round(sum(round((pc - pb) * log(pc / pb) * 1e9, 0)
          .cast(LongType)).cast("double") / 1e9, 6).as("psi_total"))
      contrib.crossJoin(broadcast(total))
        .select("bin", "n_base", "n_cur", "p_base", "p_cur",
          "psi_contrib", "psi_total")
        .transform(graft.engine.Ops.reportSort("bin"))
    },
    Some("""WITH binned AS (
              SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
                     CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                       AS is_base
              FROM orders),
            grp AS (
              SELECT bin,
                     CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_base,
                     CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END)
                       AS BIGINT) AS n_cur
              FROM binned GROUP BY 1),
            tot AS (
              SELECT CAST(sum(n_base) AS BIGINT) AS nb_tot,
                     CAST(sum(n_cur) AS BIGINT) AS nc_tot,
                     CAST(count(*) AS BIGINT) AS k
              FROM grp),
            c AS (
              SELECT bin, n_base, n_cur,
                     (CAST(n_base AS DOUBLE) + 0.5) /
                       (CAST(nb_tot AS DOUBLE) + 0.5 * k) AS pbx,
                     (CAST(n_cur AS DOUBLE) + 0.5) /
                       (CAST(nc_tot AS DOUBLE) + 0.5 * k) AS pcx
              FROM grp, tot),
            ttl AS (
              SELECT round(CAST(sum(CAST(round((pcx - pbx) *
                       ln(pcx / pbx) * 1e9, 0) AS BIGINT)) AS DOUBLE)
                     / 1e9, 6) AS psi_total FROM c)
            SELECT bin, n_base, n_cur,
                   round(pbx, 6) AS p_base, round(pcx, 6) AS p_cur,
                   round((pcx - pbx) * ln(pcx / pbx), 6) AS psi_contrib,
                   psi_total
            FROM c, ttl ORDER BY bin"""))

  // ------------- stat_spearman: tie-aware rank correlation

  private val spearman = Q(
    "stat_spearman",
    "Spearman rank correlation between quantity and extended price per " +
      "return flag, with FULL tie handling: average ranks carried in " +
      "doubled integer units (2·rank + tie_count − 1) so every rank " +
      "sum, square sum, and cross sum is an exact BIGINT — the only " +
      "floating-point work is the final Pearson combination over six " +
      "scalars (doubles are affine-invariant, so doubled ranks leave " +
      "rho untouched). A t-statistic comes along for free. Ranking is " +
      "TWO-LEVEL: rows rank within (flag, value-bucket) windows and a " +
      "broadcast bucket-count rollup supplies each bucket's global " +
      "offset — min_rank = offset + within_rank — so the sort " +
      "parallelism is flags×buckets instead of one partition per flag " +
      "(a 3-key flag window serializes the whole table through 3 " +
      "tasks; this is the distributed-ranking pattern that holds at " +
      "100 TB, where per-flag windows cannot).",
    (s, d) => {
      // AQE's stage-at-a-time scheduling gave every exchange of this DAG
      // its own scheduler job (12 locally); under the fixture floor (AQE
      // off) the whole plan runs as one job plus a build per broadcast.
      // The plan is AQE-safe at cluster scale.
      // cents-exact price: ordering/ties/buckets on the integer image of
      // a 2-dp value are exactly the double's (monotone transform)
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").as("x"),
          round(col("l_extendedprice") * 100, 0).cast(LongType).as("yc"))
      // HYBRID ranking — each side by its cardinality. A rank depends
      // only on its value, so the ~50-value quantity side ranks via a
      // broadcast value-count map (2*avg_rank = 2*cum - nb + 1, the
      // stat_levene shape). The PRICE side is the opposite regime —
      // 583k distinct of 600k rows at sf0.1 — so a value map degenerates
      // to the raw frame (the round-6.5 form checkpointed 1.8M rows and
      // broadcast a 583k-row map); it ranks TWO-LEVEL instead: rows rank
      // within (flag, $1000-band) windows off ONE shuffle — the band key
      // also satisfies the tie-count window's (flag, band, yc) clustering,
      // so both windows share that exchange — and a broadcast band-count
      // rollup supplies each band's global offset. Band count scales
      // with the price RANGE, not the corpus, so the rollup broadcast
      // and per-band sort parallelism both hold at 100 TB.
      // NOTE on the 1-row-map cartesian idiom: it was tried here and
      // REVERTED — these two lookup tables total ~9 KB of map payload,
      // and CartesianProductExec materializes the joined row (map
      // included) for every one of the 583k value-count rows before the
      // projection can drop it — ~5 GB of row copying that cost more
      // than the two broadcast-build jobs it saved. The idiom is only
      // free when the map is tens of entries (stat_levene's 3 medians,
      // w30's ≤6 brackets); catalog- or band-scale lookups stay
      // broadcast joins.
      val xmap = base.groupBy("flag", "x").agg(count(lit(1)).as("nb"))
        .withColumn("cum", sum("nb").over(
          Window.partitionBy("flag").orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("flag"), col("x"),
          (lit(2L) * col("cum") - col("nb") + 1L).cast(LongType).as("rx"))
      val banded = base.withColumn("bkt", expr("yc div 100000"))
      val offs = banded.groupBy("flag", "bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", sum("bc").over(
          Window.partitionBy("flag").orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("bc"))
        .select("flag", "bkt", "off")
      val bandW = Window.partitionBy("flag", "bkt").orderBy("yc")
      val tieW = Window.partitionBy("flag", "bkt", "yc")
      // CPU-dense banded rank: pin the window exchange to the 2x-floor
      // compute parallelism (Engine.computeParts — measured 0.82 ->
      // 0.60 s at the 6-partition floor); hash(flag, bkt) satisfies
      // both window requirements, so it is still ONE exchange
      val ranked = banded
        .repartition(graft.engine.Engine.computeParts(s, d),
          col("flag"), col("bkt"))
        .withColumn("rnk", rank().over(bandW))
        .withColumn("ties", count(lit(1)).over(tieW))
        .join(broadcast(offs), Seq("flag", "bkt"))
        .join(broadcast(xmap), Seq("flag", "x"))
        .select(col("flag"), col("rx"),
          (lit(2L) * (col("off") + col("rnk")) + col("ties") - 1L)
            .cast(LongType).as("ry"))
      val agg = ranked.groupBy("flag")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum(col("rx")).cast(LongType).as("sx"),
          sum(col("ry")).cast(LongType).as("sy"),
          sum(col("rx") * col("rx")).cast(LongType).as("sxx"),
          sum(col("ry") * col("ry")).cast(LongType).as("syy"),
          sum(col("rx") * col("ry")).cast(LongType).as("sxy"))
      val nD = col("n").cast("double")
      val num = nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val denX = nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val denY = nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val rho = num / sqrt(denX * denY)
      // 3-row output: sort in one partition, skip the range-sample job
      agg.select(col("flag"), col("n"),
        round(rho, 6).as("rho"),
        round(rho * sqrt((nD - 2.0) / (lit(1.0) - rho * rho)), 6).as("t_stat"))
        .coalesce(1).sortWithinPartitions("flag")
        .ckpt(true)
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS flag, l_quantity AS x,
                     l_extendedprice AS y
              FROM lineitem),
            ranked AS (
              SELECT flag,
                     CAST(2 * rank() OVER (PARTITION BY flag ORDER BY x)
                          + count(*) OVER (PARTITION BY flag, x) - 1
                       AS BIGINT) AS rx,
                     CAST(2 * rank() OVER (PARTITION BY flag ORDER BY y)
                          + count(*) OVER (PARTITION BY flag, y) - 1
                       AS BIGINT) AS ry
              FROM base),
            agg AS (
              SELECT flag, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(rx) AS BIGINT) AS sx,
                     CAST(sum(ry) AS BIGINT) AS sy,
                     CAST(sum(rx * rx) AS BIGINT) AS sxx,
                     CAST(sum(ry * ry) AS BIGINT) AS syy,
                     CAST(sum(rx * ry) AS BIGINT) AS sxy
              FROM ranked GROUP BY 1)
            SELECT flag, n,
                   round((CAST(n AS DOUBLE) * sxy -
                          CAST(sx AS DOUBLE) * sy) /
                     sqrt((CAST(n AS DOUBLE) * sxx -
                           CAST(sx AS DOUBLE) * sx) *
                          (CAST(n AS DOUBLE) * syy -
                           CAST(sy AS DOUBLE) * sy)), 6) AS rho,
                   round(((CAST(n AS DOUBLE) * sxy -
                           CAST(sx AS DOUBLE) * sy) /
                     sqrt((CAST(n AS DOUBLE) * sxx -
                           CAST(sx AS DOUBLE) * sx) *
                          (CAST(n AS DOUBLE) * syy -
                           CAST(sy AS DOUBLE) * sy))) *
                     sqrt((CAST(n AS DOUBLE) - 2.0) /
                       (1.0 - ((CAST(n AS DOUBLE) * sxy -
                                CAST(sx AS DOUBLE) * sy) /
                         sqrt((CAST(n AS DOUBLE) * sxx -
                               CAST(sx AS DOUBLE) * sx) *
                              (CAST(n AS DOUBLE) * syy -
                               CAST(sy AS DOUBLE) * sy))) *
                              ((CAST(n AS DOUBLE) * sxy -
                                CAST(sx AS DOUBLE) * sy) /
                         sqrt((CAST(n AS DOUBLE) * sxx -
                               CAST(sx AS DOUBLE) * sx) *
                              (CAST(n AS DOUBLE) * syy -
                               CAST(sy AS DOUBLE) * sy))))), 6)
                     AS t_stat
            FROM agg ORDER BY flag"""))

  // ------------- ml_pca_power: one power-iteration step on XᵀX

  private val pcaPower = Q(
    "ml_pca_power",
    "One distributed power-iteration step toward the top principal " +
      "direction of the embedding corpus: w = Xᵀ(X·v₀) with the fixed " +
      "deterministic start v₀ = 1/√d — the matrix-free PCA kernel " +
      "(Halko et al.): never materialize the d×d Gram, just one " +
      "map-side dot per row then a posexplode + groupBy on the " +
      "dimension index (d groups — bounded shuffle at any corpus " +
      "size). Outputs the unit-normalized iterate and the Rayleigh " +
      "quotient λ₀ = Σ(x·v₀)² as the eigenvalue lower bound; the " +
      "norm and λ₀ are broadcast scalar join-backs.",
    (s, d) => {
      // integer-exact (cross-row double sums are accumulation-order-
      // dependent — the rag hazard class): quantized components make
      // dot_int/Σdot_int²/Σx·dot exact BIGINTs; originals fall out via
      // exact power-of-two divisions (2^23, 2^46, 2^43); the norm's
      // 64-term sum integer-izes at 1e9 before the sqrt
      val e = t(s, d, "embeddings")
        .select(col("vec_id"),
          Similarity.quantize(Similarity.toDoubleVec(col("embedding")))
            .as("v"))
        .withColumn("dot_i",
          aggregate(col("v"), lit(0L), (acc, x) => acc + x.cast(LongType)))
      val lam = e.agg(
        (sum(col("dot_i") * col("dot_i")).cast(DoubleType) /
          lit(7.0368744177664e13)).as("lambda0"))
      val w = e
        .select(col("dot_i"), posexplode(col("v")).as(Seq("j0", "x")))
        .groupBy((col("j0") + 1).cast(LongType).as("dim"))
        .agg((sum(col("x").cast(LongType) * col("dot_i")).cast(DoubleType) /
          lit(8.796093022208e12)).as("w_raw"))
      val nrm = w.agg(
        sqrt(sum(round(col("w_raw") * col("w_raw") * 1e9, 0)
          .cast(LongType)).cast(DoubleType) / lit(1e9)).as("nrm"))
      w.crossJoin(broadcast(nrm)).crossJoin(broadcast(lam))
        .select(col("dim"), round(col("w_raw"), 6).as("w_raw"),
          round(col("w_raw") / col("nrm"), 6).as("w_unit"),
          round(col("lambda0"), 6).as("lambda0"))
        .transform(graft.engine.Ops.reportSort("dim"))
    },
    Some("""WITH e AS (
              SELECT vec_id,
                     list_transform(embedding::DOUBLE[],
                       x -> round(x * 1048576)) AS v
              FROM embeddings),
            dt AS (
              SELECT vec_id, v,
                     CAST(list_sum(v) AS BIGINT) AS dot_i FROM e),
            lam AS (SELECT CAST(sum(dot_i * dot_i) AS DOUBLE) /
                           70368744177664.0 AS lambda0 FROM dt),
            ex AS (
              SELECT dot_i, unnest(v) AS x,
                     unnest(range(1, len(v) + 1)) AS j
              FROM dt),
            w AS (
              SELECT CAST(j AS BIGINT) AS dim,
                     CAST(sum(CAST(x AS BIGINT) * dot_i) AS DOUBLE) /
                       8796093022208.0 AS w_raw
              FROM ex GROUP BY 1),
            nr AS (SELECT sqrt(CAST(sum(CAST(round(w_raw * w_raw * 1e9, 0)
                            AS BIGINT)) AS DOUBLE) / 1e9) AS nrm FROM w)
            SELECT dim, round(w_raw, 6) AS w_raw,
                   round(w_raw / nrm, 6) AS w_unit,
                   round(lambda0, 6) AS lambda0
            FROM w, nr, lam ORDER BY dim"""))

  val all: Seq[Q] = Seq(psiDrift, spearman, pcaPower)
}
