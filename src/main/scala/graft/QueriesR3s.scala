package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.Engine
import graft.operators.Dedup

/** Round-3 batch 19: point-in-time lookup against an SCD2 history (the
  * bitemporal warehouse staple), Poisson-bootstrap confidence intervals
  * (the one-pass distributed bootstrap), and mode-per-group with pinned
  * tie semantics.
  */
object QueriesR3s {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------------- j22_pit_scd2: point-in-time SCD2 lookup

  private val pitLookup = Q(
    "j22_pit_scd2",
    "Point-in-time lookup against the p10 SCD2 history — the " +
      "bitemporal question a warehouse answers daily: for each sampled " +
      "lineitem, what was its customer's order-status regime when the " +
      "item SHIPPED? The history builds with the keyed gaps-and-islands " +
      "windows (one customer-hash shuffle), and the PIT probe is a " +
      "hash join on the customer plus an interval containment filter — " +
      "intervals per key are bounded by status changes, so the join " +
      "output stays linear. Ships before the first regime left-join to " +
      "NULL rather than vanish.",
    (s, d) => {
      val byCust = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val marked = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"))
        .withColumn("chg",
          when(lag("o_orderstatus", 1).over(byCust).isNull ||
            lag("o_orderstatus", 1).over(byCust) =!= col("o_orderstatus"),
            1).otherwise(0))
        .withColumn("island", sum("chg").over(
          byCust.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val hist = marked.groupBy("o_custkey", "island", "o_orderstatus")
        .agg(min("o_orderdate").as("valid_from"))
        .withColumn("valid_to", lead("valid_from", 1).over(
          Window.partitionBy("o_custkey").orderBy("island")))
      val probes = t(s, d, "lineitem")
        .filter(col("l_linenumber") === 1 &&
          col("l_orderkey") % 10 === 0)
        .join(t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey").as("cust")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("cust"), col("l_shipdate"))
      probes.join(hist,
          col("cust") === col("o_custkey") &&
            col("valid_from") <= col("l_shipdate") &&
            (col("valid_to").isNull ||
              col("l_shipdate") < col("valid_to")),
          "left")
        .select(col("l_orderkey"), col("cust"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
          col("o_orderstatus").as("status_at_ship"),
          col("island"))
        .transform(graft.engine.Ops.reportSort("l_orderkey"))
    },
    Some("""WITH marked AS (
              SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
                     CASE WHEN lag(o_orderstatus) OVER w IS NULL
                            OR lag(o_orderstatus) OVER w <> o_orderstatus
                          THEN 1 ELSE 0 END AS chg
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)),
            isl AS (
              SELECT *, CAST(sum(chg) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
              FROM marked),
            g AS (
              SELECT o_custkey, island, o_orderstatus,
                     min(o_orderdate) AS valid_from
              FROM isl GROUP BY o_custkey, island, o_orderstatus),
            hist AS (
              SELECT o_custkey, island, o_orderstatus, valid_from,
                     lead(valid_from) OVER
                       (PARTITION BY o_custkey ORDER BY island)
                       AS valid_to
              FROM g),
            probes AS (
              SELECT l_orderkey, o_custkey AS cust, l_shipdate
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_linenumber = 1 AND l_orderkey % 10 = 0)
            SELECT l_orderkey, cust,
                   strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
                   h.o_orderstatus AS status_at_ship,
                   h.island AS island
            FROM probes p
            LEFT JOIN hist h
              ON p.cust = h.o_custkey
              AND h.valid_from <= p.l_shipdate
              AND (h.valid_to IS NULL OR p.l_shipdate < h.valid_to)
            ORDER BY l_orderkey"""))

  // ------------- stat_bootstrap_poisson: one-pass distributed bootstrap

  private val bootstrap = Q(
    "stat_bootstrap_poisson",
    "Poisson bootstrap of the mean order value — THE distributed " +
      "bootstrap (each row draws its resample weight independently, so " +
      "no resample ever needs global n): 50 resamples, weights from " +
      "Poisson(1) inverse-CDF over a two-round multiplicative integer " +
      "mixer on (orderkey, resample) — pure BIGINT arithmetic both " +
      "engines evaluate identically and ~20x cheaper than the md5 it " +
      "replaced, all products kept under 2^63 for ANSI overflow safety " +
      "(deterministic, hash-gradable; production swaps in an RNG), " +
      "every resample total an exact integer from " +
      "ONE pass of map-side-combined partial aggs. The 95% CI takes " +
      "exact order statistics (2nd / 49th of 50 integer-micro means) " +
      "— no interpolation ambiguity across engines.",
    (s, d) => {
      // Round 14 (VERDICT r13 task 6): the 50-way sequence+explode
      // (7.5M generator rows at sf0.1, a 5-projection mixer chain per
      // exploded row, a 50-key hash agg, a rank window and a separate
      // full-table agg — 3 jobs / 7 stages) folds into ONE
      // partial-aggregatable pass: operators.BootstrapPoisson runs the
      // identical mixer/threshold/rounding arithmetic per base row into
      // a 50-slot buffer and emits the order statistics directly.
      // BootstrapPoissonSpec proves term-by-term equivalence against
      // the former formulation; overflow headroom documented at the
      // kernel (sums ≤ 4·Σx cents — 2 orders of magnitude under 2^63
      // at the 100 TB posture, the same argument the mixer's products
      // already carried here).
      val base = t(s, d, "orders")
        .select(col("o_orderkey").as("okey"),
          round(col("o_totalprice") * 100, 0).cast(LongType).as("x"))
      graft.operators.BootstrapPoisson.ci(base)
        .select(lit(50L).as("n_resamples"), col("mean_full_micro"),
          col("ci_lo_micro"), col("ci_hi_micro"))
    },
    Some("""WITH base AS (
              SELECT o_orderkey AS okey,
                     CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x
              FROM orders),
            expanded AS (
              SELECT okey, x, b,
                     ((a2 // 64 + a2) % 1000000) AS u
              FROM (SELECT okey, x, b,
                           ((((a1 // 1024 + a1) % 2147483648)
                              * 2246822519) % 2147483648) AS a2
                    FROM (SELECT okey, x, b,
                                 ((okey * 50 + b) * 2654435761)
                                   % 2147483648 AS a1
                          FROM base
                          CROSS JOIN (SELECT unnest(range(0, 50)) AS b)))),
            weighted AS (
              SELECT b, x,
                     CASE WHEN u < 367879 THEN 0
                          WHEN u < 735759 THEN 1
                          WHEN u < 919699 THEN 2
                          WHEN u < 981012 THEN 3 ELSE 4 END AS w
              FROM expanded),
            resamples AS (
              SELECT b,
                     CAST(round(CAST(sum(w * x) AS DOUBLE) /
                       CAST(sum(w) AS DOUBLE) * 1e4, 0) AS BIGINT)
                       AS mean_micro
              FROM weighted GROUP BY b),
            ranked AS (
              SELECT mean_micro, row_number() OVER
                (ORDER BY mean_micro, b) AS rk
              FROM resamples),
            fullagg AS (
              SELECT CAST(round(CAST(sum(x) AS DOUBLE) /
                       CAST(count(*) AS DOUBLE) * 1e4, 0) AS BIGINT)
                       AS mean_full_micro
              FROM base)
            SELECT CAST(50 AS BIGINT) AS n_resamples, mean_full_micro,
                   (SELECT mean_micro FROM ranked WHERE rk = 2)
                     AS ci_lo_micro,
                   (SELECT mean_micro FROM ranked WHERE rk = 49)
                     AS ci_hi_micro
            FROM fullagg"""))

  // ------------- a26_mode_per_group: mode with pinned ties

  private val mode = Q(
    "a26_mode_per_group",
    "Mode (most frequent value) per group with PINNED tie semantics — " +
      "engines' built-in mode() functions break ties arbitrarily, so " +
      "this derives it relationally: value counts per group, " +
      "row_number ordered by (count desc, value asc), keep rank 1. " +
      "Two shuffles: the count groupBy and the per-group top-1 " +
      "window over the tiny count table.",
    (s, d) => {
      val cnt = t(s, d, "orders")
        .groupBy(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))
      cnt.withColumn("rk", row_number().over(
          Window.partitionBy("status")
            .orderBy(desc("cnt"), col("priority"))))
        .filter(col("rk") === 1)
        .select(col("status"), col("priority").as("mode_priority"),
          col("cnt"))
        .transform(graft.engine.Ops.reportSort("status"))
    },
    Some("""WITH cnt AS (SELECT o_orderstatus AS status,
                                o_orderpriority AS priority,
                                count(*) AS cnt
                         FROM orders GROUP BY 1, 2),
            rk AS (SELECT *, row_number() OVER
                     (PARTITION BY status
                      ORDER BY cnt DESC, priority) AS rk
                   FROM cnt)
            SELECT status, priority AS mode_priority, cnt
            FROM rk WHERE rk = 1 ORDER BY status"""))

  val all: Seq[Q] = Seq(pitLookup, bootstrap, mode)
}
