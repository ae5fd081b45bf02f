package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.engine.Engine
import graft.operators.Dedup

/** Round-3 batch 10: weighted sampling without replacement
  * (Efraimidis–Spirakis A-ES with a deterministic hash uniform),
  * item–item co-occurrence recommendation mining over order baskets,
  * and closed-form per-group OLS regression from one aggregation pass.
  *
  * Float-determinism notes for this batch: IEEE basic ops (+,-,*,/,sqrt)
  * are correctly rounded, so any fixed expression TREE over identical
  * integer-derived inputs is bit-exact across engines; `ln` may differ by
  * ~1 ulp between libms, which the nano/micro rounding absorbs (threshold
  * 5e-10 absolute vs ~1e-15 relative disagreement).
  */
object QueriesR3j {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------------- curate_weighted_sample: A-ES weighted top-k sample

  private val weightedSample = Q(
    "curate_weighted_sample",
    "Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES): " +
      "each doc draws a deterministic hash-uniform u in (0,1] and keeps " +
      "key = ln(u)/w with w = n_chars; the global top-100 keys ARE a " +
      "weighted sample — longer docs proportionally likelier, " +
      "reproducible across runs, engines, and partitionings (no rand()). " +
      "Keys are nano-rounded BIGINTs, ties broken by doc_id. Map-only " +
      "scoring + TakeOrdered top-k: no global sort at any corpus size, " +
      "and a per-stratum variant is the same plan with a partitioned " +
      "rank.",
    (s, d) => {
      val u = (Dedup.tokenId(concat(lit("ws:"), col("doc_id").cast("string")))
        + 1).cast(DoubleType) / lit(4294967296.0)
      val key = round(log(u) / col("n_chars").cast(DoubleType) * 1e9, 0)
        .cast(LongType)
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), key.as("key_nano"))
        .orderBy(desc("key_nano"), col("doc_id")).limit(100)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("key_nano"), col("doc_id"))))
        .select("rank", "doc_id", "n_chars", "key_nano")
        .transform(graft.engine.Ops.reportSort("rank"))
    },
    Some("""WITH scored AS (
              SELECT doc_id, n_chars,
                     CAST(round(
                       ln(CAST(('0x' || substr(md5('ws:' ||
                             CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1
                           AS DOUBLE) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE) * 1e9, 0) AS BIGINT)
                       AS key_nano
              FROM documents),
            top AS (SELECT doc_id, n_chars, key_nano FROM scored
                    ORDER BY key_nano DESC, doc_id LIMIT 100)
            SELECT row_number() OVER (ORDER BY key_nano DESC, doc_id)
                     AS rank,
                   doc_id, n_chars, key_nano
            FROM top ORDER BY rank"""))

  // ------------- rec_item_cooccur: market-basket item-item cosine

  private val itemCooccur = Q(
    "rec_item_cooccur",
    "Item–item co-occurrence recommendation mining: orders are baskets, " +
      "parts are items; distinct (order, part) pairs self-join on the " +
      "order key (a < b kills mirror duplicates) into pair counts, and " +
      "cosine = c_ab/sqrt(c_a·c_b) ranks the top-20 associations — the " +
      "classic 'bought together' job. The pair space is quadratic only " +
      "in BASKET size (bounded ~7 here, bounded by cart size anywhere), " +
      "so the pair output stays linear in orders. Pairs are enumerated " +
      "INSIDE each basket row — one order-key groupBy collects the " +
      "(deduped, sorted) item set and two chained generators emit each " +
      "a<b pair once, the coPurchasePairs shape — instead of a " +
      "self-join that scans and shuffles the item table twice. Counts " +
      "join back via two hash joins on the part key; cosine is one " +
      "sqrt + one divide over exact BIGINT counts — bit-identical " +
      "trees on both engines.",
    (s, d) => {
      // Round-13 audit (VERDICT r12 task 6, boundary-rotation member):
      // 3 jobs / 6 stages / 0.79 s local — the jobs are the basket
      // cache fill, the broadcast builds off the CACHED baskets, and
      // the pair+verify action; one basket exchange feeds both the
      // count and pair branches and the cnt broadcasts keep the pair
      // stream shuffle-free, so no exchange is droppable — the
      // remaining wall is the 3-job scheduling floor plus the in-basket
      // pair generation itself. Its weak-list membership flips between
      // identical-code runs (r12: 1.21 s driver / 0.27 s same-day) —
      // host rotation, not plan cost.
      val items = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // CPU-heavy generator + pair agg: pin the basket exchange to the
      // session's full parallelism — size-first AQE coalescing would run
      // the ~20 MB pair stream on 2 cores (same rationale as
      // stat_spearman's pinned rank exchange)
      // CPU-dense pinned exchange: 2x-floor compute parallelism
      // (Engine.computeParts, round 14)
      val parts = graft.engine.Engine.computeParts(s, d)
      // ONE basket aggregation feeds both branches: collect_set dedups
      // (ok, pk) inside the basket, so exploding the cached basket
      // arrays IS the distinct — the separate fact-table distinct+agg
      // branch (a second full shuffle) was pure duplicate work
      val baskets = items.repartition(parts, col("ok")).groupBy("ok")
        .agg(array_sort(collect_set(col("pk"))).as("ps"))
        .cache()
      val cnt = baskets.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val pairs = baskets
        .filter(size(col("ps")) >= 2)
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"),
          explode(slice(col("ps"), col("i") + 2, size(col("ps")))).as("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cab"))
      // item counts are catalog-sized (bounded by the part table, not
      // the order volume) — broadcast them so the pair stream never
      // reshuffles on a/b; at a catalog too big to broadcast these fall
      // back to the two hash joins
      pairs
        .join(broadcast(cnt.select(col("pk").as("a"), col("c").as("ca"))),
          "a")
        .join(broadcast(cnt.select(col("pk").as("b"), col("c").as("cb"))),
          "b")
        .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
          round(col("cab").cast(DoubleType) * 1e6 /
            sqrt((col("ca") * col("cb")).cast(DoubleType)), 0)
            .cast(LongType).as("cosine_micro"))
        .orderBy(desc("cab"), col("a"), col("b")).limit(20)
        .ckpt(true)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok,
                                           l_partkey AS pk
                           FROM lineitem),
            cnt AS (SELECT pk, count(*) AS c FROM items GROUP BY 1),
            pairs AS (SELECT x.pk AS a, y.pk AS b, count(*) AS cab
                      FROM items x JOIN items y
                        ON x.ok = y.ok AND x.pk < y.pk
                      GROUP BY 1, 2)
            SELECT a, b, cab, ta.c AS ca, tb.c AS cb,
                   CAST(round(CAST(cab AS DOUBLE) * 1e6 /
                         sqrt(CAST(ta.c * tb.c AS DOUBLE)), 0) AS BIGINT)
                     AS cosine_micro
            FROM pairs
            JOIN cnt ta ON pairs.a = ta.pk
            JOIN cnt tb ON pairs.b = tb.pk
            ORDER BY cab DESC, a, b LIMIT 20"""))

  // ------------- ml_linreg_group: closed-form per-group OLS

  private val linreg = Q(
    "ml_linreg_group",
    "Per-group ordinary-least-squares regression in CLOSED FORM — the " +
      "distributed-ML bridge: y = extendedprice (exact cents) on " +
      "x = quantity per returnflag, from ONE partial-aggregatable pass " +
      "(n, Σx, Σy, Σxy, Σx², Σy² — the sufficient statistics; Spark " +
      "sums the squares as DECIMAL(38,0) so no bench scale can " +
      "overflow). slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²), intercept, and R² " +
      "come from identical double expression trees over those exact " +
      "integers, micro-rounded once. No iteration, no driver math — " +
      "regr_slope semantics at any scale for one shuffle of 6 numbers " +
      "per group.",
    (s, d) => {
      val base = t(s, d, "lineitem").select(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast(LongType).as("x"),
        round(col("l_extendedprice") * 100, 0).cast(LongType).as("y"))
      val agg = base.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
      def dd(c: String) = col(c).cast(DoubleType)
      val cov = dd("n") * dd("sxy") - dd("sx") * dd("sy")
      val varx = dd("n") * dd("sxx") - dd("sx") * dd("sx")
      val vary = dd("n") * dd("syy") - dd("sy") * dd("sy")
      agg.select(col("flag"), col("n"), col("sx"), col("sy"),
          round(cov / varx * 1e6, 0).cast(LongType).as("slope_micro"),
          round((dd("sy") - cov / varx * dd("sx")) / dd("n") * 1e6, 0)
            .cast(LongType).as("intercept_micro"),
          round(cov * cov / (varx * vary) * 1e6, 0)
            .cast(LongType).as("r2_micro"))
        .transform(graft.engine.Ops.reportSort("flag"))
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS flag,
                     CAST(l_quantity AS BIGINT) AS x,
                     CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
              FROM lineitem),
            agg AS (
              SELECT flag,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(x * y) AS sxy,
                     sum(x * x) AS sxx,
                     sum(y * y) AS syy
              FROM base GROUP BY flag),
            dbl AS (
              SELECT flag, n, sx, sy,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
              FROM agg)
            SELECT flag, n, sx, sy,
                   CAST(round(cov / varx * 1e6, 0) AS BIGINT)
                     AS slope_micro,
                   CAST(round((CAST(sy AS DOUBLE) - cov / varx *
                          CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 1e6,
                        0) AS BIGINT) AS intercept_micro,
                   CAST(round(cov * cov / (varx * vary) * 1e6, 0)
                     AS BIGINT) AS r2_micro
            FROM dbl ORDER BY flag"""))

  val all: Seq[Q] = Seq(weightedSample, itemCooccur, linreg)
}
