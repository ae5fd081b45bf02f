package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.engine.Engine

/** Round-4 batch 4: dedup-tier cascade attribution, Brown-Forsythe
  * variance homogeneity, circular time-of-day statistics, IQR fences.
  */
object QueriesR4q {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------------- curate_dedup_cascade: which tier catches what

  private val cascade = Q(
    "curate_dedup_cascade",
    "Dedup-cascade attribution — production dedup runs tiers from " +
      "cheap to expensive (raw exact → normalized → order-insensitive " +
      "token set), and this report says which tier FIRST catches each " +
      "non-keeper doc, per source: three fingerprints computed in one " +
      "map pass, cluster sizes per tier from three keyed aggs over " +
      "fingerprints (never the corpus), tier = the first fingerprint " +
      "whose cluster the doc doesn't lead (keeper = min doc_id). The " +
      "marginal-catch counts are exactly the numbers that justify " +
      "each tier's cost at 100 TB.",
    (s, d) => {
      // native normalization (plans.AlnumNormalize, round 13): one
      // compiled byte scan, byte-identical string (TokenizeSpec)
      val norm = graft.plans.AlnumNormalize(col("text"))
      // round 13: one lineage, three per-fingerprint window minimums.
      // The former keeperOf shape referenced the fingerprint projection
      // FOUR times (main + 3 keyed aggs) — the 3-md5 + double-regex
      // normalization pass ran four times and the plan paid 6 exchanges
      // (3 agg + 3 join). A window min over each fingerprint partition
      // computes the keeper where the doc row already travels: the
      // projection runs once and the plan is exactly 3 exchanges + the
      // tiny report rollup. Cluster posture unchanged — each window key
      // is a fingerprint (bounded clusters), never a corpus-wide key.
      val tiers = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("text")).as("fp_raw"),
          md5(norm).as("fp_norm"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " ")))))
            .as("fp_set"))
        .withColumn("keep_raw",
          min("doc_id").over(Window.partitionBy("fp_raw")))
        .withColumn("keep_norm",
          min("doc_id").over(Window.partitionBy("fp_norm")))
        .withColumn("keep_set",
          min("doc_id").over(Window.partitionBy("fp_set")))
        .withColumn("tier",
          when(col("doc_id") =!= col("keep_raw"), lit("1_exact"))
            .when(col("doc_id") =!= col("keep_norm"), lit("2_normalized"))
            .when(col("doc_id") =!= col("keep_set"), lit("3_token_set"))
            .otherwise(lit("0_kept")))
      tiers.groupBy("source", "tier")
        .agg(count(lit(1)).as("n_docs"))
        .transform(graft.engine.Ops.reportSort("source", "tier"))
    },
    Some("""WITH docs AS (
              SELECT doc_id, source,
                     md5(text) AS fp_raw,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                       AS fp_norm,
                     md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fp_set
              FROM documents),
            kr AS (SELECT fp_raw AS fp, min(doc_id) AS keep FROM docs
                   GROUP BY 1),
            kn AS (SELECT fp_norm AS fp, min(doc_id) AS keep FROM docs
                   GROUP BY 1),
            ks AS (SELECT fp_set AS fp, min(doc_id) AS keep FROM docs
                   GROUP BY 1),
            tiers AS (
              SELECT d.source,
                     CASE WHEN d.doc_id <> kr.keep THEN '1_exact'
                          WHEN d.doc_id <> kn.keep THEN '2_normalized'
                          WHEN d.doc_id <> ks.keep THEN '3_token_set'
                          ELSE '0_kept' END AS tier
              FROM docs d
              JOIN kr ON d.fp_raw = kr.fp
              JOIN kn ON d.fp_norm = kn.fp
              JOIN ks ON d.fp_set = ks.fp)
            SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs
            FROM tiers GROUP BY 1, 2 ORDER BY source, tier"""))

  // ------------- stat_levene: Brown-Forsythe variance homogeneity

  private val levene = Q(
    "stat_levene",
    "Brown-Forsythe variance-homogeneity test (Levene with MEDIAN " +
      "centers — robust to the skew that wrecks mean-centered Levene) " +
      "across return flags: per-flag median order value, absolute " +
      "deviations, then the one-way ANOVA F statistic over the " +
      "deviations — the gate before trusting a pooled-variance t-test. " +
      "Medians are exact lower-median order statistics (2nd of the " +
      "doubled-rank trick — no interpolation to disagree across " +
      "engines); the F combination is a handful of scalar doubles.",
    (s, d) => {
      // AQE's stage-at-a-time scheduling turns each exchange into its
      // own scheduler job; under the fixture floor (AQE off) the eager
      // checkpoint + final materialization run as a handful of jobs.
      // AQE-safe at cluster scale.
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100, 0).cast(LongType).as("x"))
      // exact lower median per group from the (g, value)-COUNT frame:
      // the raw frame collapses to distinct cents values first (the one
      // corpus-scale shuffle, partial-aggregated). The price domain is
      // NOT small — 583k distinct cents at sf0.1, growing toward the
      // full band — so a per-g cumulative window would serialize each
      // flag through one task (measured ~200k rows/task locally; worse
      // at scale). Rank the bracket TWO-LEVEL instead (the spearman /
      // ml_ks_separation scheme): cum counts inside (g, $4096-band)
      // windows — parallelism g×bands — plus a broadcast band rollup
      // carrying each band's exclusive offset and the group total; the
      // global cum is offset + within, and rank (n+1)/2 brackets the
      // median exactly as before. The deviation aggregation reuses the
      // same value-count frame with count weights, so the raw table is
      // scanned once end to end.
      // bk is a pure function of x, so grouping by (g, bk, x) is the same
      // distinct-cents collapse — and pinning the exchange to (g, bk)
      // up front means BOTH downstream shapes that key on (g, bk) (the
      // band rollup and the within-band cum window) run exchange-free on
      // the checkpoint's preserved partitioning: the 583k-row value-count
      // frame is shuffled once, total
      // round 14: cache instead of eager checkpoint (the ml_ks move):
      // the broadcast(off) build job fills it, every later consumer
      // (median filter, deviation pass) hits it, partitioning
      // preserved — one scheduler job saved at identical stage work.
      // CPU-dense banded exchange: 2x-floor parallelism (Engine
      // .computeParts — measured 1.13 -> 0.83 s at the 6-partition floor)
      val vc = base.withColumn("bk", expr("x div 409600"))
        .repartition(graft.engine.Engine.computeParts(s, d),
          col("g"), col("bk"))
        .groupBy("g", "bk", "x").agg(count(lit(1)).as("cnt"))
        .cache()
      val offW = Window.partitionBy("g").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = vc.groupBy("g", "bk").agg(sum("cnt").as("bc"))
        .withColumn("op", coalesce(sum("bc").over(offW), lit(0L)))
        .withColumn("n", sum("bc").over(Window.partitionBy("g")))
        .select("g", "bk", "op", "n")
      val wIn = Window.partitionBy("g", "bk").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the ≤|groups|-row median table collapses to ONE row carrying a
      // g→median map, so the deviation pass pairs it via a plain
      // cartesian of a 1-row side (SHUFFLE_REPLICATE_NL — the hitsInt
      // idiom) riding the main job's stages; the former broadcast(med)
      // spent a whole scheduler job building a 5-row broadcast
      val medMap = vc.join(broadcast(off), Seq("g", "bk"))
        .withColumn("cum", col("op") + sum("cnt").over(wIn))
        .filter(col("cum") - col("cnt") < expr("(n + 1) div 2") &&
          expr("(n + 1) div 2") <= col("cum"))
        .agg(map_from_arrays(collect_list(col("g")),
          collect_list(col("x"))).as("meds"))
      val dev = vc.hint("shuffle_replicate_nl").crossJoin(medMap)
        .select(col("g"), col("cnt"),
          abs(col("x") - element_at(col("meds"), col("g")))
            .cast(DoubleType).as("z"))
      val grp = dev.groupBy("g")
        .agg(sum("cnt").as("ni"), sum(col("cnt") * col("z")).as("si"),
          sum(col("cnt") * col("z") * col("z")).as("sqi"))
      val totals = grp.agg(
        sum("ni").as("n"), count(lit(1)).as("k"),
        sum("si").as("st"),
        sum(col("si") * col("si") / col("ni")).as("between_raw"),
        sum(col("sqi") - col("si") * col("si") / col("ni")).as("within"))
      totals
        .select(col("n"), col("k"),
          ((col("between_raw") - col("st") * col("st") / col("n")) /
            (col("k") - 1)).as("msb"),
          (col("within") / (col("n") - col("k"))).as("msw"))
        .select(col("n"), col("k"),
          round(col("msb") / col("msw"), 6).as("f_stat"))
        .ckpt(true)
    },
    Some("""WITH base AS (
              SELECT l_returnflag AS g,
                     CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x
              FROM lineitem),
            med AS (
              SELECT g, x AS med FROM (
                SELECT g, x,
                       row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
                       count(*) OVER (PARTITION BY g) AS n
                FROM base)
              WHERE rn = (n + 1) // 2),
            dev AS (
              SELECT base.g, CAST(abs(x - med) AS DOUBLE) AS z
              FROM base JOIN med USING (g)),
            grp AS (
              SELECT g, count(*) AS ni, sum(z) AS si,
                     sum(z * z) AS sqi
              FROM dev GROUP BY g),
            tot AS (
              SELECT CAST(sum(ni) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS k,
                     sum(si) AS st,
                     sum(si * si / ni) AS between_raw,
                     sum(sqi - si * si / ni) AS within
              FROM grp)
            SELECT n, k,
                   round(((between_raw - st * st / n) / (k - 1)) /
                         (within / (n - k)), 6) AS f_stat
            FROM tot"""))

  // ------------- stat_circular_mean: time-of-day as angles

  private val circular = Q(
    "stat_circular_mean",
    "Circular statistics for time-of-day — the linear mean of event " +
      "hours is meaningless across midnight (23h and 1h average to " +
      "noon); mapping hours to angles and averaging the unit vectors " +
      "gives the true mean direction and a resultant length R that " +
      "doubles as concentration ([0,1], 1 = all events at one " +
      "instant). Per event type: mean hour, R, and circular variance " +
      "1−R. Map-side trig + one groupBy; sums of sin/cos round to 6 " +
      "before the atan2 so libm ulp drift can't leak into the hash.",
    (s, d) => {
      val twoPi = 2.0 * math.Pi
      val ev = t(s, d, "events")
        .select(col("event_type"),
          ((hour(col("ts")) * 3600 + minute(col("ts")) * 60 +
            second(col("ts"))).cast(DoubleType) / 86400.0 * twoPi)
            .as("theta"))
      // nano-rounded per-event sin/cos terms, exact integer sums: a
      // cross-row double sum is accumulation-order-dependent, and libm
      // trig can differ by an ulp across engines — the
      // micro-rounded-terms-then-integer-sum discipline
      val agg = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(round(sin(col("theta")) * 1e9, 0).cast(LongType))
            .cast(DoubleType) / 1e9, 6).as("ss"),
          round(sum(round(cos(col("theta")) * 1e9, 0).cast(LongType))
            .cast(DoubleType) / 1e9, 6).as("sc"))
      agg.select(col("event_type"), col("n"),
          round((atan2(col("ss"), col("sc")) / twoPi + 1.0) % 1.0 * 24.0, 4)
            .as("mean_hour"),
          round(sqrt(col("ss") * col("ss") + col("sc") * col("sc")) /
            col("n"), 6).as("r"),
          round(lit(1.0) - sqrt(col("ss") * col("ss") +
            col("sc") * col("sc")) / col("n"), 6).as("circ_variance"))
        .transform(graft.engine.Ops.reportSort("event_type"))
    },
    Some(s"""WITH ev AS (
              SELECT event_type,
                     (CAST(hour(ts) * 3600 + minute(ts) * 60 +
                           CAST(floor(second(ts)) AS BIGINT) AS DOUBLE)
                      / 86400.0) * 2 * pi() AS theta
              FROM events),
            agg AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     round(CAST(sum(CAST(round(sin(theta) * 1e9, 0)
                       AS BIGINT)) AS DOUBLE) / 1e9, 6) AS ss,
                     round(CAST(sum(CAST(round(cos(theta) * 1e9, 0)
                       AS BIGINT)) AS DOUBLE) / 1e9, 6) AS sc
              FROM ev GROUP BY 1)
            SELECT event_type, n,
                   round(((atan2(ss, sc) / (2 * pi())) + 1.0) % 1.0 * 24.0,
                     4) AS mean_hour,
                   round(sqrt(ss * ss + sc * sc) / n, 6) AS r,
                   round(1.0 - sqrt(ss * ss + sc * sc) / n, 6)
                     AS circ_variance
            FROM agg ORDER BY event_type"""))

  // ------------- dq_outlier_iqr: Tukey fences per segment

  private val iqrOutliers = Q(
    "dq_outlier_iqr",
    "Tukey-fence outlier audit per market segment: exact lower/upper " +
      "QUARTILE order statistics (rank-based — interpolation-free, so " +
      "both engines pick identical elements), fences at 1.5·IQR, and " +
      "a per-segment report of low/high outlier counts plus the worst " +
      "offender on each side. Quartiles ride one rank window per " +
      "segment; fence checks are a broadcast join back — two passes " +
      "over customers, report rows = segments.",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "customer")
        .select(col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100, 0).cast(LongType).as("x"))
      val wRank = Window.partitionBy("seg").orderBy("x")
      val ranked = base
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
      val quarts = ranked
        .filter(col("rn") === expr("(n + 3) div 4") ||
          col("rn") === expr("(3 * n + 1) div 4"))
        .groupBy("seg")
        .agg(min("x").as("q1"), max("x").as("q3"))
        .select(col("seg"), col("q1"), col("q3"),
          expr("q1 - (q3 - q1) * 3 div 2").as("lo_fence"),
          expr("q3 + (q3 - q1) * 3 div 2").as("hi_fence"))
      base.join(broadcast(quarts), "seg")
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          first("q1").as("q1"), first("q3").as("q3"),
          sum(when(col("x") < col("lo_fence"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("x") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_high"),
          min(when(col("x") < col("lo_fence"), col("x"))).as("worst_low"),
          max(when(col("x") > col("hi_fence"), col("x"))).as("worst_high"))
        .transform(graft.engine.Ops.reportSort("seg"))
    },
    Some("""WITH base AS (
              SELECT c_mktsegment AS seg,
                     CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
              FROM customer),
            ranked AS (
              SELECT seg, x,
                     row_number() OVER (PARTITION BY seg ORDER BY x) AS rn,
                     count(*) OVER (PARTITION BY seg) AS n
              FROM base),
            quarts AS (
              SELECT seg, min(x) AS q1, max(x) AS q3,
                     min(x) - (max(x) - min(x)) * 3 // 2 AS lo_fence,
                     max(x) + (max(x) - min(x)) * 3 // 2 AS hi_fence
              FROM ranked
              WHERE rn = (n + 3) // 4 OR rn = (3 * n + 1) // 4
              GROUP BY seg)
            SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(min(q1) AS BIGINT) AS q1,
                   CAST(min(q3) AS BIGINT) AS q3,
                   CAST(sum(CASE WHEN x < lo_fence THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN x > hi_fence THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_high,
                   min(CASE WHEN x < lo_fence THEN x END) AS worst_low,
                   max(CASE WHEN x > hi_fence THEN x END) AS worst_high
            FROM base JOIN quarts USING (seg)
            GROUP BY seg ORDER BY seg"""))

  val all: Seq[Q] = Seq(cascade, levene, circular, iqrOutliers)
}
