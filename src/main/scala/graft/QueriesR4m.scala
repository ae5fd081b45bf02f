package graft

import graft.engine.Ck.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.engine.Engine

/** Round-3 batch 39: clustering-quality metrics (purity + NMI) against
  * gold labels, field-level survivorship (golden record), and DBSCAN
  * core/border/noise classification via bounded grid-cell joins.
  */
object QueriesR4m {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  // ------------- ml_cluster_nmi: purity + normalized mutual information

  private val clusterNmi = Q(
    "ml_cluster_nmi",
    "Clustering-quality report card against gold labels: embeddings " +
      "cluster by the signs of their first three dimensions (the " +
      "cheapest deterministic LSH partition — 8 cells), and the " +
      "scorecard computes purity, mutual information, both entropies, " +
      "and NMI = MI/√(H_c·H_l) from ONE contingency aggregation. " +
      "Every probability is a ratio of exact BIGINT counts; the " +
      "contingency table is bounded by k_clusters × k_labels rows, so " +
      "marginals and the final fold are broadcast-sized at any corpus " +
      "size. This is the evaluation loop a kmeans/LSH pipeline runs " +
      "after every re-clustering.",
    (s, d) => {
      val pts = t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("lbl"),
          ((element_at(col("embedding"), 1) > 0f).cast(LongType) * 4 +
            (element_at(col("embedding"), 2) > 0f).cast(LongType) * 2 +
            (element_at(col("embedding"), 3) > 0f).cast(LongType))
            .as("cluster"))
      // the contingency table (≤ 8×k_labels rows) feeds SEVEN downstream
      // aggregations — checkpoint it so the embeddings scan + groupBy run
      // once, not once per broadcast-agg subquery (2.15 s → sub-second;
      // DuckDB materializes this CTE implicitly)
      val cont = pts.groupBy("cluster", "lbl")
        .agg(count(lit(1)).as("n_cl"))
        .ckpt(true)
      // the whole scorecard from ONE window + ONE aggregate pass over the
      // tiny contingency frame: marginals ride partition windows, the
      // per-distinct-marginal entropy/count terms fire on the first row
      // of each cluster/label group (rc/rl = 1), and everything folds in
      // a single 1-row agg — replacing the 7 broadcast-agg subqueries +
      // 6 crossJoin assembly (26 scheduler jobs → 4). The bounded frame
      // (k_clusters × k_labels rows) makes the unpartitioned windows a
      // non-hazard at any corpus size.
      val wC = Window.partitionBy("cluster")
      val wL = Window.partitionBy("lbl")
      val nD = col("n").cast("double")
      cont
        .withColumn("a", sum("n_cl").over(wC))
        .withColumn("b", sum("n_cl").over(wL))
        .withColumn("n", sum("n_cl").over(Window.partitionBy()))
        .withColumn("mx", max("n_cl").over(wC))
        .withColumn("rc", row_number().over(wC.orderBy("lbl")))
        .withColumn("rl", row_number().over(wL.orderBy("cluster")))
        .agg(
          max("n").cast(LongType).as("n"),
          sum(when(col("rc") === 1, 1L)).cast(LongType).as("k_clusters"),
          sum(when(col("rl") === 1, 1L)).cast(LongType).as("k_labels"),
          sum(when(col("rc") === 1, col("mx"))).cast(LongType)
            .as("pur_num"),
          sum((col("n_cl").cast("double") / nD) *
            log(nD * col("n_cl").cast("double") /
              (col("a").cast("double") * col("b").cast("double"))))
            .as("mi_raw"),
          sum(when(col("rc") === 1,
            -(col("a").cast("double") / nD) *
              log(col("a").cast("double") / nD))).as("hc_raw"),
          sum(when(col("rl") === 1,
            -(col("b").cast("double") / nD) *
              log(col("b").cast("double") / nD))).as("hl_raw"))
        .select(col("n"), col("k_clusters"), col("k_labels"),
          round(col("pur_num").cast("double") / col("n").cast("double"), 6)
            .as("purity"),
          round(col("mi_raw"), 6).as("mi"),
          round(col("hc_raw"), 6).as("h_cluster"),
          round(col("hl_raw"), 6).as("h_label"),
          round(col("mi_raw") / sqrt(col("hc_raw") * col("hl_raw")), 6)
            .as("nmi"))
    },
    Some("""WITH pts AS (
              SELECT vec_id, CAST(label AS BIGINT) AS lbl,
                     CAST(CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END +
                          CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
                          CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END
                       AS BIGINT) AS cluster
              FROM embeddings),
            cont AS (
              SELECT cluster, lbl, CAST(count(*) AS BIGINT) AS n_cl
              FROM pts GROUP BY 1, 2),
            mc AS (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS a
                   FROM cont GROUP BY 1),
            ml AS (SELECT lbl, CAST(sum(n_cl) AS BIGINT) AS b
                   FROM cont GROUP BY 1),
            tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cont),
            pur AS (
              SELECT CAST(sum(best) AS BIGINT) AS pur_num
              FROM (SELECT cluster, max(n_cl) AS best
                    FROM cont GROUP BY 1)),
            mi AS (
              SELECT sum((CAST(n_cl AS DOUBLE) / n) *
                         ln(n * CAST(n_cl AS DOUBLE) /
                            (CAST(a AS DOUBLE) * b))) AS mi
              FROM cont JOIN mc USING (cluster) JOIN ml USING (lbl), tot),
            hc AS (
              SELECT sum(-(CAST(a AS DOUBLE) / n) *
                         ln(CAST(a AS DOUBLE) / n)) AS h_cluster
              FROM mc, tot),
            hl AS (
              SELECT sum(-(CAST(b AS DOUBLE) / n) *
                         ln(CAST(b AS DOUBLE) / n)) AS h_label
              FROM ml, tot),
            kc AS (SELECT CAST(count(*) AS BIGINT) AS k_clusters FROM mc),
            kl AS (SELECT CAST(count(*) AS BIGINT) AS k_labels FROM ml)
            SELECT n, k_clusters, k_labels,
                   round(CAST(pur_num AS DOUBLE) / n, 6) AS purity,
                   round(mi, 6) AS mi,
                   round(h_cluster, 6) AS h_cluster,
                   round(h_label, 6) AS h_label,
                   round(mi / sqrt(h_cluster * h_label), 6) AS nmi
            FROM tot, kc, kl, pur, mi, hc, hl"""))

  // ------------- er_survivorship: golden-record field merge

  private val survivorship = Q(
    "er_survivorship",
    "Field-level survivorship — the golden-record merge step after " +
      "entity resolution, where each output FIELD follows its own " +
      "rule: latest-wins for status (max order date, order-key " +
      "tiebreak), most-frequent-wins for priority (count desc, then " +
      "lexical asc — fully pinned), max for the spend signal, " +
      "min/max for the lifespan bounds. Latest-wins and mode are " +
      "deterministic STRUCT-ORDERED aggregate picks (ties broken " +
      "explicitly inside the struct order, so reruns and engines " +
      "agree byte-for-byte), associative and hence partial-agg-" +
      "friendly — the whole merge is one two-level keyed " +
      "aggregation, no windows, no joins.",
    (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("day"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("prio"), col("o_totalprice"))
      // ONE two-level aggregation replaces the 3-branch window/agg/join
      // shape (6 stages + 2 joins → 2 keyed shuffles, zero windows):
      // every survivorship rule is a struct-ordered pick — max(struct(
      // day, orderkey, status)) IS latest-wins, min(struct(−count,
      // prio)) IS most-frequent-then-lexical — and both compose through
      // the (custkey, prio) pre-aggregation because they are associative
      val prioLvl = o.groupBy("custkey", "prio")
        .agg(count(lit(1)).as("c"),
          max(struct(col("day"), col("o_orderkey"), col("status")))
            .as("latest0"),
          min("day").as("mind"), max("day").as("maxd"),
          max("o_totalprice").as("maxp"))
      prioLvl.groupBy("custkey")
        .agg(sum("c").cast(LongType).as("n_orders"),
          date_format(min("mind"), "yyyy-MM-dd").as("first_day"),
          date_format(max("maxd"), "yyyy-MM-dd").as("last_day"),
          max(col("latest0")).getField("status").as("latest_status"),
          min(struct((-col("c")).as("nc"), col("prio")))
            .getField("prio").as("top_priority"),
          max("maxp").as("max_price"))
        .select("custkey", "n_orders", "first_day", "last_day",
          "latest_status", "top_priority", "max_price")
        .transform(graft.engine.Ops.reportSort("custkey"))
    },
    Some("""WITH o AS (
              SELECT o_custkey AS custkey, o_orderkey,
                     CAST(o_orderdate AS DATE) AS day,
                     o_orderstatus AS status,
                     o_orderpriority AS prio, o_totalprice
              FROM orders),
            latest AS (
              SELECT custkey, status AS latest_status FROM o
              QUALIFY row_number() OVER (PARTITION BY custkey
                ORDER BY day DESC, o_orderkey DESC) = 1),
            modep AS (
              SELECT custkey, prio AS top_priority FROM (
                SELECT custkey, prio, count(*) AS c
                FROM o GROUP BY 1, 2)
              QUALIFY row_number() OVER (PARTITION BY custkey
                ORDER BY c DESC, prio) = 1),
            aggs AS (
              SELECT custkey, CAST(count(*) AS BIGINT) AS n_orders,
                     strftime(min(day), '%Y-%m-%d') AS first_day,
                     strftime(max(day), '%Y-%m-%d') AS last_day,
                     max(o_totalprice) AS max_price
              FROM o GROUP BY 1)
            SELECT custkey, n_orders, first_day, last_day,
                   latest_status, top_priority, max_price
            FROM aggs JOIN latest USING (custkey)
                      JOIN modep USING (custkey)
            ORDER BY custkey"""))

  // ------------- geo_dbscan_core: density classification

  private val dbscanCore = Q(
    "geo_dbscan_core",
    "DBSCAN's point classification (core / border / noise) at ε=2°, " +
      "minPts=50, over the synthetic customer coordinates: neighbor " +
      "counts come from the geo_grid_join machinery — home-cell keys " +
      "equal to ε so the 3×3 exploded neighborhood provably covers " +
      "every ε-ball, candidates meet in ONE hash equi-join on the " +
      "cell, and the exact predicate is pure-arithmetic degree-space " +
      "distance (no trig in the filter). Border detection is a " +
      "second, identical grid join restricted to core points (semi " +
      "join). Both joins are bounded by cell occupancy — the density " +
      "argument that makes DBSCAN feasible at all survives the " +
      "distributed version unchanged.",
    (s, d) => {
      // `counts` is referenced three times (core set, border probe,
      // final report) — lazily that re-plans the whole grid join per AQE
      // stage (19 scheduler jobs); an eager checkpoint under the fixture
      // floor (AQE off) runs the classification as ~5 jobs.
      val pts = t(s, d, "customer").select(col("c_custkey").as("k"),
        ((col("c_custkey") % 12000) / 100.0 - 60).as("lat"),
        (((col("c_custkey") * 7) % 6000) / 100.0 - 30).as("lon"))
      def cells(df: DataFrame): DataFrame = df
        .select(col("k"), col("lat"), col("lon"),
          explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
            struct((floor(col("lat") / 2) + dx).as("cx"),
              (floor(col("lon") / 2) + dy).as("cy"))): _*)).as("c"))
        .select(col("k"), col("lat"), col("lon"),
          col("c.cx").as("cx"), col("c.cy").as("cy"))
      val home = pts
        .select(col("k").as("k2"), col("lat").as("lat2"),
          col("lon").as("lon2"),
          floor(col("lat") / 2).as("cx"), floor(col("lon") / 2).as("cy"))
      val near = cells(pts).join(home, Seq("cx", "cy"))
        .filter(col("k") =!= col("k2") &&
          (col("lat") - col("lat2")) * (col("lat") - col("lat2")) +
            (col("lon") - col("lon2")) * (col("lon") - col("lon2")) <= 4)
      val counts = pts.join(
        near.groupBy("k").agg(count(lit(1)).as("n_neighbors")),
        Seq("k"), "left").na.fill(0L, Seq("n_neighbors"))
        .withColumn("is_core", col("n_neighbors") >= 50)
        .ckpt(true)
      val cores = counts.filter(col("is_core"))
        .select(col("k").as("k2"), col("lat").as("lat2"),
          col("lon").as("lon2"),
          floor(col("lat") / 2).as("cx"), floor(col("lon") / 2).as("cy"))
      val nearCore = cells(counts.filter(!col("is_core"))
          .select("k", "lat", "lon"))
        .join(cores, Seq("cx", "cy"))
        .filter(col("k") =!= col("k2") &&
          (col("lat") - col("lat2")) * (col("lat") - col("lat2")) +
            (col("lon") - col("lon2")) * (col("lon") - col("lon2")) <= 4)
        .select("k").distinct()
        .withColumn("is_border", lit(true))
      counts.join(nearCore, Seq("k"), "left")
        .na.fill(false, Seq("is_border"))
        .select(col("k").as("custkey"),
          col("n_neighbors").cast(LongType).as("n_neighbors"),
          when(col("is_core"), lit("core"))
            .when(col("is_border"), lit("border"))
            .otherwise(lit("noise")).as("role"))
        .orderBy("custkey")
        .ckpt(true)
    },
    Some("""WITH pts AS (
              SELECT c_custkey AS k,
                     (c_custkey % 12000) / 100.0 - 60 AS lat,
                     ((c_custkey * 7) % 6000) / 100.0 - 30 AS lon
              FROM customer),
            near AS MATERIALIZED (
              SELECT a.k, b.k AS k2
              FROM pts a JOIN pts b
                ON a.k <> b.k
               AND (a.lat - b.lat) * (a.lat - b.lat) +
                   (a.lon - b.lon) * (a.lon - b.lon) <= 4),
            counts AS MATERIALIZED (
              SELECT pts.k,
                     CAST(coalesce(nn.c, 0) AS BIGINT) AS n_neighbors,
                     coalesce(nn.c, 0) >= 50 AS is_core
              FROM pts LEFT JOIN (SELECT k, count(*) AS c
                                  FROM near GROUP BY 1) nn
                ON pts.k = nn.k),
            border AS (
              SELECT DISTINCT nc.k FROM counts nc
              JOIN near ON near.k = nc.k
              JOIN counts c2 ON near.k2 = c2.k AND c2.is_core
              WHERE NOT nc.is_core)
            SELECT counts.k AS custkey, n_neighbors,
                   CASE WHEN is_core THEN 'core'
                        WHEN border.k IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS role
            FROM counts LEFT JOIN border ON counts.k = border.k
            ORDER BY custkey"""))

  val all: Seq[Q] = Seq(clusterNmi, survivorship, dbscanCore)
}
