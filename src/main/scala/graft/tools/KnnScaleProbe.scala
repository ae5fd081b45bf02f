package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.Similarity

/** Empirical scaling curve for the round-12 sim_knn_label rework: runs
  * the SHIPPED banded-LSH kNN query (verbatim, via the graded fn over a
  * synthetic scaled fixture) against the pre-round-12 brute-force shape
  * at 1×/5×/10× the corpus, with queries staying 10% of the corpus —
  * the regime where brute force is O(n²/10) and the LSH path is
  * near-linear (candidates bounded by the occupancy cap). The corpus
  * scales by unioning perturbed copies (a deterministic per-copy,
  * per-dimension sine offset, so copies occupy DIFFERENT directions —
  * straight duplication would collapse into identical-signature buckets
  * and measure the cap, not the banding). Dev tool, not graded.
  *
  * Usage: runMain graft.tools.KnnScaleProbe [multipliers=1,5,10]
  */
object KnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = (if (args.nonEmpty) args(0) else "1,5,10")
      .split(",").map(_.trim.toInt).toSeq
    val base = "/root/testdata/sf0.1"
    val spark = graft.engine.Engine.session(base)

    def scaledDir(mult: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"knn_scale_${mult}x_").toString
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      val n = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1
      val copies = (0 until mult).map { c =>
        emb.select(
          (col("vec_id") + lit(c * n)).as("vec_id"),
          expr(s"transform(embedding, (x, j) -> " +
            s"cast(x + 0.02 * sin($c * 64 + j) as float))").as("embedding"),
          col("label"))
      }
      copies.reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }

    /** The pre-round-12 shape: bruteForceTopK crossJoin + vote. */
    def bruteShape(d: String): DataFrame = {
      val emb = graft.engine.Engine.table(spark, d, "embeddings")
        .select(col("vec_id").as("id"),
          Similarity.toDoubleVec(col("embedding")).as("vec"), col("label"))
      val q = emb.filter(col("id") % 10 === 0)
        .select(col("id").as("q_id"), col("vec").as("qv"))
      val nn = Similarity.bruteForceTopK(emb.select("id", "vec"), q, 5)
      val votes = nn
        .join(emb.select(col("id").as("cand"), col("label").as("n_label")),
          "cand")
        .groupBy("q_id", "n_label").agg(count(lit(1)).as("votes"))
      votes.withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("votes"), col("n_label"))))
        .filter(col("rn") === 1)
    }

    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    println("[knn-scale] corpus multiplier | LSH (shipped plan) | brute-force (old plan)")
    mults.foreach { m =>
      val d = scaledDir(m)
      // warm each shape once (codegen), then best-of-2
      val lshFn = graft.Queries.byName("sim_knn_label").fn
      time(lshFn(spark, d)); time(bruteShape(d))
      val lsh = math.min(time(lshFn(spark, d)), time(lshFn(spark, d)))
      val bf = math.min(time(bruteShape(d)), time(bruteShape(d)))
      val rows = spark.read.parquet(s"$d/embeddings.parquet").count()
      println(f"[knn-scale] ${m}x ($rows%6d vecs, ${rows / 10} queries): " +
        f"lsh $lsh%6.2f s | brute $bf%6.2f s | brute/lsh ${bf / lsh}%5.2f")
    }
    spark.stop()
  }
}
