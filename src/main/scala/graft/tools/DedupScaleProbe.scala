package graft.tools

import org.apache.spark.sql.functions._

/** Growth-rate evidence for the documents-tier asymptotics claims: the
  * dedup family (shingle→signature→band-bucket→verify, "never
  * all-pairs") and the corpus text operators are CLAIMED near-linear;
  * this probe runs the shipped graded plans verbatim over 1×/4×/8×
  * scaled documents fixtures and prints the wall-time curve — a
  * superlinear bend here means a hidden pair-space or whole-corpus
  * serialization the fixture was too small to expose.
  *
  * Scaling model: M perturbed copies, each copy's tokens prefixed with
  * a copy tag (`cK_tok`), so copies form disjoint vocab "domains" —
  * within-copy duplicate structure is preserved exactly (the fixture's
  * planted dup rate per domain), while cross-copy shingles never
  * collide. That mimics a corpus growing by new domains at constant
  * per-domain dup density; it deliberately does NOT model cross-domain
  * near-dups (those are the occupancy-capped hot-bucket path, probed by
  * KnnScaleProbe's density growth instead). Dev tool, not graded.
  *
  * Usage: runMain graft.tools.DedupScaleProbe [mults=1,4,8] [q1,q2,...]
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val mults = (if (args.nonEmpty) args(0) else "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val names = (if (args.length > 1) args(1)
      else "dedup_minhash_lsh,dedup_prefix_filter,dedup_components," +
        "dedup_simhash,text_tfidf_top")
      .split(",").toSeq
    val base = "/root/testdata/sf0.1"
    val spark = graft.engine.Engine.session(base)

    def scaledDir(mult: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"doc_scale_${mult}x_").toString
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val n = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
      (0 until mult).map { c =>
        docs.select(
          (col("doc_id") + lit(c * n)).as("doc_id"),
          // copy-tag every token: disjoint vocab per copy, identical
          // within-copy structure (same dup pairs, shifted ids)
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit(s"c${c}_"), t))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // the non-scaled tables some text queries also touch
      Seq("embeddings").foreach { t =>
        spark.read.parquet(s"$base/$t.parquet").coalesce(2)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      dir
    }

    def time(name: String, d: String): Double = {
      val fn = graft.Queries.byName(name).fn
      graft.engine.Engine.releasing(spark) {
        val t0 = System.nanoTime()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    val dirs = mults.map(m => m -> scaledDir(m)).toMap
    println(f"[doc-scale] ${"query"}%-24s " +
      mults.map(m => f"${m}%2dx").mkString("   "))
    names.foreach { q =>
      val times = mults.map { m =>
        val d = dirs(m)
        time(q, d) // warm
        math.min(time(q, d), time(q, d))
      }
      println(f"[doc-scale] $q%-24s " +
        times.map(t => f"$t%6.2f").mkString(" "))
    }
    spark.stop()
  }
}
