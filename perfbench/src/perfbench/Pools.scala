package perfbench

import java.nio.file.Path

/** The committed query pools and the seeded, cost-stratified sampler.
  *
  * Every inventory query belongs to exactly one pool; [[guard]] fails
  * the run when a pool names a query the inventory lacks, or an
  * inventory query sits in no pool, so a regroup of the query files
  * cannot shrink what is measured without a visible pool edit.
  */
object Pools {

  val names: Seq[String] = Seq("interactive", "operators", "etl")

  /** queries every `operators` sample carries (the open performance items) */
  val pinnedOperators: Seq[String] = Seq("dedup_containment", "text_tfidf_top",
    "text_textrank", "mm_ahash_neardup", "rec_item_cooccur", "rec_als_rank1",
    "g1_pagerank", "stat_bootstrap_poisson")

  def load(dir: Path, pool: String): Seq[String] =
    Util.readLines(dir.resolve(s"$pool.txt")).map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  def loadAll(dir: Path): Map[String, Seq[String]] =
    names.map(p => p -> load(dir, p)).toMap

  /** Problems with the pools against the inventory; empty = consistent. */
  def guard(pools: Map[String, Seq[String]], inventory: Set[String]): Seq[String] = {
    val all = pools.toSeq.flatMap { case (p, qs) => qs.map(_ -> p) }
    val missing = all.collect { case (q, p) if !inventory.contains(q) => s"pool $p names unknown query $q" }
    val dups = all.groupBy(_._1).collect {
      case (q, ps) if ps.size > 1 => s"query $q is in several pools: ${ps.map(_._2).mkString(",")}"
    }
    val pooled = all.map(_._1).toSet
    val orphans = (inventory -- pooled).toSeq.sorted.map(q => s"query $q belongs to no pool")
    missing ++ dups.toSeq.sorted ++ orphans
  }

  /** Stratified sample: sort by cost (then name), cut into consecutive
    * strata of `stride` queries and draw one per stratum, so every draw
    * covers the same cost profile. Returned in cost order. */
  def sample(pool: Seq[String], cost: Map[String, Double], stride: Int,
             rnd: scala.util.Random): Seq[String] =
    pool.sortBy(q => (cost.getOrElse(q, 0.0), q)).grouped(stride)
      .map(g => g(rnd.nextInt(g.size))).toSeq
}
