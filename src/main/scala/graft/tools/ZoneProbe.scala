package graft.tools

import graft.sources.ZoneMap

/** Prints the zone-map prune selectivity behind s11/s12 at a given sf:
  * files kept vs total for the single-key range layout, and for the
  * z-ordered layout each single-dimension prune vs the conjunctive box
  * (the multiplicative-win measurement the SURVEY quotes).
  *
  * Usage: runMain graft.tools.ZoneProbe <sfDir>
  */
object ZoneProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.engine.Engine.session(sfDir)

    def us(d: String): Long = java.time.LocalDateTime.parse(d)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

    // s11: single-key (ts) range layout, 4-day window
    val d1 = graft.QueriesR13a.zonemapEventsDir(spark, sfDir)
    val z1 = ZoneMap.readManifest(d1).get
    val (lo, hi) = (us("2024-01-10T00:00"), us("2024-01-14T00:00"))
    val k1 = z1.count(z => z.maxMicros.get >= lo && z.minMicros.get < hi)
    println(s"[zone] s11 single-key: kept $k1 of ${z1.size} files " +
      s"(4-day window of a 30-day domain)")

    // s12: z-ordered layout, user-quarter × 7-day box
    val d2 = graft.QueriesR13a.zorderEventsDir(spark, sfDir)
    val z2 = ZoneMap.readManifest2(d2).get
    val maxU = z2.flatMap(_.bounds("user_id")._2).max
    val uP = ("user_id", 0L, (maxU + 1) / 4)
    val tP = ("ts_us", us("2024-01-08T00:00"), us("2024-01-15T00:00"))
    def kept(ps: Seq[(String, Long, Long)]) = z2.count(z =>
      ps.forall { case (c, l, h) =>
        val (mn, mx) = z.bounds(c); mx.get >= l && mn.get < h
      })
    println(s"[zone] s12 z-order: total ${z2.size} files, " +
      s"user-only ${kept(Seq(uP))}, ts-only ${kept(Seq(tP))}, " +
      s"2-D box ${kept(Seq(uP, tP))}")
    spark.stop()
  }
}
