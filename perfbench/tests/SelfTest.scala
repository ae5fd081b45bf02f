package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** The benchmark's own checks: `python3 perfbench/run.py --selftest`. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"[selftest] ${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def run(bench: Path): Int = {
    check("tail percentile leaves >= 10 samples beyond it") {
      Seq(20, 57, 100, 105, 999, 1000, 5000).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val (v, p) = Stats.tail(xs)
        val beyond = xs.count(_ > v)
        val higher = p + 1
        beyond >= 10 && (higher >= 100 || xs.count(_ > Stats.percentile(xs, higher)) < 10)
      } && Stats.tailPercentile(100) == 90 && Stats.tailPercentile(1000) == 99 &&
        Stats.tailPercentile(19) == 50
    }
    check("median and nearest-rank percentile") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5 &&
        Stats.percentile((1 to 10).map(_.toDouble), 90) == 9.0
    }

    val pool = (1 to 40).map(i => f"q$i%02d")
    val cost = pool.zipWithIndex.map { case (q, i) => q -> (i % 7).toDouble }.toMap
    def draw(seed: Long) = Pools.sample(pool, cost, 4, new scala.util.Random(seed))
    check("seeded sample is the same for the same seed") { draw(7) == draw(7) && draw(7) != draw(8) }
    check("sample draws one query per cost stratum") {
      val strata = pool.sortBy(q => (cost(q), q)).grouped(4).toSeq
      val s = draw(11).toSet
      s.size == strata.size && strata.forall(g => g.count(s.contains) == 1)
    }
    check("pool guard flags unknown, duplicated and orphaned queries") {
      val g = Pools.guard(Map("a" -> Seq("x", "y"), "b" -> Seq("y", "z")), Set("x", "y", "w"))
      g.exists(_.contains("unknown query z")) && g.exists(_.contains("query y is in several")) &&
        g.exists(_.contains("query w belongs to no pool"))
    }
    check("committed pools cover the inventory exactly") {
      Pools.guard(Pools.loadAll(bench.resolve("pools")), graft.SparkEntry.queries.keySet).isEmpty
    }

    val tmp = Files.createTempDirectory("perfbench_selftest_")
    check("generated league CSVs and odds body are the same for the same seed") {
      val a = Gen.leagueCsvs(tmp.resolve("a"), 1, 50).map(p => new String(Files.readAllBytes(p)))
      val b = Gen.leagueCsvs(tmp.resolve("b"), 1, 50).map(p => new String(Files.readAllBytes(p)))
      val c = Gen.leagueCsvs(tmp.resolve("c"), 2, 50).map(p => new String(Files.readAllBytes(p)))
      a == b && a != c && Gen.oddsJson(3, 10) == Gen.oddsJson(3, 10)
    }

    val spark = Session.build(tmp.resolve("work"))
    try {
      val t1 = Gen.tables(spark, 0.001)
      val t2 = Gen.tables(spark, 0.001)
      check("generated tables are the same on every build, whatever the partitioning") {
        t1.keys.forall(k => Fp.of(t1(k)) == Fp.of(t2(k).repartition(3)))
      }
      val df = t1("orders")
      val base = Fp.of(df)
      check("canonical hash ignores row and partition order") {
        base == Fp.of(df.repartition(7)) && base == Fp.of(df.orderBy(col("o_orderkey").desc)) &&
          base == Fp.of(df.coalesce(1).orderBy(rand(5))) &&
          base == Fp.of(df.select(df.columns.reverse.map(col).toIndexedSeq: _*))
      }
      check("canonical hash sees a changed value, a dropped row and a duplicated row") {
        val changed = df.withColumn("o_totalprice",
          when(col("o_orderkey") === 3, col("o_totalprice") + 0.01).otherwise(col("o_totalprice")))
        base != Fp.of(changed) && base != Fp.of(df.filter(col("o_orderkey") =!= 3)) &&
          base != Fp.of(df.union(df.filter(col("o_orderkey") === 3)))
      }
      check("canonical hash is blind to float noise below 10 significant digits") {
        Fp.of(df) == Fp.of(df.withColumn("o_totalprice", col("o_totalprice") * (1.0 + 1e-14)))
      }
    } finally spark.stop()
    Util.deleteTree(tmp)
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
