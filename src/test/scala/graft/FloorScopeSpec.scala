package graft

import graft.engine.Engine

/** Engine's fixture floor gate: the harness floor confs
  * (`fixtureFloorConfs`) and the CPU-dense pinned parallelism
  * (`computeParts`) engage only on a fixture-sized source dir with
  * `spark.graft.floorScope` not false — production reads keep AQE and the
  * session's own parallelism.
  */
class FloorScopeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fixtureFloorConfs: gated session twin sets, skips, and never fires over-gate") {
    val before = spark.conf.getAll
    try {
      // fixture-sized dir: every floor conf set
      Engine.fixtureFloorConfs(spark, sf)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(spark.conf.get("spark.sql.shuffle.partitions") ==
        Engine.FloorParts.toString)
      assert(spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "false")
      // skip set (the SPARK_EXTRA_CONF A/B path): pinned key untouched
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      Engine.fixtureFloorConfs(spark, sf,
        skip = Set("spark.sql.shuffle.partitions"))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "17",
        "fixtureFloorConfs clobbered a caller-pinned key")
      // conf gate
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.graft.floorScope", "false")
      Engine.fixtureFloorConfs(spark, sf)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "fixtureFloorConfs fired despite floorScope=false")
    } finally {
      // the shared session must leave exactly as it came: every later
      // suite in this JVM runs on it
      val after = spark.conf.getAll
      (after.keySet -- before.keySet).foreach(spark.conf.unset)
      before.foreach { case (k, v) => if (!after.get(k).contains(v)) spark.conf.set(k, v) }
    }
    assert(spark.conf.getAll == before, "the test left session confs changed")
  }

  test("size gate: a production-sized source dir never engages the scope") {
    // a sparse 2 GB file makes the dir read as over-gate without writing
    // 2 GB — File.length reports the logical size
    val dir = java.nio.file.Files.createTempDirectory("graft_big_")
    val big = new java.io.RandomAccessFile(
      dir.resolve("huge.parquet").toFile, "rw")
    try {
      big.setLength(2L << 30)
      big.close()
      val before = spark.conf.getAll
      Engine.fixtureFloorConfs(spark, dir.toString)
      assert(spark.conf.getAll == before,
        "fixtureFloorConfs changed the session despite an over-gate source dir")
      assert(Engine.computeParts(spark, dir.toString) ==
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "computeParts did not return the session setting over the gate")
      // the same gate engages on the fixture dir: the floor-derived count
      assert(Engine.computeParts(spark, sf) == math.max(Engine.FloorParts,
        math.min(2 * Engine.FloorParts, spark.sparkContext.defaultParallelism)))
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("huge.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
