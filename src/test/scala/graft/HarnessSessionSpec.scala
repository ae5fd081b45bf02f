package graft

import graft.engine.Engine

/** The harness plumbing around [[Engine.session]]: `Engine.releasing`
  * frees exactly the blocks its body left persisted, on every exit path,
  * and no main builds a session other than through `Engine.session`.
  */
class HarnessSessionSpec extends SparkSpec {

  test("releasing frees what the body left persisted, on return and on throw") {
    val sc = spark.sparkContext
    val kept = sc.parallelize(1 to 10, 2).persist()
    kept.count()
    def leak(): Int = {
      val rdd = sc.parallelize(1 to 10, 2).persist()
      rdd.count()
      rdd.id
    }
    try {
      var leaked = -1
      assert(Engine.releasing(spark) { leaked = leak(); 7 } == 7)
      assert(!sc.getPersistentRDDs.contains(leaked), "a block the body left persisted survived")
      assert(sc.getPersistentRDDs.contains(kept.id), "a block persisted before the body was freed")
      intercept[IllegalStateException](Engine.releasing(spark) {
        leaked = leak()
        throw new IllegalStateException("body")
      })
      assert(!sc.getPersistentRDDs.contains(leaked), "a failing body's block survived")
      assert(sc.getPersistentRDDs.contains(kept.id), "a block persisted before the body was freed")
    } finally kept.unpersist()
  }

  test("SparkSession.builder appears in main sources only in Engine.session") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"source scan found only ${files.size} files")
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder") => s"$f:${i + 1}"
      }
    }
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/engine/Engine.scala:"),
      hits.mkString("SparkSession.builder outside Engine.session:\n", "\n", ""))
  }
}
