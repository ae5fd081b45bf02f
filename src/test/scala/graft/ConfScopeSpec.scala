package graft

import graft.engine.Engine

/** `Engine.withConfs` is the one conf scope of query and operator code:
  * it puts back what it changed on every exit path, no query or operator
  * source sets or unsets a conf itself, and the scoped queries leave the
  * session's explicit settings exactly as they found them.
  */
class ConfScopeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val setKey = "spark.graft.confScopeSpec.set"
  private val absentKey = "spark.graft.confScopeSpec.absent"
  // a registered key: `getOption` answers with its default even when unset
  private val registeredKey = "spark.sql.autoBroadcastJoinThreshold"

  private def scoped(body: => Unit): Unit =
    Engine.withConfs(spark)(setKey -> "inner", absentKey -> "inner",
      registeredKey -> "-1") {
      assert(spark.conf.get(setKey) == "inner")
      assert(spark.conf.get(absentKey) == "inner")
      assert(spark.conf.get(registeredKey) == "-1")
      body
    }

  private def assertRestored(): Unit = {
    assert(spark.conf.get(setKey) == "outer")
    assert(!spark.conf.getAll.contains(absentKey))
    assert(!spark.conf.getAll.contains(registeredKey),
      "a registered key that was never set came back set to its default")
  }

  test("withConfs restores set keys and unsets absent ones, on return and on throw") {
    spark.conf.set(setKey, "outer")
    spark.conf.unset(absentKey)
    spark.conf.unset(registeredKey)
    try {
      scoped(())
      assertRestored()
      intercept[IllegalStateException](scoped(throw new IllegalStateException("body")))
      assertRestored()
    } finally spark.conf.unset(setKey)
  }

  test("query and operator sources change confs only through Engine.withConfs") {
    val root = new java.io.File("src/main/scala/graft")
    val files = root.listFiles().filter(f =>
        f.getName.startsWith("Queries") && f.getName.endsWith(".scala")) ++
      new java.io.File(root, "operators").listFiles()
        .filter(_.getName.endsWith(".scala"))
    assert(files.length > 80, s"source scan found only ${files.length} files")
    val calls = files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("conf.set(") || line.contains("conf.unset(") =>
          s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(calls.isEmpty, calls.mkString("conf changes outside withConfs:\n", "\n", ""))
  }

  test("scoped loop and stream queries leave the session's confs unchanged") {
    // Engine.table sets nanosAsLong for events once, unscoped: the lazy
    // scan reads with it at execution time
    Engine.table(spark, sf, "events")
    // a memo hit would skip the stream run whose scope is under test
    QueriesR6a.clearResultMemo()
    for (name <- Seq("g6_kcore", "g7_hits", "dedup_components",
        "text_textrank", "stream_view_click_join")) {
      val before = spark.conf.getAll
      Queries.byName(name).fn(spark, sf).collect()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$name changed session confs: ${changed.mkString(", ")}")
    }
  }
}
