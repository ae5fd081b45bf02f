package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Ck, Engine}

/** The harness mains' `SPARK_EXTRA_CONF` parser: well-formed `k=v`
  * entries pass through, malformed ones are skipped, and the explain-only
  * checkpoint bypass is refused — in the parser, and as exit status 2 of
  * the harness mains, all of which build their session with
  * `Engine.session`, before any session starts.
  */
class ExtraConfSpec extends AnyFunSuite {

  test("parses k=v entries and skips malformed ones") {
    assert(Engine.extraConfs(Some("a=1;;bad;b=x=y"), "t") === Seq("a" -> "1", "b" -> "x=y"))
    assert(Engine.extraConfs(None, "t").isEmpty)
  }

  test("refuses the checkpoint bypass key") {
    val e = intercept[IllegalArgumentException] {
      Engine.extraConfs(Some(s"a=1;${Ck.BypassKey}=true"), "bench")
    }
    assert(e.getMessage.contains(Ck.BypassKey))
    assert(e.getMessage.contains("ExplainQ"))
  }

  test("every harness main exits 2 on the bypass key before a session starts") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val mains = Seq(
      "graft.Bench" -> Nil,
      "graft.Verify" -> Seq("/nonexistent-sf", "/nonexistent-out"),
      "graft.tools.TimeQuery" -> Seq("/nonexistent-sf", "q1"),
      "graft.tools.FloorCheck" -> Seq("/nonexistent-sf"),
      "graft.tools.StreamProf" -> Seq("/nonexistent-sf"),
      "graft.tools.ExplainQ" -> Seq("/nonexistent-sf", "q1"),
      "graft.tools.ExtCheck" -> Seq("/nonexistent-sf", "q1"))
    for ((main, args) <- mains) {
      val pb = new ProcessBuilder(
        (Seq(java, "-cp", System.getProperty("java.class.path"), main) ++ args): _*)
      pb.environment().put("SPARK_EXTRA_CONF", s"${Ck.BypassKey}=true")
      pb.environment().put("SPARK_GRAFT_SF_DIR", "/nonexistent-sf")
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor() === 2, s"$main exit status, output:\n$out")
      assert(out.contains(s"refusing SPARK_EXTRA_CONF key ${Ck.BypassKey}"), s"$main said:\n$out")
    }
  }
}
