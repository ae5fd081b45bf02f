package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Ck, Engine}

/** The harness mains' `SPARK_EXTRA_CONF` parser: well-formed `k=v`
  * entries pass through, malformed ones are skipped, and the explain-only
  * checkpoint bypass is refused — in the parser, and as a non-zero exit of
  * every harness main before any session starts.
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

  test("Bench, Verify, TimeQ and TimeQuery exit non-zero when the bypass is set") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val mains = Seq(
      "graft.Bench" -> Nil,
      "graft.Verify" -> Seq("/nonexistent-sf", "/nonexistent-out"),
      "graft.TimeQ" -> Seq("/nonexistent-sf", "q1"),
      "graft.tools.TimeQuery" -> Seq("/nonexistent-sf", "q1"))
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
