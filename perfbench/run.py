#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --fingerprint      # regenerate committed fingerprints

Run from the repository root. Builds the engine and the benchmark from
source with the Scala compiler that ships in the Spark jar directory the
build uses (into .bench_build/), generates the seeded tables once per
scale, then runs one measured JVM. The last stdout line is the JSON result.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
TABLE_SF = "0.02"
TABLES_VERSION = "1"
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_overrides():
    """The run measures default confs: refuse any conf override channel."""
    if "SPARK_EXTRA_CONF" in os.environ:
        fail("refused: SPARK_EXTRA_CONF is set; unset it to measure the default confs", 3)
    for var in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"):
        if "spark.graft." in os.environ.get(var, ""):
            fail(f"refused: {var} sets spark.graft.* confs", 3)


def spark_jars():
    """The jar directory the sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    build = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text()) if build.is_file() else None
    if not m or not Path(m.group(1)).is_dir():
        fail("cannot locate the Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("no engine sources under src/main/scala; run from a full checkout")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala")) + \
        sorted((BENCH / "tests").rglob("*.scala"))
    return files


def java_cmd(jars, heap):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log = f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"
    return ["java", f"-Xmx{heap}", "-Xss8m", log] + opens


def build(jars):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        for f in sorted(p for p in res.rglob("*") if p.is_file()):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "_DONE").is_file():
        return out
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "scalac-args.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = java_cmd(jars, "3g") + ["-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                                   "-d", str(out), "-cp", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed", 2)
    if res.is_dir():
        shutil.copytree(res, out, dirs_exist_ok=True)
    (out / "_DONE").write_text("ok\n")
    return out


def jvm(classes, jars, args, timeout):
    work = BUILD / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = java_cmd(jars, "4g") + ["-Xms4g", f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{jars}/*",
                                  "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=str(work), env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"timed out after {timeout}s", 5)
    return proc.returncode, out.splitlines()


def tables(classes, jars):
    d = BUILD / f"tables-sf{TABLE_SF}-v{TABLES_VERSION}"
    if (d / "_DONE").is_file():
        return d
    shutil.rmtree(d, ignore_errors=True)
    code, lines = jvm(classes, jars, ["gen", str(d), TABLE_SF], 600)
    if code != 0:
        fail("table generation failed", 2)
    (d / "_DONE").write_text("ok\n")
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["interactive", "operators", "etl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--fingerprint", action="store_true")
    a = ap.parse_args()
    refuse_overrides()
    if not (a.workload or a.selftest or a.fingerprint):
        fail("give --workload, --selftest or --fingerprint")
    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        code, lines = jvm(classes, jars, ["selftest", str(BENCH)], RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)
    d = tables(classes, jars)
    opts = ["--tables", str(d), "--work", str(work), "--bench", str(BENCH)]
    if a.fingerprint:
        code, lines = jvm(classes, jars, ["fingerprint", "--workload", "all", "--seed", "0",
                                          "--seconds", "0"] + opts, 3600)
        print("\n".join(lines))
        sys.exit(code)
    code, lines = jvm(classes, jars, ["run", "--workload", a.workload, "--seed", str(a.seed),
                                      "--seconds", str(a.seconds), "--trace", str(a.trace)] + opts,
                      RUN_TIMEOUT_S)
    result = None
    for line in lines:
        if line.startswith("{") and '"metrics"' in line:
            result = line
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"run failed (exit {code})", code or 6)
    json.loads(result)
    shutil.rmtree(work, ignore_errors=True)
    print(result)


if __name__ == "__main__":
    main()
