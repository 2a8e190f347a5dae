#!/usr/bin/env python3
"""Repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The script compiles the program
(src/main/scala) and the harness (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into a directory keyed by the sources' hash
under $CARGO_TARGET_DIR (default .bench_build), runs one JVM for the
workload, and prints a readable report followed, as the last line, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. Workloads, metrics and the per-layer map are described
in perfbench/README.md.

Inputs found through the repository: the Spark jars where build.sbt's
`unmanagedBase` points (or $SPARK_HOME/jars), and query_mix's sf0.1 tables
where TESTDATA.md lists them (or $SPARK_GRAFT_SF_DIR, as for graft.Bench).
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("ticks", "query_mix")
# Per-layer metrics of layers a workload does not run; they read 0. Any
# other per-layer metric a traced run does not report fails the run.
NOT_RUN = {
    "ticks": ("queries.jobs_per_query", "queries.stages_per_query",
              "queries.tasks_per_query", "queries.driver_gap_ms"),
    "query_mix": ("streaming.", "backfill.", "harness.", "ops.state_",
                  "ops.rows_dropped_by_watermark", "spark.jobs_per_batch",
                  "spark.driver_gap_ms_per_batch", "spark.scaling_ratio",
                  "spark.single_core_events_per_s"),
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_HEAP = "1536m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

HERE = Path(__file__).resolve().parent


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def from_repo(root, doc, pattern):
    """The first group of `pattern` in the repository file `doc`."""
    f = root / doc
    m = re.search(pattern, f.read_text()) if f.exists() else None
    if not m:
        fail(f"cannot find {pattern!r} in {doc}")
    return m.group(1)


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        d = Path(from_repo(root, "build.sbt",
                           r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
    jars = sorted(d.glob("*.jar"))
    if not jars:
        fail(f"no Spark jars under {d}")
    return jars


def sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    if not prog:
        fail("no program sources under src/main/scala; run from the root "
             "of a source checkout")
    if not harness:
        fail("no harness sources under perfbench/src")
    return prog, harness


def scalac(out, classpath, files, jars, log):
    out.mkdir(parents=True, exist_ok=True)
    compiler = [str(j) for j in jars if j.name.startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = out / "sources.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(classpath), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"compile failed (see {log.name})")


def tree_hash(root, files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compiles the program once per program-source hash and the harness
    once per (program, harness) hash; returns the classpath entries."""
    jars = spark_jars(root)
    prog, harness = sources(root)
    base = build_dir / "perfbench"
    pkey = tree_hash(root, prog)
    program = base / f"program-{pkey}"
    hclasses = base / f"harness-{tree_hash(root, harness, pkey)}"
    base.mkdir(parents=True, exist_ok=True)
    jar_cp = [str(j) for j in jars]
    with open(base / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, files, cp in ((program, prog, jar_cp),
                               (hclasses, harness, jar_cp + [str(program)])):
            stamp = out / "BUILT"
            if stamp.exists():
                continue
            shutil.rmtree(out, ignore_errors=True)
            t = time.time()
            with open(base / "build.log", "w") as log:
                scalac(out, cp, files, jars, log)
            stamp.write_text(f"{time.time() - t:.1f}\n")
            print(f"perfbench: built {out.name} in {time.time() - t:.1f} s",
                  file=sys.stderr)
    return [str(hclasses), str(program), str(jars[0].parent / "*")]


def java_cmd(cp, work, main_args):
    # A fixed heap size, so that collections do not depend on how the heap
    # happened to grow.
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss4m"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + [f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join(cp), "perfbench.Main"] + main_args)


def run_jvm(cmd, cwd, timeout):
    """Runs the JVM in its own process group, its output to stderr; kills
    the whole group on timeout and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout} s and was killed", 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.loads(spec_path.read_text())
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = build(root, build_dir)

    if a.selftest:
        sys.path.insert(0, str(HERE))
        import expectations
        py_ok = expectations.selftest()
        code = subprocess.run(java_cmd(cp, build_dir, ["selftest"]),
                              cwd=build_dir).returncode
        sys.exit(0 if py_ok and code == 0 else 1)
    if not a.workload:
        fail("--workload is required")

    work = build_dir / "perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = build_dir / "perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    report = work / "report.json"
    spans = out_dir / f"spans-{a.workload}-{a.seed}.jsonl"
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or from_repo(
        root, "TESTDATA.md", r"\|\s*0\.1\s*\|\s*`([^`]+?)/?`")
    try:
        t0_ms = int(time.time() * 1000)
        code = run_jvm(java_cmd(cp, work, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--report", str(report),
            "--spans", str(spans), "--t0-ms", str(t0_ms), "--sf", sf,
            "--expectations", str(HERE / "expectations.json")]),
            work, RUN_TIMEOUT_S)
        if code != 0 or not report.exists():
            fail(f"harness exited with code {code} and no report", 1)
        rep = json.loads(report.read_text())
        shutil.copy(report, out_dir / f"report-{a.workload}-{a.seed}-"
                    f"t{a.trace}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  "
          f"trace {a.trace}  cores {rep['cores']}")
    print(f"loadavg start [{rep['loadavg_start']}]  end [{rep['loadavg_end']}]")
    for name, value, unit in rep["named"]:
        print(f"  {name} = {fmt(value)} {unit}")
    attempted, failed = int(rep["attempted"]), int(rep["failed"])
    print(f"  error_rate = {failed / max(1, attempted):.6g} "
          f"({failed} failed of {attempted} attempted)")
    for f in rep["failed_ops"]:
        print(f"  failed: {f}", file=sys.stderr)
    for e in rep["errors"]:
        print(f"  CHECK FAILED: {e}", file=sys.stderr)
    if rep["invalid"]:
        fail("invalid run, not reported: " + "; ".join(rep["invalid"]), 3)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = rep["layer"] if a.trace else rep["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None and a.trace and m["name"].startswith(
                NOT_RUN[a.workload]):
            v = 0.0
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} = {fmt(v)} {m['unit']}")
    if missing:
        fail("metrics not measured: " + ", ".join(missing), 1)
    correct = rep["correct"] and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
