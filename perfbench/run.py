#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload monitor_monthly --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program's main sources plus the benchmark harness with scalac
(into .bench_build/, reused while the sources are unchanged), starts one
benchmark JVM, checks the outputs, and prints as the last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The line before it records the seed, nproc, JVM and Spark versions and the
sample counts. The full record of the run (every unit, check and span) is
written to .bench_out/.
"""
import argparse
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

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
OUT = ROOT / ".bench_out"
WORKLOADS = ("monitor_monthly", "monitor_incremental")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_dir():
    """Spark's jars: the unmanagedBase the program's build.sbt names."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        fail("build.sbt not found: run from the root of a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        fail("build.sbt names no unmanagedBase")
    d = Path(m.group(1))
    if not d.is_dir():
        fail(f"Spark jar directory {d} not found")
    return d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("src/main/scala not found: run from the root of a full checkout")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build():
    """Compile main sources and harness; reuse the classes if unchanged."""
    files = sources()
    jars = jar_dir()
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes, jars
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           f"@{argfile}"]
    log = BUILD / "build.log"
    with open(log, "w") as lf:
        rc = run_bounded(cmd, lf, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes, jars


def run_bounded(cmd, logf, timeout):
    """Run cmd in its own process group; kill the group on timeout; wait."""
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classes, jars, main, args, log, timeout):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # -XX:-UseDynamicNumberOfCompilerThreads: compiler threads live as long
    # as the JVM, so the harness can leave their CPU time out of cpu_s.
    cmd = ["java", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", main] + args
    with open(log, "w") as lf:
        return run_bounded(cmd, lf, timeout)


# ------------------------------------------------------------------- main

E2E = {"setup_s": "s", "unit_s": "s", "cpu_s": "s", "alloc_mb": "MB"}


def per_layer_spec():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def self_test(classes, jars):
    WORK.mkdir(parents=True, exist_ok=True)
    OUT.mkdir(parents=True, exist_ok=True)
    work = WORK / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    log = OUT / "selftest.log"
    rc = jvm(classes, jars, "perfbench.GenCheck",
             ["--work", str(work), "--cores", str(cores())], log, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    print("".join(l for l in log.read_text().splitlines(True) if l.startswith(("PASS", "FAIL"))), end="")
    print("self-test", "passed" if rc == 0 else f"FAILED (exit {rc}); see {log}")
    return 0 if rc == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    classes, jars = build()
    if a.self_test:
        return self_test(classes, jars)
    if not a.workload:
        ap.error("--workload is required")
    layer_spec = per_layer_spec() if a.trace else None

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    OUT.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    record_file, log = OUT / f"{tag}.json", OUT / f"{tag}.log"
    record_file.unlink(missing_ok=True)
    launch_ms = int(time.time() * 1000)
    rc = jvm(classes, jars, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--work", str(work),
        "--out", str(record_file), "--launch-ms", str(launch_ms)],
        log, RUN_TIMEOUT_S)
    if rc != 0 or not record_file.is_file():
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"benchmark JVM failed (exit {rc}); see {log}")
    rec = json.loads(record_file.read_text())
    shutil.rmtree(work, ignore_errors=True)

    for c in rec["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    if a.trace:
        metrics = {n: {"value": rec["per_layer"].get(n, 0.0), "unit": u} for n, u in layer_spec}
    else:
        metrics = {n: {"value": rec["end_to_end"][n], "unit": u} for n, u in E2E.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "nproc": rec["nproc"],
                      "jvm": rec["jvm"], "spark": rec["spark"], "samples": rec["samples"],
                      "record": str(record_file.relative_to(ROOT))}))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
