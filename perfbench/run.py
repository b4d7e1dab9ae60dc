#!/usr/bin/env python3
"""End-to-end benchmark of the reference pipeline, and of analyst rounds
of dashboard sessions and a 20-query mix.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload pipeline_day --seed 1 --seconds 30 --trace 0

Builds the program and the harness from source (once per source state),
runs one workload in one JVM with one client thread, checks every output
(DuckDB oracles included) and prints one JSON line: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Exits non-zero when a
check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pipeline_day", "dashboard_session")
BUILD_DIR = HERE / "target"
HEAP = "4g"
# A run must end within the benchmark's per-run limit of 180 s.
JVM_TIMEOUT_S = 165
# Offline resolution from the pre-filled caches, unless the caller set it.
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sf_dir():
    """The sf0.1 input tables: $SPARK_GRAFT_SF_DIR, as for graft.Bench, or
    else the directory TESTDATA.md lists for scale factor 0.1."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", (ROOT / "TESTDATA.md").read_text(), re.M)
        if not m:
            raise SystemExit("perfbench: TESTDATA.md lists no sf0.1 directory")
        d = m.group(1)
    return d.rstrip("/")


def sources():
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(f for f in d.rglob("*") if f.is_file())
    return files


def build():
    """Compile the program's main sources and the harness with sbt, once
    per source state; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit("perfbench: run from the root of a checkout (no program sources here)")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = BUILD_DIR / "stamp", BUILD_DIR / "classpath"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    log("building")
    env = {**SBT_ENV, **os.environ}
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    BUILD_DIR.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp.write_text(h.hexdigest())
    return cp


def precompute_oracle(p, run_dir, sf_dir, box):
    """While the JVM sets up: once it has written the query mix's oracle
    SQL (after its box probes), compute DuckDB's results into box and
    signal the JVM that its measured window may start."""
    sql_file = run_dir / "oracle-sql.json"
    while not sql_file.is_file():
        if p.poll() is not None:
            return
        time.sleep(0.05)
    try:
        box.update(oracle.mix_expected(sf_dir, json.loads(sql_file.read_text())))
    finally:
        (run_dir / "oracle-done").touch()


def run_jvm(cp, args, run_dir):
    """Run the JVM side in a fresh directory; return its raw record and
    the query mix's oracle results."""
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "record.json"
    nproc = os.cpu_count() or 1
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
              "-XX:-DontCompileHugeMethods",
              "-cp", cp, "graft.perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              args.sf_dir, str(run_dir), str(out)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        expected = {}
        pre = threading.Thread(target=precompute_oracle, args=(p, run_dir, args.sf_dir, expected))
        pre.start()
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
        pre.join()
    if rc != 0 or not out.is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM run failed (exit {rc})")
    return json.loads(out.read_text()), expected


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    args.sf_dir = sf_dir()
    run_dir = ROOT / ".bench_run" / args.workload
    try:
        t0 = time.monotonic()
        rec, expected = run_jvm(cp, args, run_dir)
        t1 = time.monotonic()
        checks = oracle.check(args.workload, rec, args.sf_dir, expected)
        log(f"jvm {t1 - t0:.1f} s, oracle checks {time.monotonic() - t1:.1f} s")
        result = metrics.result(rec, checks, trace=bool(args.trace))
        result_ctx = metrics.context(rec, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in metrics.report_lines(rec, checks, trace=bool(args.trace)):
        print(line)
    print("context " + json.dumps(result_ctx))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
