#!/usr/bin/env python3
"""Run the arrowhousespark benchmark.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --gen           # olap tables + oracle SQL, for oracle/

Run from the repository root. The engine and the harness are compiled
from source on first use (build.sh) into perfbench/.build; inputs, traces
and the per-run record (runs.jsonl) go to perfbench/.work. The last line
of standard output is the result JSON.
"""
import argparse
import hashlib
import os
import re
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def spark_jars():
    """SPARK_JARS, else the jars directory build.sbt compiles against."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (REPO / "build.sbt").read_text())
    if not m:
        sys.exit("[perfbench] set SPARK_JARS: build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    roots = [REPO / "src" / "main" / "scala", REPO / "src" / "main" / "resources", BENCH / "src"]
    files = sorted(p for r in roots for p in r.rglob("*") if p.is_file())
    return files + [BENCH / "build.sh"]


def build():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return h.hexdigest()
    print("[perfbench] building", file=sys.stderr, flush=True)
    subprocess.run(["bash", str(BENCH / "build.sh")], check=True, stdout=sys.stderr,
                   env={**os.environ, "SPARK_JARS": spark_jars()})
    stamp.write_text(h.hexdigest())
    return h.hexdigest()


def ensure_inputs(build_id):
    """Generate the fixed olap/lake tables once per build: they do not
    depend on --seed, so a run's set-up only opens them."""
    stamp = WORK / "inputs.stamp"
    if stamp.exists() and stamp.read_text() == build_id:
        return 0
    print("[perfbench] generating the fixed input tables", file=sys.stderr, flush=True)
    code = java(["--mode", "gen"], echo=False)
    if code == 0:
        stamp.write_text(build_id)
    return code


def java(args, echo=True):
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for m in OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] + [
        # A fixed heap and young generation: with G1 sizing them adaptively,
        # olap runs made 22 to 55 collections each, and the runs with the
        # most were the slowest. The heap is not pre-touched, so the peak
        # RSS follows the memory the program actually touches.
        "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:ReservedCodeCacheSize=512m",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
        f"-Dspark.local.dir={WORK / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{BUILD / 'classes'}:{spark_jars()}/*",
        "graft.perfbench.Main", "--work", str(WORK), "--bench-dir", str(BENCH)] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # a terminated run.py must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("[perfbench] run exceeded its time limit", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    (sys.stdout if echo else sys.stderr).write(out)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["olap", "lake"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--gen", action="store_true")
    a = ap.parse_args()
    if not (REPO / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        print(f"[perfbench] no engine sources under {REPO / 'src'}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if not (a.selftest or a.gen or a.workload):
        ap.error("--workload is required")
    build_id = build()
    if a.selftest:
        return java(["--mode", "selftest", "--seed", str(a.seed)])
    if a.gen:
        return java(["--mode", "gen"])
    code = ensure_inputs(build_id)
    if code != 0:
        return code
    return java(["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)])


if __name__ == "__main__":
    sys.exit(main())
