#!/usr/bin/env python3
"""graft benchmark: builds graft and the benchmark from source, runs one
workload in one JVM and prints its metrics; the last stdout line is the
result object. See README.md.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
EXPECTED = HERE / "expected" / "sf0.1.json"
# Seconds a JVM may run before it is killed: a gated run must end within
# 180 s; `pipeline` is a manual workload of several minutes.
WORKLOADS = {"search": 165, "analytics": 165, "ingest": 165, "pipeline": 900}
HEAP = "4g"
# Spark needs these when a SparkSession is created outside spark-submit.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.is_file() else b"-")
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark with sbt when their sources changed;
    returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("graft sources not found at %s" % ROOT)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840, stdin=subprocess.DEVNULL)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die("build failed, see %s" % (BUILD / "build.log"))
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_jvm(cp, a, work, out, timeout):
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xmx" + HEAP, "-Djava.io.tmpdir=%s" % (work / "tmp"),
              "-Duser.timezone=UTC", "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", a.data, "--work", str(work), "--out", str(out),
              "--expected", str(EXPECTED)]
           + (["--pin", a.pin] if a.pin else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        die("JVM %s" % ("timed out" if code is None else "exited with %d" % code), 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1")),
        help="sf0.1 test data directory (see TESTDATA.md)")
    ap.add_argument("--pin", help="write expected digests from this graft.Verify output")
    a = ap.parse_args()

    cp = build()
    if not Path(a.data, "lineitem.parquet").is_file():
        die("test data not found in %s" % a.data)
    work = BUILD / "work" / ("%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    out = work / "result.json"
    try:
        run_jvm(cp, a, work, out, timeout=WORKLOADS[a.workload] + a.seconds)
        if a.pin:
            print("pinned %s" % EXPECTED)
            return 0
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        values = metrics.per_layer(res)
    else:
        values, report = metrics.end_to_end(res)
        print(json.dumps({"report": report}, sort_keys=True))
    failures = [o for o in res["ops"] if not o["ok"]]
    for o in failures[:20]:
        print("FAILED %s %s: %s" % (o["kind"], o["name"], o["err"]), file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
