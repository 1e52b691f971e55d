#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
benchmark code from source (sbt, offline) into graftbench/target; every
call then runs ONE workload in a fresh JVM with a private temp root under
.bench_build/runs/ (java.io.tmpdir, SPARK_LOCAL_DIRS, warehouses, caches),
which is deleted when the run ends.

Output: a run record line ({"run_record": ...}: fail_ratio, run quality,
sizes, per-rep figures) and, last, the result line
{"correct", "attempted", "failed", "metrics"} with every end_to_end metric
of BENCHMARK.json (--trace 0) or every per_layer metric (--trace 1). Exits
non-zero when any op failed its output check or the run could not complete.

Extra flags for the self-test (selftest.py): --tiny 1 (small sizes),
--corrupt-expected 1 (a deliberately wrong expected output).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
ROOT = os.path.dirname(BENCH_DIR)
CLASSPATH = os.path.join(BENCH_DIR, "target", "classpath.txt")
DATA = os.path.join(BENCH_DIR, "data")
WORKLOADS = ("steady_discovery", "revisit_polite", "corpus_ops")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build():
    """Compile (sbt, offline) unless the classpath file is newer than every
    source. sbt's own output goes to stderr: stdout carries the result."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in source_files()):
            return
    log("building engine + benchmark code (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=BENCH_DIR,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise RuntimeError("sbt build failed")
    log(f"build took {time.time() - t0:.1f} s")


def steal_jiffies():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def run_jvm(args, run_root, out_file, cores):
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", run_root, "--data", DATA, "--out", out_file,
            "--cores", str(cores), "--tiny", str(args.tiny),
            "--corrupt-expected", str(args.corrupt_expected)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    logf = os.path.join(run_root, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(logf, errors="replace") as lf:
            tail = lf.read()[-6000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}\n{tail}")


# ---- corpus_ops output checks -----------------------------------------------

def check_corpus(record, corrupt):
    import pyarrow.parquet as pq
    import oracle
    with open(record["details"]["oracle_sql"]) as f:
        oracle_sql = json.load(f)
    keep = os.path.join(ROOT, ".bench_build", "oracle_sql.json")
    with open(keep, "w") as f:
        json.dump(oracle_sql, f)
    expected = oracle.expected_for(oracle_sql, log)
    if corrupt:
        first = sorted(expected)[0]
        expected[first] = (expected[first][0], "0" * 64)
    for op in record["ops"]:
        if not op["ok"]:
            continue
        got = oracle.digest(pq.read_table(op["output"]))
        want = expected[op["name"]]
        if got != want:
            op["ok"] = False
            op["error"] = (f"oracle mismatch: {got[0]} rows, digest {got[1][:12]}; "
                           f"expected {want[0]} rows, digest {want[1][:12]}")


# ---- trace output -----------------------------------------------------------

def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to the span)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        s["self_ms"] = max(0.0, s["end_ms"] - s["start_ms"] - covered)
    return spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM and the temp root are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft: run from a "
            "checkout of the repository")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    run_root = os.path.join(ROOT, ".bench_build", "runs", run_id)
    os.makedirs(run_root)
    steal0 = steal_jiffies()
    t0 = time.time()
    try:
        out_file = os.path.join(run_root, "record.json")
        run_jvm(args, run_root, out_file, cores)
        with open(out_file) as f:
            record = json.load(f)
        if args.workload == "corpus_ops":
            check_corpus(record, args.corrupt_expected)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    ops = record["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = record["per_layer"] if args.trace else record["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        log(f"metrics missing from the run record: {missing}")
        return 3
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}

    trace_file = None
    if args.trace:
        tdir = os.path.join(ROOT, ".bench_build", "traces")
        os.makedirs(tdir, exist_ok=True)
        trace_file = os.path.join(tdir, f"{run_id}.json")
        with open(trace_file, "w") as f:
            json.dump(self_times(record["spans"]), f)
    run_record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fail_ratio": failed / max(1, attempted),
        "failed_ops": [o for o in ops if not o["ok"]][:20],
        "end_to_end": record["end_to_end"],
        "quality": dict(record["details"].pop("quality"),
                        steal_jiffies_whole_run=steal_jiffies() - steal0,
                        nproc=record["nproc"], cores=record["cores"],
                        jvm_flags=record["jvm_flags"],
                        git_commit=git_commit(), source_digest=source_digest(),
                        session_s=record["session_s"],
                        run_wall_s=time.time() - t0),
        "details": record["details"],
        "trace_file": trace_file,
    }
    print(json.dumps({"run_record": run_record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any harness failure
        log(f"run failed: {e}")
        sys.exit(1)
