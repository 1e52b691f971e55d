#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 graftbench/selftest.py

From the root of a checkout, checks that:
  1. every workload runs once (--tiny 1), exits 0, reports correct=true,
     failed=0, and prints every end_to_end metric of BENCHMARK.json with
     its unit;
  2. a traced run (--trace 1) prints every per_layer metric with its unit;
  3. a deliberately wrong expected fingerprint (--corrupt-expected 1) makes
     the run report failed ops, fail_ratio > 0, and exit non-zero — for a
     crawl workload and for corpus_ops;
  4. in a directory holding only BENCHMARK.json and the benchmark's own
     files, the command exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(extra, cwd=ROOT):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd = spec["command"] + ["--seed", "7", "--seconds", "1"] + extra
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    out = json.loads(lines[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"], out.keys()
    return out


def record(lines):
    return json.loads(lines[-2])["run_record"]


def check_metrics(out, wanted):
    for m in wanted:
        got = out["metrics"].get(m["name"])
        assert got is not None, f"metric {m['name']} missing"
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    assert len(out["metrics"]) == len(wanted), sorted(out["metrics"])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def case(name, fn):
        try:
            fn()
            print(f"ok   {name}", flush=True)
        except Exception as e:  # report every case, then fail once
            failures.append(name)
            print(f"FAIL {name}: {e}", flush=True)

    # steady_discovery is not in BENCHMARK.json (run budget) but stays runnable
    names = [w["name"] for w in spec["workloads"]]
    names += [w for w in ("steady_discovery",) if w not in names]
    for w in names:
        def plain(w=w):
            rc, lines, err = run(["--workload", w, "--trace", "0", "--tiny", "1"])
            assert rc == 0, f"exit {rc}: {err[-2000:]}"
            out = result(lines)
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            assert record(lines)["fail_ratio"] == 0
            check_metrics(out, spec["end_to_end"])
        case(f"{w} end-to-end metrics", plain)

    def traced():
        rc, lines, err = run(["--workload", "revisit_polite", "--trace", "1", "--tiny", "1"])
        assert rc == 0, f"exit {rc}: {err[-2000:]}"
        out = result(lines)
        assert out["correct"], out
        check_metrics(out, spec["per_layer"])
        assert os.path.exists(record(lines)["trace_file"])
    case("revisit_polite traced per-layer metrics", traced)

    for w in ("steady_discovery", "corpus_ops"):
        def corrupt(w=w):
            rc, lines, err = run(["--workload", w, "--trace", "0", "--tiny", "1",
                                  "--corrupt-expected", "1"])
            assert rc != 0, "a wrong expected output must fail the run"
            out = result(lines)
            assert not out["correct"] and out["failed"] > 0, out
            assert record(lines)["fail_ratio"] > 0
        case(f"{w} wrong expected output fails", corrupt)

    def bare():
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in spec["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target"))
            rc, lines, _ = run(["--workload", names[0], "--trace", "0"], cwd=d)
            assert rc != 0 and not lines, (rc, lines)
    case("bare directory exits non-zero without a result", bare)

    print("failures:", len(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
