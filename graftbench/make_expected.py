#!/usr/bin/env python3
"""Regenerate expected/corpus_ops.json: runs every corpus_ops oracle query
in DuckDB over data/sf0.1 and stores the canonical result digests.

    python3 graftbench/make_expected.py [oracle_sql.json]

The oracle SQL file defaults to .bench_build/oracle_sql.json, which every
corpus_ops run writes (it holds SparkEntry.oracleSql for the workload's
queries). Takes several minutes (the minhash oracle dominates).
"""
import json
import os
import sys
import time

import oracle


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(oracle.BENCH_DIR), ".bench_build", "oracle_sql.json")
    with open(src) as f:
        oracle_sql = json.load(f)
    queries = {}
    for q, sql in sorted(oracle_sql.items()):
        t0 = time.time()
        rows, dig = oracle.run_oracle(sql)
        print(f"{q}: {rows} rows in {time.time() - t0:.1f} s", flush=True)
        queries[q] = {"sql_sha256": oracle.sha256(sql.encode()), "rows": rows,
                      "digest": dig}
    os.makedirs(os.path.dirname(oracle.EXPECTED), exist_ok=True)
    with open(oracle.EXPECTED, "w") as f:
        json.dump({"data_sha256": oracle.data_digest(), "queries": queries}, f,
                  indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
