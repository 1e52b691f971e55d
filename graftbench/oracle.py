"""DuckDB oracle checks for corpus_ops (the tools/check_oracles.py
comparison: columns sorted by name, rows sorted, floats rounded to 9 places).

The minhash/simhash oracles take minutes in DuckDB at sf0.1, so their
canonical results are kept as digests in expected/corpus_ops.json, keyed by
the SQL text and the input files. A query whose SQL or input no longer
matches its stored digest falls back to running the oracle. Regenerate the
file with make_expected.py.
"""
import hashlib
import json
import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH_DIR, "data", "sf0.1")
EXPECTED = os.path.join(BENCH_DIR, "expected", "corpus_ops.json")
TABLES = ("documents", "embeddings", "events")


def sha256(b):
    return hashlib.sha256(b).hexdigest()


def data_digest():
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def norm(v):
    return round(v, 9) if isinstance(v, float) else v


def digest(table):
    """(row count, digest of the canonical rows) of an arrow table."""
    cols = sorted(table.column_names)
    rows = sorted(tuple(norm(r[c]) for c in cols) for r in table.to_pylist())
    return len(rows), sha256(repr((cols, rows)).encode())


def run_oracle(sql):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t + '.parquet')}')")
    return digest(con.execute(sql).fetch_arrow_table())


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def expected_for(oracle_sql, log=lambda m: None):
    """query -> (rows, digest): stored when SQL and input match, else run."""
    stored = load_expected()
    data = data_digest()
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        s = stored.get("queries", {}).get(q)
        if s and s["sql_sha256"] == sha256(sql.encode()) and stored.get("data_sha256") == data:
            out[q] = (s["rows"], s["digest"])
        else:
            log(f"no stored oracle result for {q}; running DuckDB")
            out[q] = run_oracle(sql)
    return out
