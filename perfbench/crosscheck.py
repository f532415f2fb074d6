#!/usr/bin/env python3
"""Commit-time check of the corpus workload's expected result hashes.

Reads the detail file of a `corpus` run (perfbench/out/corpus-seed<n>-trace0.json),
recomputes each query that has oracle SQL in DuckDB over the same tables, and
compares the row-order-insensitive hashes (columns sorted by name, values as
Python prints them, rows sorted, SHA-256 — the repository's oracle-check
definition). With --write, and only when every cross-check agrees, stores the
run's hashes in perfbench/data/hashes.json, which every later run checks
against.

Usage: python3 perfbench/crosscheck.py <detail.json> [--write]
"""
import hashlib
import json
import os
import sys

import duckdb

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings")


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return repr(val)
    if isinstance(val, bool):
        return str(val).lower()
    return str(val)


def frame_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(detail_path, write):
    with open(detail_path) as f:
        queries = json.load(f)["queries"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/sf0.01/{t}.parquet')")
    bad = 0
    for name, q in sorted(queries.items()):
        if not q["hash"]:
            print(f"FAIL {name}: no hash in the run")
            bad += 1
        elif "oracle_sql" not in q:
            print(f"---- {name}: no oracle SQL; hash {q['hash'][:16]} from the run only")
        else:
            res = con.execute(q["oracle_sql"])
            h = frame_hash(res.fetchall(), [d[0] for d in res.description])
            ok = h == q["hash"]
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: spark {q['hash'][:16]} duckdb {h[:16]}")
    if bad:
        sys.exit(f"{bad} mismatches; hashes not written")
    if write:
        with open(os.path.join(DATA, "hashes.json"), "w") as f:
            json.dump({n: q["hash"] for n, q in sorted(queries.items())}, f, indent=2)
            f.write("\n")
        print(f"wrote {len(queries)} hashes")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], "--write" in sys.argv[2:])
