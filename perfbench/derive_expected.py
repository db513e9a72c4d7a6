#!/usr/bin/env python3
"""Derives perfbench/expected.json: one order-insensitive content hash per op.

Usage (from the root of a checkout):
  python3 perfbench/derive_expected.py [--oracle-timeout 120]

For each op of every workload the hash comes from the DuckDB oracle
(`SparkEntry.oracleSql`) when the op has one and it finishes within the
timeout at sf0.1; otherwise from the current tree's own output. Each entry
records its source, and where both exist whether the tree's output agreed
with the oracle.
"""
import argparse
import json
import sys
import threading

import run as bench


def oracle_hash(con, sql, timeout):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return bench.content_hash(con.execute(sql).fetch_arrow_table())
    except Exception as e:  # interrupted or failing oracle: fall back to the tree
        print(f"  oracle unusable: {str(e)[:200]}", file=sys.stderr)
        return None
    finally:
        timer.cancel()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-timeout", type=float, default=120.0)
    a = ap.parse_args()
    import duckdb
    cp = bench.build()
    with bench.RunDir() as rd:
        inv, _, _ = bench.run_jvm(cp, rd, "inventory", 1, "inventory")
    sf_dir = bench.find_sf_dir()
    con = duckdb.connect()
    for t in bench.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in bench.load_workloads():
        x = bench.execute(name, seed=0, seconds=0, trace=False)
        for op in x["ops"]:
            tree_hash, rows = x["hashes"][op]
            entry = {"hash": tree_hash, "rows": rows, "source": "tree"}
            sql = inv["oracle"].get(op)
            if sql is not None:
                got = oracle_hash(con, sql, a.oracle_timeout)
                if got is not None:
                    entry = {"hash": got[0], "rows": got[1], "source": "oracle",
                             "tree_agrees": got[0] == tree_hash}
            print(f"{op}: {entry}", file=sys.stderr)
            out[op] = entry
    (bench.HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
