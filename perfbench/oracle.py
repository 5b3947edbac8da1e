#!/usr/bin/env python3
"""DuckDB oracle digests for declared queries.

Usage: oracle.py <sf_dir> <oracle_sql.json> <digest_dir>

Runs each query's oracle SQL in DuckDB over the fixture's parquet tables
and writes the canonical digest of the result (see canon.py) to
<digest_dir>/<key>.json, where the key hashes the fixture directory and the
SQL text. Digests that already exist are kept. The engine's output is
never read here.
"""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def key(sf_dir: str, sql: str) -> str:
    h = hashlib.sha256()
    h.update(os.path.abspath(sf_dir).encode())
    h.update(b"\0")
    h.update(sql.encode())
    return h.hexdigest()[:24]


def main(sf_dir: str, sql_json: str, digest_dir: str) -> int:
    os.makedirs(digest_dir, exist_ok=True)
    queries = json.load(open(sql_json))
    con = None
    for name, sql in sorted(queries.items()):
        path = os.path.join(digest_dir, key(sf_dir, sql) + ".json")
        if os.path.exists(path):
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                f = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(f):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        d = canon.digest(con.sql(sql).df())
        d["query"] = name
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, path)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
