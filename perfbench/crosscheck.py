#!/usr/bin/env python3
"""Cross-checks the results behind expected.tsv against the DuckDB oracle.

    python3 perfbench/crosscheck.py <dataDir> <expectOutDir>

`<expectOutDir>` is the directory the `perfbench.Expect` main filled:
`expected.tsv`, one parquet result per query that has an oracle twin, and
`oracle_sql.json`. Each result is compared with its twin run by DuckDB over
the same tables, both sides canonicalized (columns by name, rows sorted,
doubles rounded to 6 dp), and the entry's status in `expected.tsv` becomes
`match` or `mismatch`. Exits 1 if any twin disagrees.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            rr.append((type(v).__name__ if v is not None else "none", str(v)))
        out.append(tuple(rr))
    return sorted(out)


def main():
    data, out = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    status = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out}/results/{name}/*.parquet')")
            exp = con.sql(sql)
            ok = (sorted(got.columns) == sorted(exp.columns) and
                  canon(got.fetchall(), got.columns) == canon(exp.fetchall(), exp.columns))
        except Exception as e:  # a twin DuckDB cannot run counts as a disagreement
            print(f"{name}: {e}")
            ok = False
        status[name] = "match" if ok else "mismatch"
        print(f"{status[name]:8s} {name}")
    path = os.path.join(out, "expected.tsv")
    lines = []
    for line in open(path):
        f = line.rstrip("\n").split("\t")
        if f[4] == "twin":
            f[4] = "match" if status.get(f[0]) == "match" else "mismatch"
        lines.append("\t".join(f) + "\n")
    with open(path, "w") as fh:
        fh.writelines(lines)
    bad = [k for k, v in status.items() if v != "match"]
    print(f"{len(status) - len(bad)} of {len(status)} twins match")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
