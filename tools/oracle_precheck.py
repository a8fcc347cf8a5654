#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify's
parquet dumps against SparkEntry.oracleSql in DuckDB and report per-query
match, timing each oracle. Usage:
python3 tools/oracle_precheck.py <verify_out_dir> <sf_dir>"""
import json
import sys
import time
from pathlib import Path

import duckdb

TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "events", "documents", "embeddings"]

# DuckDB's memory cap: an oracle that needs more spills or fails with an
# out-of-memory error under its own name instead of growing the process
# until the host kills it
MEMORY_LIMIT = "8GB"


def main():
    out = Path(sys.argv[1])
    sf = Path(sys.argv[2])
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT})
    for t in TABLES:
        p = sf / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.loads((out / "oracle_sql.json").read_text())
    n_ok = n_bad = n_noorc = 0
    secs = {}
    for q in sorted(p.name for p in out.iterdir() if p.is_dir()):
        if q not in oracles:
            n_noorc += 1
            print(f"{q:28s} no_oracle (rows-only check)")
            continue
        t0 = time.perf_counter()
        try:
            o = con.sql(oracles[q]).df()
            secs[q] = time.perf_counter() - t0
            s = con.sql(f"SELECT * FROM '{out / q}/*.parquet'").df()
            o, s = o[sorted(o.columns)], s[sorted(s.columns)]
            schema = list(o.columns) == list(s.columns)
            if schema:
                # integer WIDTH differences (duckdb int64 vs spark int32)
                # are tolerated by the driver's value-hash compare —
                # coerce before the equality check
                for c in o.columns:
                    if str(o[c].dtype) != str(s[c].dtype) and \
                            o[c].dtype.kind == "i" and s[c].dtype.kind == "i":
                        o[c] = o[c].astype("int64")
                        s[c] = s[c].astype("int64")
            match = schema and list(map(str, o.dtypes)) == list(map(str, s.dtypes)) \
                and o.equals(s)
        except Exception as e:  # noqa: BLE001 - report, don't die
            secs.setdefault(q, time.perf_counter() - t0)
            print(f"{q:28s} ERROR after {secs[q]:.1f}s {e}")
            n_bad += 1
            continue
        if match:
            n_ok += 1
            print(f"{q:28s} ok ({len(s)} rows, oracle {secs[q]:.1f}s)")
        else:
            n_bad += 1
            print(f"{q:28s} MISMATCH (rows {len(o)} vs {len(s)}, schema={schema})")
    print(f"\nsummary: {n_ok} ok, {n_bad} mismatched, {n_noorc} rows-only")
    print("slowest oracles: " + ", ".join(
        f"{q} {t:.1f}s" for q, t in sorted(secs.items(), key=lambda kv: -kv[1])[:5]))
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
