#!/usr/bin/env python3
"""Compute the olap workload's expected results with DuckDB.

    python3 perfbench/run.py --gen                   # tables + oracle SQL
    python3 perfbench/oracle/make_expected.py        # -> olap_expected.json

For each olap query it runs `SparkEntry.oracleSql` in DuckDB over the
generated sf0.1 tables and stores the order-insensitive digest of every
column, computed exactly as Digest.scala does (see the kinds there).
Float sums are compared with a relative tolerance of 1e-9 of the sum of
absolute values (Digest.FloatTol); everything else must match exactly.
"""
import datetime as dt
import decimal
import json
import sys
import zlib
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent.parent
WORK = BENCH / ".work"
M = (1 << 64) - 1
EPOCH = dt.datetime(1970, 1, 1)
EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def mix64(x):
    z = (x + 0x9E3779B97F4A7C15) & M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M
    return z ^ (z >> 31)


def kind(t):
    t = t.upper()
    if t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
        return "f"
    if t.startswith(("VARCHAR", "BLOB")):
        return "s"
    if t.startswith(("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT",
                     "UINTEGER", "USMALLINT", "UTINYINT", "BOOLEAN", "DATE", "TIMESTAMP")):
        return "i"
    raise ValueError(f"no digest kind for DuckDB type {t}")


def as_long(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, dt.datetime):
        base = EPOCH_TZ if v.tzinfo else EPOCH
        return (v - base) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return (v - EPOCH.date()).days
    return int(v)


def digest(rel):
    cols = [c.lower() for c in rel.columns]
    kinds = [kind(str(t)) for t in rel.types]
    rows = rel.fetchall()
    out = []
    for i, (name, k) in enumerate(zip(cols, kinds)):
        n = s = h = nan = 0
        fs = fa = 0.0
        for r in rows:
            v = r[i]
            if v is None:
                continue
            n += 1
            if k == "i":
                x = as_long(v)
                s += x
                h += mix64(x & M)
            elif k == "f":
                x = float(v) if isinstance(v, decimal.Decimal) else v
                if x != x:
                    nan += 1
                else:
                    fs += x
                    fa += abs(x)
            else:
                b = v if isinstance(v, (bytes, bytearray)) else v.encode("utf-8")
                s += len(b)
                h += zlib.crc32(b)
        out.append({"name": name, "kind": k, "n": n, "s": str(s & M), "h": str(h & M),
                    "fs": fs, "fa": fa, "nan": nan})
    return {"rows": len(rows), "cols": out}


def main():
    sqls = json.loads((WORK / "olap_oracle_sql.json").read_text())
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
              "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{WORK}/data-sf0.1/{t}.parquet/*.parquet'")
    queries = {}
    for name, sql in sqls.items():
        queries[name] = digest(con.sql(sql))
        print(f"{name}: {queries[name]['rows']} rows", file=sys.stderr)
    doc = {"generator": "perfbench DataGen, seed 42, sf 0.1", "duckdb": duckdb.__version__,
           "float_tolerance": "1e-9 of the sum of absolute values", "queries": queries}
    (BENCH / "oracle" / "olap_expected.json").write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
