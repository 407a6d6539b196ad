#!/usr/bin/env python3
"""Confirm the recorded query-row digests against DuckDB.

    python3 perfbench/run.py --workload batch_mix --record
    python3 perfbench/digest.py

`--record` runs every query row of `batch_mix` on the current tree and writes
`perfbench/digests/query_mix.tsv` (rows, digest, cost) with the oracle
column `pending` for rows that have DuckDB SQL, and the SQL itself to
`perfbench/out/oracle_sql.json`. This script runs that SQL in DuckDB over
the same tables, digests the result with the same canonical form as
`perfbench.QueryMix.digest`, and rewrites the oracle column: `duckdb`
where the digests agree, `mismatch` where they do not. Rows without
DuckDB SQL stay `spark`. Exit code 1 if any row is `mismatch`.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TSV = os.path.join(HERE, "digests", "query_mix.tsv")
SQL = os.path.join(HERE, "out", "oracle_sql.json")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def fmt_e(v):
    """Java's `%.6e` of a double: its shortest digits, rounded half up."""
    d = decimal.Decimal(repr(v))
    exp = d.adjusted()
    q = d.scaleb(-exp).quantize(decimal.Decimal("1.000000"),
                                rounding=decimal.ROUND_HALF_UP)
    if abs(q) >= 10:
        q = (q / 10).quantize(decimal.Decimal("1.000000"),
                              rounding=decimal.ROUND_HALF_UP)
        exp += 1
    return f"{q:.6f}e{'+' if exp >= 0 else '-'}{abs(exp):02d}"


def canon(v):
    """Mirror of perfbench.QueryMix.canon; change both together."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == math.floor(v) and abs(v) < 1e15:
            return str(int(v))
        return fmt_e(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000
                   + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    with open(SQL) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t + '.parquet')}')")
    with open(TSV) as f:
        lines = f.read().splitlines()
    out, bad = [], 0
    for line in lines:
        if line.startswith("#") or not line.strip():
            out.append(line)
            continue
        name, nrows, dig, cost, status = line.split("\t")
        if name in oracle:
            try:
                cur = con.execute(oracle[name])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                got = digest(cols, rows)
                ok = got == dig and len(rows) == int(nrows)
            except Exception as e:  # an oracle error is a mismatch too
                got, rows, ok = f"error: {e}", [], False
            status = "duckdb" if ok else "mismatch"
            if not ok:
                bad += 1
                print(f"MISMATCH {name}: spark {nrows} rows {dig}, "
                      f"duckdb {len(rows)} rows {got}")
        out.append("\t".join([name, nrows, dig, cost, status]))
    with open(TSV, "w") as f:
        f.write("\n".join(out) + "\n")
    n = sum(1 for line in out if line.endswith("\tduckdb"))
    print(f"{n} rows confirmed by DuckDB, {bad} mismatches")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
