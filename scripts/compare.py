#!/usr/bin/env python3
"""Local twin of the driver's correctness gate (dev tool, not shipped).

Runs `graft.Verify` output (parquet per query) against the DuckDB oracle
SQL in oracle_sql.json over the same sf dir, compares row counts, column
names, and a canonical value hash (columns sorted by name, values
stringified row-major). Usage:

    python3 scripts/compare.py <sfDir> <verifyOutDir>
"""
import atexit
import decimal
import hashlib
import json
import shutil
import sys
import tempfile

import duckdb
import pyarrow.parquet as pq

from scaled_views import create_views


def canon(v):
    """Mirror the driver's pandas coercion: decimals become float64, so
    a Decimal('104997.90') hashes like the float 104997.9 — without
    this the local gate passes code the driver rejects."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canon_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in rows:
        for i in order:
            h.update(canon(row[i]).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


# Oracle output types whose driver-side coercion diverges from Spark's
# (HUGEINT via pandas goes through float64/object and hashes as "123.0").
# Spark can't emit HUGEINT at all, so any hit is an oracle-SQL bug: add
# a CAST. This is the class check for the r5 failure mode (4 queries
# hash-red on the driver, green locally). DECIMAL is only a WARNING:
# an uncast aggregate drifting to DECIMAL is usually the same bug, but
# a deliberate decimal-typed query pair (Spark decimal column + oracle
# DECIMAL) is legitimate and must stay representable.
PORTABILITY_BAD = ("HUGEINT", "UHUGEINT", "INT128")
PORTABILITY_WARN = ("DECIMAL",)


def lint_types(con, name, sql):
    """DESCRIBE the oracle SQL; return (hard-fail, warn) output columns."""
    cols = con.execute(f"DESCRIBE {sql}").fetchall()
    hard = [(c[0], c[1]) for c in cols
            if any(b in c[1].upper() for b in PORTABILITY_BAD)]
    warn = [(c[0], c[1]) for c in cols
            if any(b in c[1].upper() for b in PORTABILITY_WARN)]
    return hard, warn


def main(sf_dir, out_dir):
    # an in-memory database spills nowhere by default: give it a scratch
    # directory so an oracle larger than DuckDB's memory limit can page
    # out
    spill = tempfile.mkdtemp(prefix="compare_duckdb_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con = duckdb.connect(config={"temp_directory": spill})
    create_views(con, sf_dir)  # honors a scaled "<base>@<k>" dir
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    ok = bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            bad_cols, warn_cols = lint_types(con, name, sql)
        except Exception as e:
            bad_cols, warn_cols = [], []
            print(f"WARN {name}: type lint failed: {e}")
        if warn_cols:
            print(f"WARN {name}: DECIMAL oracle output columns {warn_cols} — "
                  "fine if the Spark side is deliberately decimal, a bug if "
                  "an uncast aggregate drifted")
        if bad_cols:
            print(f"FAIL {name}: non-portable oracle output types "
                  f"(CAST them): {bad_cols}")
            bad += 1
            continue
        try:
            tbl = pq.read_table(f"{out_dir}/{name}")
            spark_cols = list(tbl.column_names)
            spark_rows = [tuple(r[c] for c in spark_cols)
                          for r in tbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            bad += 1
            continue
        try:
            cur = con.execute(sql)
            duck_cols = [d[0] for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            bad += 1
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rows spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            hs = canon_hash(spark_cols, spark_rows)
            hd = canon_hash(duck_cols, duck_rows)
            if hs != hd:
                problems.append("hash mismatch")
                for i, (a, b) in enumerate(zip(spark_rows, duck_rows)):
                    oa = [a[spark_cols.index(c)] for c in sorted(spark_cols)]
                    ob = [b[duck_cols.index(c)] for c in sorted(duck_cols)]
                    if [canon(x) for x in oa] != [canon(x) for x in ob]:
                        problems.append(f"  first diff row {i}: spark={oa} duck={ob}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            bad += 1
        else:
            print(f"OK   {name} ({len(spark_rows)} rows)")
            ok += 1
    print(f"\n{ok} ok, {bad} fail")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
