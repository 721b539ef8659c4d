"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the oracle on DuckDB over the same parquet tables; compares row count,
column names, and exact (order-insensitive) values. Usage:

    python scripts/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    """Dtype-sensitive canonical form, mirroring the driver's pandas-based hash.

    The driver fetches both sides into pandas and hashes values *including their
    dtype*, so int64 vs float64 (e.g. a DuckDB HUGEINT SUM landing as float64)
    is a mismatch even when the numbers are equal. We therefore keep int and
    float in distinct buckets and never coerce between them.
    """
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, np.ndarray):
        return ("l", tuple(canon(x) for x in v.tolist()))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null", None)
    return (type(v).__name__, v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("parity", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as exc:
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
            ocols = [c.lower() for c in opdf.columns]
            orows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error {exc}")
            n_fail += 1
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(ocols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} duckdb={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(orows)}")
            ok = False
        else:
            a = rowset([c.lower() for c in scols], srows)
            b = rowset(ocols, orows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"FAIL  {name}: value mismatch; first diffs: {diffs}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows match")
        else:
            n_fail += 1
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
