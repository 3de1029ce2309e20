#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 via Spark, runs the
matching ``oracle_sql()`` via DuckDB over the same parquet, and compares
row count + column names + an order-insensitive value hash. Queries without
an oracle get a rows-only check (rows >= 0, stable schema).

Usage: python3 scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(pdf) -> str:
    """Order-insensitive hash: sort columns by name, rows by repr."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "|".join(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm_cell(v) -> str:
    import math

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))  # normalize True/1 across engines (numpy-aware)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from ocr_search_spark.session import get_spark

    only = set(sys.argv[1:])
    unknown = only - set(entry.queries())
    if unknown:
        # silently matching nothing would print a vacuous ALL OK
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows, cols={list(spdf.columns)}")
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} != {sorted(opdf.columns)}")
        if not problems and value_hash(spdf) != value_hash(opdf):
            problems.append("value hash mismatch")
            # show first differing row for debugging
            a = spdf.reindex(sorted(spdf.columns), axis=1)
            b = opdf.reindex(sorted(opdf.columns), axis=1)
            ra = sorted("|".join(_norm_cell(v) for v in r) for r in a.itertuples(index=False))
            rb = sorted("|".join(_norm_cell(v) for v in r) for r in b.itertuples(index=False))
            for x, y in zip(ra, rb):
                if x != y:
                    print(f"      spark : {x[:200]}")
                    print(f"      duckdb: {y[:200]}")
                    break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(spdf)} rows")
    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
