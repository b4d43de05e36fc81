"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column names, and a
dtype-sensitive value hash of the pandas-canonicalized frames.

The canonicalization deliberately mirrors the external driver's observed
path (round-1 VERDICT.md §"What's wrong" item 3): DuckDB ``.df()`` and
Spark ``toPandas()``, columns sorted by name, rows sorted by all columns,
cells hashed via ``repr`` so dtype drift is visible.  This is what makes
the replica catch the two round-1 comparator traps the old
``fetchall()``-based replica was blind to:

- DuckDB HUGEINT aggregates surface as pandas float64 (``2.0``) while
  Spark returns int64 (``2``) — same value, different repr → hash drift.
- array-typed output cells are numpy arrays, which pandas ``sort_values``
  cannot factorize → the same ``unhashable type: 'numpy.ndarray'``
  TypeError the driver raises.

Used by tests/test_oracle_parity.py and runnable directly:

    python -m reindexer_spark.oracle [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

from reindexer_spark.catalog import TABLES


def run_oracle_duckdb(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run oracle SQL on DuckDB with the catalog tables present under
    ``sf_dir`` registered as views (a table the SQL reads but the
    directory lacks fails in DuckDB as an unknown table); returns the
    result as a pandas DataFrame, the external gate's path."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con.sql(sql).df()
    finally:
        con.close()


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonical form: columns sorted by name, rows sorted
    by every column.  Raises TypeError on unhashable cells (arrays) just
    like the driver does — that is a feature: queries must not emit them."""
    cols = sorted(pdf.columns)
    out = pdf[cols]
    if cols:
        out = out.sort_values(by=cols, kind="mergesort")
    return out.reset_index(drop=True)


def value_hash(pdf: pd.DataFrame) -> str:
    """Dtype-sensitive hash: int64 2 and float64 2.0 hash differently,
    exactly the drift class the driver's comparator flags."""
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update(repr(row).encode())
        h.update(b"\x00")
    return h.hexdigest()


def compare_query(spark, name: str, sf_dir: str) -> list[str]:
    """Compare one query against its oracle; returns a list of problems
    (empty = match).  Queries without an oracle get a rows-only check —
    but the Spark side is still canonicalized, so array-typed outputs
    fail even for rows-only queries (they crash the driver the same)."""
    from reindexer_spark.registry import get_query

    q = get_query(name)
    sdf = q.fn(spark, sf_dir)

    # Schema guard, checked BEFORE any data moves: array/map/struct output
    # columns crash the driver's pandas canonicalizer even when the test
    # scale happens to produce few/empty rows.  Serialize at the query's
    # output boundary (array_join / to_json / flat rows) instead.
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if complex_cols:
        return [
            "complex-typed output columns (driver comparator crashes on "
            f"these): {complex_cols}"
        ]

    spdf = canonicalize(sdf.toPandas())

    if q.oracle is None:
        return []  # rows-only: executable + canonicalizable is the check

    opdf = canonicalize(run_oracle_duckdb(q.oracle, sf_dir))

    problems: list[str] = []
    if list(spdf.columns) != list(opdf.columns):
        problems.append(
            f"schema mismatch: spark={list(spdf.columns)} oracle={list(opdf.columns)}"
        )
        return problems
    if len(spdf) != len(opdf):
        problems.append(f"row count: spark={len(spdf)} oracle={len(opdf)}")
    sh, oh = value_hash(spdf), value_hash(opdf)
    if sh != oh:
        diffs = []
        n = min(len(spdf), len(opdf))
        for i in range(n):
            srow = tuple(spdf.iloc[i])
            orow = tuple(opdf.iloc[i])
            if repr(srow) != repr(orow):
                diffs.append((i, srow, orow))
                if len(diffs) >= 3:
                    break
        dtypes = {
            c: (str(spdf[c].dtype), str(opdf[c].dtype))
            for c in spdf.columns
            if str(spdf[c].dtype) != str(opdf[c].dtype)
        }
        problems.append(
            f"value hash differs; dtype drift={dtypes!r} first diffs={diffs!r}"
        )
    return problems


def main() -> int:
    from reindexer_spark import all_queries, get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(all_queries())
    import time

    spark = get_spark("oracle-check")
    failed = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            problems = compare_query(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(exc).__name__}: {exc}"]
        elapsed = time.perf_counter() - t0
        if problems:
            failed += 1
            print(f"FAIL {name} ({elapsed:.1f}s)", flush=True)
            for p in problems:
                print(f"     {p[:1000]}", flush=True)
        else:
            print(f"ok   {name} ({elapsed:.1f}s)", flush=True)
    print(f"\n{len(names) - failed}/{len(names)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
