#!/usr/bin/env python3
"""Local differential harness mirroring the verify driver: run every
registered query on Spark AND its DuckDB oracle, compare row count,
column names, and exact (order-insensitive) values.

Usage: python scripts/check_oracle.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import pathlib
import sys
import traceback

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

from direct_kafka_stream_spark import QUERIES, TABLES, get_session


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, every cell stringified exactly, rows
    sorted — an order-insensitive exact fingerprint."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float) and pd.isna(v):
            return "NULL"
        try:
            if pd.isna(v):  # pandas NaT etc. (scalars only)
                return "NULL"
        except (TypeError, ValueError):
            pass
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, float):
            return repr(float(v))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return repr(v)

    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def lint_output_shape(sdf) -> list[str]:
    """The verify driver canonicalizes results with pandas sort_values,
    which cannot sort array/map/binary cells (numpy.ndarray is
    unhashable). Any top-level ArrayType/MapType/BinaryType column in a
    query's FINAL schema would silently pass here (we stringify) but
    fail the driver — so fail it loudly here instead. Reshape with
    array_join / explode / element_at."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.BinaryType))
    ]
    return bad


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(q, result, con) -> str:
    """Execute ``result``, the built Spark frame of query ``q``, once and
    compare it with ``q``'s DuckDB oracle on ``con``: "OK", or what
    differs."""
    bad_cols = lint_output_shape(result)
    if bad_cols:
        return (
            "SHAPE_LINT: driver-unsortable output columns "
            f"{bad_cols} (array/map/binary) — reshape to scalars"
        )
    sdf = result.toPandas()
    odf = con.sql(q.oracle).df()
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if not problems:
        s, o = normalize(sdf), normalize(odf)
        if s != o:
            n_bad = sum(1 for a, b in zip(s, o) if a != b)
            ex = next(((a, b) for a, b in zip(s, o) if a != b), None)
            problems.append(f"values differ in {n_bad}/{len(s)} rows; first: spark={ex[0]} oracle={ex[1]}")
    return "OK" if not problems else "MISMATCH: " + " | ".join(problems)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("-v", action="store_true", help="print tracebacks on query errors")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_session("oracle-check")
    con = connect(args.sf)

    names = args.queries or list(QUERIES)
    failures = 0
    for name in names:
        try:
            q = QUERIES[name]
            status = check(q, q.spark(spark, args.sf), con)
        except Exception as e:
            status = f"ERROR: {type(e).__name__}: {e}"
            if args.v or len(names) == 1:
                traceback.print_exc()
        if status != "OK":
            failures += 1
        print(f"{name:24s} {status}")
    print(f"\n{len(names) - failures}/{len(names)} passing")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
