"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count + sorted-column values.  Usable as a script:

    python tests/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def duckdb_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (bytes, bytearray)):
            df[c] = df[c].apply(lambda b: b.hex())
    sort_cols = list(df.columns)
    try:
        df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    except Exception:
        df = df.reset_index(drop=True)
    return df


def _has_decimal(s: pd.Series) -> bool:
    """True iff the series carries decimal.Decimal objects (Spark's
    toPandas materialization of DecimalType)."""
    if s.dtype != object or not len(s):
        return False
    for v in s:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        return isinstance(v, decimal.Decimal)
    return False


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, float_tol: float = 0.0) -> tuple[bool, str]:
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    a = _normalize(spark_pdf)
    b = _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # DTYPE-FAITHFUL decimal handling: the driver hashes SERIALIZED
        # values, so a Decimal column on one engine vs float64 on the
        # other ("-5055506" vs "-5055506.0") hash-diverges even when
        # the values are numerically identical (the pl_modularity
        # r8/r9 red).  Never float-coerce a decimal column — compare
        # its textual form exactly; a decimal-vs-float pairing is a
        # failure here because it is a failure at the driver.
        if _has_decimal(av) or _has_decimal(bv):
            asv = av.apply(lambda v: "" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
            bsv = bv.apply(lambda v: "" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
            if not asv.equals(bsv):
                neq = asv != bsv
                i = int(np.argmax(neq.to_numpy()))
                return False, (
                    f"col {c} row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r} "
                    "(decimal column compared exactly — driver hash semantics)"
                )
            continue
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = av.astype(float)
            bv = bv.astype(float)
            both_nan = av.isna() & bv.isna()
            if float_tol == 0.0:
                eq = (av == bv) | both_nan
            else:
                eq = (np.abs(av - bv) <= float_tol * np.maximum(1.0, np.abs(bv))) | both_nan
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                return False, f"col {c} row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r} (maxdiff {np.nanmax(np.abs(av-bv))})"
        else:
            if not av.astype(str).equals(bv.astype(str)):
                neq = av.astype(str) != bv.astype(str)
                i = int(np.argmax(neq.to_numpy()))
                return False, f"col {c} row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return True, "ok"


def run_parity(sf_dir: str, only: list[str] | None = None, float_tol: float = 0.0, workers: int = 6):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entrymod
    from spatialdata_spark.session import get_spark

    spark = get_spark("parity", cores=8)
    con = duckdb_conn(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    from pyspark.sql.types import DecimalType

    # PIPELINED (r15 suite-runtime fix): DataFrames are CONSTRUCTED on
    # this thread in registry order; once built, a DataFrame's analyzed
    # plan is immutable and safe to execute from any thread.  Each
    # built plan is handed to a worker immediately so
    # execution (Spark action + DuckDB oracle + compare) overlaps the
    # remaining construction.  Each worker gets its own DuckDB cursor
    # over the shared connection (the documented thread-safe pattern).
    # The queries are latency-bound at smoke scale (plan scheduling +
    # a handful of tiny tasks), so overlapping them is a large
    # wall-clock win for the same work — this was the single slowest
    # test in the suite.
    def one(name, df):
        try:
            sdf = df.toPandas()
        except Exception as e:
            return name, (False, f"SPARK ERROR: {type(e).__name__}: {e}")
        if name not in oracles:
            return name, (len(sdf) >= 0, f"rows-only: {len(sdf)} rows")
        try:
            odf = con.cursor().execute(oracles[name]).fetchdf()
        except Exception as e:
            return name, (False, f"ORACLE ERROR: {type(e).__name__}: {e}")
        ok, msg = compare(sdf, odf, float_tol)
        return name, (ok, f"{msg} ({len(sdf)} rows)")

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    # no construction or execution may leave a temp view in the
    # session catalog (operators bind inputs via spark.sql kwargs)
    views_before = temp_views()
    futures = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            try:
                df = fn(spark, sf_dir)
                # REGISTRY-WIDE OUTPUT CONTRACT: no DecimalType at the
                # edge.  DuckDB materializes DECIMAL as float64, Spark
                # as decimal.Decimal — the driver's serialized-value
                # hash diverges even on identical values, so every
                # query must cast decimal accumulators to
                # BIGINT/DOUBLE/STRING before returning (DECIMAL inside
                # the computation is fine).
                dec_cols = [
                    f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
                ]
                if dec_cols:
                    results[name] = (
                        False,
                        f"DECIMAL OUTPUT COLUMNS {dec_cols}: cross-engine hash hazard",
                    )
                    continue
                futures.append(pool.submit(one, name, df))
            except Exception as e:
                results[name] = (False, f"SPARK ERROR: {type(e).__name__}: {e}")
        for fut in futures:
            name, res = fut.result()
            results[name] = res
    leaked = temp_views() - views_before
    if leaked:
        results["<catalog>"] = (False, f"temp views left behind: {sorted(leaked)}")
    return results


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    res = run_parity(sf_dir, only)
    n_ok = sum(1 for ok, _ in res.values() if ok)
    for name, (ok, msg) in sorted(res.items()):
        print(f"{'PASS' if ok else 'FAIL'}  {name}: {msg}")
    print(f"\n{n_ok}/{len(res)} pass")
    sys.exit(0 if n_ok == len(res) else 1)
