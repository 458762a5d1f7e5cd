"""Audit dtype agreement between every queries() entry and its DuckDB
oracle: the driver's value hash is dtype-sensitive (r7 caught
pl_pagerank where DuckDB's SUM(BIGINT)->HUGEINT fetched as float64
against Spark's int64 — values equal, hash red).  Flags any column
where one side is float and the other integer, or pandas dtypes
disagree in kind.

    python tools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def kind(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def main() -> int:
    import __spark_entry__ as entrymod
    from spatialdata_spark.session import get_spark
    from tests.parity import duckdb_conn

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None
    spark = get_spark("dtype-audit", cores=8)
    con = duckdb_conn(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - report and continue
            bad.append((name, f"ERROR {type(e).__name__}: {e}"))
            continue
        scols = {c: kind(sdf[c]) for c in sdf.columns}
        ocols = {c: kind(odf[c]) for c in odf.columns}

        import decimal

        def _has_decimal(s: pd.Series) -> bool:
            for v in s:
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    continue
                return isinstance(v, decimal.Decimal)
            return False

        for c in scols:
            if c not in ocols:
                bad.append((name, f"col {c} missing in oracle"))
                continue
            a, b = scols[c], ocols[c]
            # int-vs-float (either direction) is the hash-killer; an
            # empty-result object column on one side is benign noise.
            if {a, b} == {"int", "float"}:
                bad.append((name, f"col {c}: spark={a} oracle={b}"))
            # decimal.Decimal objects on one side vs numeric on the
            # other serialize differently ("-5055506" vs "-5055506.0")
            # — the pl_modularity r8/r9 mechanism this audit missed
            elif a != b and (
                (a == "object" and _has_decimal(sdf[c]))
                or (b == "object" and _has_decimal(odf[c]))
            ):
                bad.append(
                    (name, f"col {c}: spark={a} oracle={b} (decimal hazard)")
                )
    for name, msg in bad:
        print(f"MISMATCH  {name}: {msg}")
    print(f"\n{len(bad)} dtype hazards")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
