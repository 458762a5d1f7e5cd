"""Every plan memo in ``__spark_entry__`` keys on the file identity of
the table it derives from, so a parquet file regenerated in the same
process is read again instead of being served through a stale plan
(old schema and old file index)."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402


def test_derived_memo_sees_regenerated_parquet(spark, sf_dir, tmp_path):
    rows = pq.read_table(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "lineitem.parquet")
    pq.write_table(rows.slice(0, 10), path)
    first = em._points(spark, str(tmp_path))
    assert (dict(first.dtypes)["y"], first.count()) == ("double", 10)
    # regenerate with fewer rows and a new column type
    i = rows.schema.get_field_index("l_quantity")
    regen = rows.slice(0, 7)
    regen = regen.set_column(i, "l_quantity", regen.column(i).cast(pa.int64()))
    pq.write_table(regen, path)
    again = em._points(spark, str(tmp_path))
    assert (dict(again.dtypes)["y"], again.count()) == ("bigint", 7)
