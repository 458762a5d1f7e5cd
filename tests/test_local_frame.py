"""``session.local_frame``: driver-side rows as an Arrow local relation,
typed as ``spark.createDataFrame`` would type them."""

from __future__ import annotations

import pyarrow as pa
import pytest

from spatialdata_spark.session import local_frame


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_ddl_schema_plans_a_local_table_scan(spark):
    rows = [(0, 1, 2, "a"), (1, 3, 4, None), (2, 5, 6, "c")]
    df = local_frame(spark, rows, "c int, ty long, tx long, chunk string")
    assert df.schema.simpleString() == "struct<c:int,ty:bigint,tx:bigint,chunk:string>"
    assert [tuple(r) for r in df.collect()] == rows
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.rdd.getNumPartitions() == min(len(rows), spark.sparkContext.defaultParallelism)
    assert local_frame(spark, [], "a int, b double").count() == 0


def test_name_schema_infers_the_types_spark_infers(spark):
    rows = [(1, 2.5, "x", bytearray(b"\x01"), [1, 2], None), (2, 3.0, "y", bytearray(b""), [], 1.5)]
    names = ["i", "f", "s", "b", "l", "n"]
    got = local_frame(spark, rows, names)
    assert got.schema == spark.createDataFrame(rows, names).schema
    assert got.collect() == spark.createDataFrame(rows, names).collect()
    with pytest.raises(ValueError, match="zero rows"):
        local_frame(spark, [], names)


@pytest.mark.parametrize("value", [2**40, 1.5])
def test_ddl_cast_is_safe(spark, value):
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(value,)], "a int")
