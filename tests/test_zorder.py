"""Z-order clustering: files written Morton-ordered must each cover a
small spatial square (so parquet min/max stats prune bbox queries on
both axes), and queries over the clustered layout read fewer files."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatialdata_spark.functions.zorder import morton_code, write_points_zordered
from spatialdata_spark.operators.spatial_query import bounding_box_query_points


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(21)
    n = 40_000
    return pd.DataFrame(
        {"x": rng.uniform(0, 1000, n), "y": rng.uniform(0, 1000, n), "id": np.arange(n)}
    )


def test_morton_code_locality(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"x": [0.0, 1.0, 512.0, 1024.0], "y": [0.0, 1.0, 512.0, 1024.0]})
    )
    codes = [
        r["z"]
        for r in df.select(
            morton_code(F.col("x"), F.col("y"), 0, 1024, 0, 1024, bits=10).alias("z")
        ).collect()
    ]
    assert codes == sorted(codes)
    assert codes[0] == 0
    # the extent max -> all 20 bits set (clamped to the top cell)
    assert codes[-1] == (1 << 20) - 1


def test_zordered_files_are_spatially_compact(spark, tmp_path, points_pdf):
    df = spark.createDataFrame(points_pdf)
    p_plain = str(tmp_path / "plain")
    p_z = str(tmp_path / "zord")
    # the shuffled baseline: random assignment, every file spans the full extent
    df.orderBy(F.rand(7)).repartition(16).write.mode("overwrite").parquet(p_plain)
    write_points_zordered(df, p_z, num_files=16)

    def mean_file_area(path):
        areas = []
        for fn in glob.glob(os.path.join(path, "part-*.parquet")):
            t = pq.read_table(fn, columns=["x", "y"])
            xs, ys = t["x"].to_numpy(), t["y"].to_numpy()
            areas.append((xs.max() - xs.min()) * (ys.max() - ys.min()))
        return float(np.mean(areas))

    full = 1000.0 * 1000.0
    plain_area = mean_file_area(p_plain)
    z_area = mean_file_area(p_z)
    assert plain_area > 0.9 * full  # shuffled files span everything
    # clustered files cover compact squares: >= 5x tighter on average
    assert z_area < plain_area / 5, (z_area, plain_area)

    # data intact and queries agree between layouts
    a = bounding_box_query_points(spark.read.parquet(p_z), ("x", "y"), [100, 100], [220, 260])
    b = bounding_box_query_points(spark.read.parquet(p_plain), ("x", "y"), [100, 100], [220, 260])
    assert sorted(r["id"] for r in a.collect()) == sorted(r["id"] for r in b.collect())


def test_zordered_scan_reads_fewer_bytes(spark, tmp_path, points_pdf):
    """The observable pruning effect: a small-box query over the
    clustered layout scans fewer files' worth of rows than over the
    shuffled layout (parquet stats skip whole row groups)."""
    df = spark.createDataFrame(points_pdf)
    p_z = str(tmp_path / "zq")
    write_points_zordered(df, p_z, num_files=16)
    q = bounding_box_query_points(
        spark.read.parquet(p_z), ("x", "y"), [100, 100], [160, 160]
    )
    # files whose stats can satisfy the predicate
    hit_files = 0
    for fn in glob.glob(os.path.join(p_z, "part-*.parquet")):
        md = pq.read_metadata(fn)
        for rg in range(md.num_row_groups):
            cols = {md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)}
            sx, sy = cols["x"], cols["y"]
            if sx.min < 160 and sx.max > 100 and sy.min < 160 and sy.max > 100:
                hit_files += 1
                break
    assert hit_files <= 4  # a 0.36% -area box touches a few compact files, not all 16
    assert q.count() > 0
