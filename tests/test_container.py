"""Container persistence, ordered matching and rasterize_bins."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from spatialdata_spark.catalog import SpatialDataset
from spatialdata_spark.operators.rasterize import rasterize_bins
from spatialdata_spark.operators.relational import match_table_to_element_ordered
from spatialdata_spark.operators.vectorize import circles_to_shapes
from spatialdata_spark.transformations import Scale, Translation


def _circles(spark):
    rows = [(i, float(i * 3 % 17), float(i * 5 % 13), 2.0) for i in range(1, 21)]
    return circles_to_shapes(spark.createDataFrame(rows, ["shape_id", "x", "y", "radius"]))


def test_store_roundtrip(spark, tmp_path):
    path = str(tmp_path / "store")
    ds = SpatialDataset(spark)
    ds.add_shapes("cells", _circles(spark), {"global": Scale([2.0, 2.0], ("x", "y"))})
    pts = spark.createDataFrame([(1.0, 2.0, 1), (3.0, 4.0, 2)], ["x", "y", "instance_id"])
    ds.add_points("transcripts", pts, {"global": Translation([1.0, -1.0], ("x", "y"))})
    table = spark.createDataFrame([("cells", 1, 0.5), ("cells", 2, 0.7)], ["region", "instance_id", "score"])
    ds.add_table("annotation", table, region="cells")
    ds.write(path)

    back = SpatialDataset.read(spark, path)
    assert sorted(back.element_names()) == ["annotation", "cells", "transcripts"]
    assert back["cells"].count() == 20
    assert back["transcripts"].count() == 2
    t = back.get_transformation("cells", "global")
    np.testing.assert_allclose(
        t.to_affine_matrix(("x", "y"), ("x", "y")),
        Scale([2.0, 2.0], ("x", "y")).to_affine_matrix(("x", "y"), ("x", "y")),
    )
    assert back.table_meta["annotation"].region == ["cells"]

    # partial read + element delete
    only_shapes = SpatialDataset.read(spark, path, selection=("shapes",))
    assert only_shapes.element_names() == ["cells"]
    back.delete_element_from_disk(path, "transcripts")
    again = SpatialDataset.read(spark, path)
    assert "transcripts" not in again.element_names()


def test_match_table_to_element_ordered(spark):
    el = _circles(spark)
    rows = [("cells", i, float(100 - i)) for i in range(1, 21)]
    table = spark.createDataFrame(rows, ["region", "instance_id", "v"])
    # element ordered by descending shape_id -> table must follow
    out = match_table_to_element_ordered(
        el.orderBy(F.desc("shape_id")), [F.desc("shape_id")], table, "cells"
    ).collect()
    got_ids = [r["instance_id"] for r in out]
    assert got_ids == list(range(20, 0, -1))
    assert [r["__element_pos"] for r in out] == list(range(1, 21))


def test_rasterize_bins_exact_affine(spark):
    obs = spark.createDataFrame(
        [(i, i % 7, i // 7, (i // 7) * 2.0 + 1.0, (i % 7) * 3.0 - 2.0) for i in range(30)],
        ["instance_id", "array_row", "array_col", "x", "y"],
    )
    x_long = spark.createDataFrame(
        [(i, "geneA", float(i)) for i in range(30)] + [(i, "geneB", 1.0) for i in range(30)],
        ["obs_id", "var_name", "value"],
    )
    out = {(r["py"], r["px"]): r["value"] for r in rasterize_bins(obs, x_long, "geneA").collect()}
    assert len(out) == 30
    for i in range(30):
        assert out[((i % 7) * 3 - 2, (i // 7) * 2 + 1)] == float(i)


def test_raccoon_dataset(spark):
    """Demo-scene analog of reference datasets.py raccoon(): full label
    coverage, ~n_segments superpixels, the reference's 4 circles."""
    from pyspark.sql import functions as F

    from spatialdata_spark.datasets import raccoon

    ds, meta = raccoon(spark, height=96, width=128, n_segments=25)
    stats = ds.labels["segmentation"].agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("label").alias("k"),
        F.min("label").alias("mn"),
    ).first()
    assert stats["n"] == 96 * 128          # every pixel labeled
    assert 20 <= stats["k"] <= 25 and stats["mn"] >= 1
    assert ds.images["raccoon"].count() == 96 * 128 * 3
    vr = ds.images["raccoon"].agg(F.min("value"), F.max("value")).first()
    assert 0.0 <= vr[0] and vr[1] <= 255.0
    assert ds.shapes["circles"].count() == 4
    # labels are spatially coherent: neighboring pixels mostly agree
    lab = ds.labels["segmentation"]
    a = lab.alias("a")
    b = lab.select((F.col("y")).alias("y"), (F.col("x") + 1).alias("x"), F.col("label").alias("lab_r"))
    joined = a.join(b, ["y", "x"])
    frac_same = joined.agg(F.avg((F.col("label") == F.col("lab_r")).cast("double"))).first()[0]
    assert frac_same > 0.9


def test_class_surface_parity_methods(spark, tmp_path):
    """The reference SpatialData class methods a porting user calls:
    annotation metadata, CS renames, backing/self-containment,
    incremental metadata writes, attrs access."""
    import pandas as pd
    import pytest as _pytest

    import spatialdata_spark as S

    pts = spark.createDataFrame(pd.DataFrame({"x": [1.0, 5.0], "y": [2.0, 6.0], "instance_id": [1, 2]}))
    tab = spark.createDataFrame(pd.DataFrame({"instance_id": [1, 2], "region": ["pts", "pts"], "v": [3.0, 4.0]}))
    ds = S.SpatialData.init_from_elements({"pts": ("points", pts)}, tables={"tab": tab}, spark=spark)
    ds.set_table_annotates_spatialelement("tab", "pts")
    assert ds.get_annotated_regions("tab") == ["pts"]
    assert [r[0] for r in ds.get_region_key_column("tab").collect()] == ["pts", "pts"]
    assert [r[0] for r in ds.get_instance_key_column("tab").collect()] == [1, 2]
    ds.validate_table_in_spatialdata("tab")
    with _pytest.raises(ValueError):
        ds.set_table_annotates_spatialelement("tab", "nope")
    ds.update_annotated_regions_metadata("tab")
    assert ds.get_annotated_regions("tab") == ["pts"]

    assert ds.get("pts") is pts and ds.get("missing") is None
    assert ds.locate_element("pts") == ["points/pts"]
    assert ds.elements_paths_in_memory() == ["points/pts", "tables/tab"]
    assert [k for k, _, _ in ds.gen_spatial_elements()] == ["points"]

    # coordinate-system rename + collision guard
    ds.set_transformation("pts", "micron", S.Scale([2.0, 2.0], ("x", "y")))
    ds.rename_coordinate_systems({"micron": "um"})
    assert "um" in ds.transforms["pts"] and "micron" not in ds.transforms["pts"]
    with _pytest.raises(ValueError):
        ds.rename_coordinate_systems({"um": "global"})

    # element-level + container-level CS transform
    moved = ds.transform_element_to_coordinate_system("pts", "um")
    assert moved.select("x").orderBy("x").first()["x"] == 2.0
    all_moved = ds.transform_to_coordinate_system("um")
    assert all_moved.get_transformation("pts", "um").to_affine_matrix(("x", "y"), ("x", "y"))[0, 0] == 1.0

    # backing, self-containment, attrs round trip
    assert not ds.is_backed
    store = str(tmp_path / "store")
    ds.attrs["pipeline"] = {"stage": "test"}
    ds.write(store)
    assert ds.is_backed and ds.path == store
    assert ds.elements_paths_on_disk() == ["points/pts", "tables/tab"]
    back = S.SpatialData.read(spark, store)
    assert back.is_backed
    assert back.get_attrs("pipeline") == {"stage": "test"}
    assert back.get_attrs("pipeline", return_as="json") == '{"stage": "test"}'
    contained = back.elements_are_self_contained()
    assert contained == {"pts": True, "tab": True}
    assert back.is_self_contained()

    # metadata-only rewrite picks up new attrs without data rewrite
    back.attrs["extra"] = 1
    back.write_metadata()
    again = S.SpatialData.read(spark, store)
    assert again.get_attrs("extra") == 1


def test_channel_names_on_container(spark):
    import pandas as pd

    import spatialdata_spark as S

    img = spark.createDataFrame(
        pd.DataFrame({"c": [0, 1], "y": [0, 0], "x": [0, 0], "value": [1.0, 2.0]})
    )
    ds = S.SpatialData(spark).add_images("img", img)
    ds.set_channel_names("img", ["dapi", "gfp"])
    assert ds.get_channel_names("img") == ["dapi", "gfp"]
    import pytest as _pytest

    with _pytest.raises(KeyError):
        ds.set_channel_names("nope", ["x"])


def test_container_dunder_protocol(spark):
    import pandas as pd
    import pytest as _pytest

    import spatialdata_spark as S

    ds = S.SpatialData(spark)
    pts = spark.createDataFrame(pd.DataFrame({"x": [1.0], "y": [2.0], "instance_id": [1]}))
    ds["pts"] = pts  # kind inferred from columns
    assert "pts" in ds and len(ds) == 1
    assert ds.kind_of("pts") == "points"
    shapes = _circles(spark)
    ds["cells"] = shapes
    assert ds.kind_of("cells") == "shapes" and len(ds) == 2
    assert "points/pts" in repr(ds) and "shapes/cells" in repr(ds)
    # labels vs images dispatch on the channel column
    ds["seg"] = spark.createDataFrame(pd.DataFrame({"y": [0], "x": [0], "label": [3]}))
    assert ds.kind_of("seg") == "labels"
    ds["img"] = spark.createDataFrame(pd.DataFrame({"c": [0], "y": [0], "x": [0], "value": [1.0]}))
    assert ds.kind_of("img") == "images"
    # replace-in-place and delete
    ds["pts"] = pts.withColumn("x", pts["x"] + 1)
    assert len(ds) == 4
    del ds["pts"]
    assert "pts" not in ds and len(ds) == 3
    with _pytest.raises(KeyError):
        ds.kind_of("pts")
    with _pytest.raises(ValueError):
        ds["bad"] = spark.createDataFrame(pd.DataFrame({"only": [1]}))
