"""In-memory demo dataset generators (reference: datasets.py:37-106
``blobs()`` — image + labels + points + circles + annotation table in
one container).  Deterministic (seeded numpy), used by tests and docs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from spatialdata_spark.catalog import SpatialDataset
from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles
from spatialdata_spark.operators.vectorize import circles_to_shapes
from spatialdata_spark.session import local_frame
from spatialdata_spark.transformations import Identity


def blobs(
    spark: SparkSession,
    length: int = 128,
    n_cells: int = 12,
    n_points: int = 500,
    seed: int = 42,
) -> tuple[SpatialDataset, RasterMeta]:
    """Synthetic scene: gaussian-blob image, circular-cell labels,
    transcripts points, cell circles, and a per-cell annotation table.

    Layout mirrors the reference's ``blobs()``: every element annotates
    the same ``length``×``length`` canvas in the ``global`` CS.
    """
    rng = np.random.default_rng(seed)
    centers = rng.uniform(length * 0.1, length * 0.9, size=(n_cells, 2))
    radii = rng.uniform(length * 0.03, length * 0.08, size=n_cells)

    # image: sum of gaussian bumps at the cell centers (dense long form)
    yy, xx = np.mgrid[0:length, 0:length]
    img = np.zeros((length, length))
    for (cx, cy), r in zip(centers, radii):
        img += np.exp(-(((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * r * r)))
    img = np.round(img * 100.0)

    # labels: nearest cell id within its radius, else 0
    labels = np.zeros((length, length), dtype=np.int64)
    best = np.full((length, length), np.inf)
    for i, ((cx, cy), r) in enumerate(zip(centers, radii)):
        d2 = (xx - cx) ** 2 + (yy - cy) ** 2
        hit = (d2 <= r * r) & (d2 < best)
        labels[hit] = i + 1
        best = np.where(hit, d2, best)

    # points: transcripts scattered around centers + background noise
    cell_of_point = rng.integers(0, n_cells, n_points)
    pxy = centers[cell_of_point] + rng.normal(0, 4.0, size=(n_points, 2))
    genes = rng.choice(["a", "b", "c"], n_points)

    meta = RasterMeta(height=length, width=length, tile=64)
    lmeta = RasterMeta(height=length, width=length, tile=64, dtype="i8")

    iyy, ixx = np.nonzero(img)
    img_df = local_frame(
        spark,
        [(int(y), int(x), float(img[y, x])) for y, x in zip(iyy, ixx)], ["y", "x", "value"]
    )
    lyy, lxx = np.nonzero(labels)
    lab_df = local_frame(
        spark,
        [(int(y), int(x), int(labels[y, x])) for y, x in zip(lyy, lxx)], ["y", "x", "label"]
    )
    pts_df = local_frame(
        spark,
        [
            (float(x), float(y), int(c) + 1, str(g))
            for (x, y), c, g in zip(pxy, cell_of_point, genes)
        ],
        ["x", "y", "instance_id", "gene"],
    )
    circles_df = circles_to_shapes(
        local_frame(
            spark,
            [
                (i + 1, float(cx), float(cy), float(r))
                for i, ((cx, cy), r) in enumerate(zip(centers, radii))
            ],
            ["shape_id", "x", "y", "radius"],
        )
    )
    table_df = local_frame(
        spark,
        [
            ("blobs_circles", i + 1, float(radii[i]), int((labels == i + 1).sum()))
            for i in range(n_cells)
        ],
        ["region", "instance_id", "radius_true", "n_pixels"],
    )

    ds = SpatialDataset(spark)
    ds.add_images("blobs_image", long_to_tiles(img_df, meta), {"global": Identity()})
    ds.add_labels("blobs_labels", lab_df.select("y", "x", "label"), {"global": Identity()})
    ds.add_points("blobs_points", pts_df, {"global": Identity()})
    ds.add_shapes("blobs_circles", circles_df, {"global": Identity()})
    ds.add_table("blobs_table", table_df, region="blobs_circles")
    return ds, meta


def raccoon(
    spark: SparkSession,
    height: int = 768,
    width: int = 1024,
    n_segments: int = 100,
    seed: int = 7,
) -> tuple[SpatialDataset, RasterMeta]:
    """Raccoon-demo analog (reference: datasets.py:77-101 — scipy face
    image + SLIC superpixels + 4 circles).  Neither scipy.datasets nor
    skimage exists in this container, so the image is a deterministic
    procedural texture and the segmentation a jittered-grid Voronoi
    (the spatially-coherent superpixel shape SLIC produces), both built
    **entirely as Catalyst expressions over spark.range** — no driver
    array, so generating a 100-megapixel demo scene is as distributed
    as reading one.  The circles are the reference's exact four.
    """
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    gs = max(2, int(np.sqrt(n_segments)))
    cell_h, cell_w = height / gs, width / gs
    jit = rng.uniform(0.15, 0.85, size=(gs, gs, 2))
    seed_y = F.array(
        *[F.lit(float((gy + jit[gy, gx, 0]) * cell_h)) for gy in range(gs) for gx in range(gs)]
    )
    seed_x = F.array(
        *[F.lit(float((gx + jit[gy, gx, 1]) * cell_w)) for gy in range(gs) for gx in range(gs)]
    )

    px = spark.range(height * width).select(
        (F.col("id") / width).cast("long").alias("y"), (F.col("id") % width).alias("x")
    )
    gy0 = F.floor(F.col("y") / cell_h).cast("int")
    gx0 = F.floor(F.col("x") / cell_w).cast("int")
    cands = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            gy = F.greatest(F.lit(0), F.least(F.lit(gs - 1), gy0 + dy))
            gx = F.greatest(F.lit(0), F.least(F.lit(gs - 1), gx0 + dx))
            idx = gy * gs + gx + 1  # element_at is 1-based
            sy = F.element_at(seed_y, idx)
            sx = F.element_at(seed_x, idx)
            d2 = (F.col("y") - sy) * (F.col("y") - sy) + (F.col("x") - sx) * (F.col("x") - sx)
            cands.append(F.struct(d2.alias("d2"), idx.alias("lbl")))
    # nearest jittered seed among the 3x3 neighborhood = exact Voronoi
    # cell (seeds never stray further than one grid cell); struct-min
    # breaks d2 ties on the lower label
    label = F.array_min(F.array(*cands))["lbl"].cast("long")
    labels_df = px.select("y", "x", label.alias("label"))

    ch = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("c")
    base = (
        F.lit(128.0)
        + 60.0 * F.sin(F.col("x") / 17.0 + F.col("c")) * F.cos(F.col("y") / 23.0 - F.col("c"))
        + 40.0 * F.sin((F.col("x") + F.col("y")) / 31.0)
    )
    img_df = px.select(ch, "y", "x").select(
        "c", "y", "x", F.round(F.greatest(F.lit(0.0), F.least(F.lit(255.0), base))).alias("value")
    )

    coords = [(610.0, 450.0, 30.0), (730.0, 325.0, 30.0), (575.0, 300.0, 30.0), (480.0, 90.0, 50.0)]
    circles_df = circles_to_shapes(
        local_frame(
            spark,
            [(i + 1, cx, cy, r) for i, (cx, cy, r) in enumerate(coords)],
            ["shape_id", "x", "y", "radius"],
        )
    )

    meta = RasterMeta(height=height, width=width, tile=256, n_channels=3)
    ds = SpatialDataset(spark)
    ds.add_images("raccoon", img_df, {"global": Identity()})
    ds.add_labels("segmentation", labels_df, {"global": Identity()})
    ds.add_shapes("circles", circles_df, {"global": Identity()})
    return ds, meta
