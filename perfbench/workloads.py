"""The benchmark's workloads: which ops a round runs and how each op is
checked against its oracle.

An op is ``(name, build, act)``: ``build()`` constructs the plan on the
driver (the library call), ``act(plan)`` runs it.  Registry ops come
from ``__spark_entry__.queries()`` and run through the noop sink;
roundtrip ops write a ``SpatialDataset`` with ``write_zarr``, read it
back with ``read_zarr`` and query what came back.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

INTERACTIVE = [
    "sq_bbox_identity", "sq_bbox_rotation", "sq_polygon_points", "sq_polygon_concave",
    "sq_multibox", "rv_transform_points", "rv_rasterize_count", "ag_zonal_image",
    "ag_fractions", "rt_affine_resample", "pl_dedup_exact", "pl_knn_cosine",
    "st_tumbling", "st_sliding",
]
BATCH = [
    "q18_large_volume", "ag_points_categorical", "pl_ngram_jaccard", "pl_minhash_dedup",
    "rt_halo_boxsum", "st_sessionize",
]
ROUNDTRIP = ["roundtrip_write", "roundtrip_read", "roundtrip_bbox", "roundtrip_zonal"]


@dataclass(frozen=True)
class Workload:
    ops: list[str]  # registry queries
    sf: float
    roundtrip: bool  # each round also writes, reads back and queries a fresh store
    round_s: float  # timed seconds budgeted per round

    def rounds(self, seconds: float) -> int:
        """Timed rounds for a run of about ``seconds``.  The count depends
        only on ``seconds``, never on measured time, so every run of a
        workload does the same work: the JVM keeps compiling hot paths
        for ~50 s of rounds, and a run that stopped on elapsed time would
        sample a different part of that curve each time.  At least two."""
        return max(2, math.ceil(seconds / self.round_s))


# A full evaluation (4 + 22 runs per workload) must end within 3420 s,
# and a run costs up to ~35 s of set-up and ~8 s of oracle checks besides
# its rounds.  At run_seconds 26 `interactive` runs eight rounds, 112 op
# instances, so at least ten lie beyond its p90; `batch` affords two.
WORKLOADS = {
    "interactive": Workload(INTERACTIVE, 0.01, False, 3.25),
    "batch": Workload(BATCH, 0.01, True, 13.0),
}
ALL_OPS = INTERACTIVE + BATCH + ROUNDTRIP


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], None]


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """Rounds of one workload's ops.  A round is every registry query once
    plus, with ``roundtrip``, one write_zarr -> read_zarr -> query sequence
    against a store directory no earlier round has seen.  Timed rounds run
    in a seed-shuffled order (the roundtrip sequence moves as one block),
    so a burst of host noise spreads over every op instead of one."""

    def __init__(self, spark, data_dir: str, wl: Workload, seed: int, store_root: str):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.wl = spark, data_dir, wl
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.rng = random.Random(seed)
        self.store_root = store_root
        self.n_stores = 0
        self.store: str | None = None
        self.kept: str | None = None  # the last finished round's store, for check()
        self.stores: list[tuple[int, int]] = []  # (files, bytes) per written store

    def round(self, warm: bool = False) -> list[Op]:
        blocks = [[Op(n, self._builder(n), noop_sink)] for n in self.wl.ops]
        if self.wl.roundtrip:
            blocks.append(self._roundtrip())
        if not warm:
            self.rng.shuffle(blocks)
        return [op for b in blocks for op in b]

    def _builder(self, name: str):
        fn = self.queries[name]
        return lambda: fn(self.spark, self.data_dir)

    def _fresh_store(self) -> str:
        self.n_stores += 1
        return os.path.join(self.store_root, f"store-{self.n_stores}.zarr")

    def _roundtrip(self) -> list[Op]:
        from spatialdata_spark.catalog import SpatialDataset

        store = self.store = self._fresh_store()
        state: dict[str, Any] = {}

        def write(ds) -> None:
            ds.write_zarr(store, raster_meta=_raster_meta())

        def read(back) -> None:
            for kind in ("points", "shapes", "images", "labels", "tables"):
                for df in back.elements[kind].values():
                    noop_sink(df)
            state["back"] = back

        return [
            Op("roundtrip_write", lambda: build_dataset(self.spark, self.data_dir), write),
            Op("roundtrip_read", lambda: SpatialDataset.read_zarr(self.spark, store), read),
            Op("roundtrip_bbox", lambda: bbox_query(state["back"]), noop_sink),
            Op("roundtrip_zonal", lambda: zonal_query(state["back"]), noop_sink),
        ]

    def end_round(self) -> None:
        """Outside the timed region: size the round's store and keep it in
        place of the previous round's, which is deleted."""
        if self.store and os.path.isdir(self.store):
            self.stores.append(store_stats(self.store))
        if self.kept:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.kept, self.store = self.store, None

    def check(self) -> list[tuple[str, bool, str]]:
        out = self._check_registry()
        if self.wl.roundtrip:
            out += self._check_roundtrip()
        return out

    def _check_registry(self) -> list[tuple[str, bool, str]]:
        """Every registry query against its DuckDB oracle through the
        repository's parity comparator.  The oracles run on a second
        thread while Spark computes, which shortens the check, not a
        timed region."""
        from concurrent.futures import ThreadPoolExecutor

        from tests.parity import compare, duckdb_conn

        con = duckdb_conn(self.data_dir)
        out = []
        try:
            with ThreadPoolExecutor(max_workers=1) as pool:
                want = {
                    n: pool.submit(lambda sql: con.cursor().execute(sql).fetchdf(), self.oracles[n])
                    for n in self.wl.ops
                }
                for name in self.wl.ops:
                    try:
                        got = self.queries[name](self.spark, self.data_dir).toPandas()
                        ok, msg = compare(got, want[name].result())
                    except Exception as e:  # a raising op is a failed op, reported by name
                        ok, msg = False, f"{type(e).__name__}: {e}"
                    out.append((name, ok, msg))
        finally:
            con.close()
        return out

    def _check_roundtrip(self) -> list[tuple[str, bool, str]]:
        """The store the last timed round wrote, read back, equals the
        dataset it was written from (row count and an order-free checksum
        per element), and the read-side queries on it equal the same
        queries on the in-memory dataset."""
        from pyspark.sql import functions as F

        from spatialdata_spark.catalog import SpatialDataset
        from tests.parity import compare

        def digest(df):
            # rasters read back dense: compare the written (non-zero) pixels
            value = "label" if "label" in df.columns else "value" if "value" in df.columns else None
            if value and "y" in df.columns and "x" in df.columns:
                df = df.where(F.col(value) != 0)
            cols = sorted(df.columns)
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*[F.col(c).cast("string") for c in cols]) % (1 << 31)).alias("h"),
            ).first()
            return cols, row["n"], row["h"]

        out = []
        try:
            ds = build_dataset(self.spark, self.data_dir)
            back = SpatialDataset.read_zarr(self.spark, self.kept)
            for name in ds.element_names():
                try:
                    want, got = digest(ds[name]), digest(back[name])
                    out.append((f"roundtrip_element_{name}", want == got, f"written {want} read {got}"))
                except Exception as e:
                    out.append((f"roundtrip_element_{name}", False, f"{type(e).__name__}: {e}"))
            for name, q in (("roundtrip_bbox", bbox_query), ("roundtrip_zonal", zonal_query)):
                try:
                    ok, msg = compare(q(back).toPandas(), q(ds).toPandas())
                except Exception as e:
                    ok, msg = False, f"{type(e).__name__}: {e}"
                out.append((name, ok, msg))
        except Exception as e:
            out.append(("roundtrip_read", False, f"{type(e).__name__}: {e}"))
        return out

    def close(self) -> None:
        for path in (self.store, self.kept):
            if path:
                shutil.rmtree(path, ignore_errors=True)


# raster extent of the roundtrip image/labels: (l_orderkey % 100, l_linenumber)
def _raster_meta():
    from spatialdata_spark.operators.raster import RasterMeta

    return {
        "image": RasterMeta(height=100, width=8, tile=32, dtype="f8"),
        "cells": RasterMeta(height=100, width=8, tile=32, dtype="i8"),
    }


BBOX = ((20.0, 10.0), (60.0, 40.0))


def build_dataset(spark, data_dir: str):
    """A SpatialDataset over the fixed test tables: points from lineitem,
    circles from customer, an image and its label mask, and a table that
    annotates the circles."""
    from pyspark.sql import functions as F

    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.vectorize import circles_to_shapes

    line = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    cust = spark.read.parquet(os.path.join(data_dir, "customer.parquet"))
    points = line.selectExpr(
        "l_extendedprice / 1000.0D AS x", "l_quantity AS y", "l_orderkey", "l_linenumber",
        "l_returnflag AS gene",
    )
    circles = circles_to_shapes(
        cust.selectExpr(
            "c_custkey AS shape_id", "(c_custkey % 97) * 1.0D AS x",
            "((c_custkey * 7) % 53) * 1.0D AS y", "(3 + c_custkey % 5) * 1.0D AS radius",
        )
    )
    image = (
        line.groupBy((F.col("l_orderkey") % 100).alias("y"), F.col("l_linenumber").cast("long").alias("x"))
        .agg(F.sum("l_quantity").alias("value"))
        .select(F.lit(0).alias("c"), "y", "x", "value")
    )
    labels = image.select("y", "x", ((F.col("y") * 7 + F.col("x")) % 10 + 1).alias("label"))
    table = cust.selectExpr("c_custkey AS instance_id", "'circles' AS region", "c_acctbal AS balance")
    ds = SpatialDataset(spark)
    ds.add_points("points", points)
    ds.add_shapes("circles", circles)
    ds.add_images("image", image)
    ds.add_labels("cells", labels)
    ds.add_table("table", table, region="circles")
    return ds


def bbox_query(ds):
    from spatialdata_spark.operators.spatial_query import bounding_box_query_points

    return bounding_box_query_points(ds.points["points"], ("x", "y"), *BBOX)


def zonal_query(ds):
    from spatialdata_spark.operators.aggregate import aggregate_image_by_labels

    return aggregate_image_by_labels(ds.images["image"], ds.labels["cells"], "sum")


def store_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of a written store."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
