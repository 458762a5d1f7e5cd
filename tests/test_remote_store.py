"""Remote (http) store reads: the fetcher abstraction drives the same
zarr/container read code against a URL (reference reads http/s3 zarr
stores, _io/io_zarr.py:125-168; remote parquet via simplecache::,
_io/io_points.py:37).  A stdlib http.server over a written store is the
test double for an object store: no directory listing, GET-only."""

from __future__ import annotations

import functools
import http.server
import os
import threading

import numpy as np
import pytest

from spatialdata_spark.operators.raster import RasterMeta
from spatialdata_spark.sources.fetch import HttpFetcher, LocalFetcher, fetcher_for
from spatialdata_spark.sources.zarrio import (
    read_zarr_store,
    read_zarr_tiles,
    write_zarr_store,
    zarr_read_array,
    zarr_write_array,
)
from spatialdata_spark.operators.raster import tiles_to_long


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    root = tmp_path_factory.mktemp("httpstore")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(root)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield str(root), f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_fetcher_dispatch(tmp_path):
    assert isinstance(fetcher_for(str(tmp_path)), LocalFetcher)
    assert isinstance(fetcher_for("http://x/store.zarr"), HttpFetcher)
    assert isinstance(fetcher_for("https://x/store.zarr"), HttpFetcher)


def test_http_fetcher_get_and_404(served):
    root, url = served
    os.makedirs(os.path.join(root, "d"), exist_ok=True)
    with open(os.path.join(root, "d", "f.bin"), "wb") as f:
        f.write(b"\x01\x02")
    fx = HttpFetcher(url)
    assert fx.get("d/f.bin") == b"\x01\x02"
    assert fx.get("d/missing") is None


def test_zarr_array_over_http(served):
    root, url = served
    a = np.arange(48, dtype=np.float64).reshape(6, 8)
    zarr_write_array(os.path.join(root, "arr"), a, chunks=(4, 4), compressor="zlib")
    np.testing.assert_array_equal(zarr_read_array(f"{url}/arr"), a)


def test_zarr_tiles_over_http_no_listing(spark, served):
    """Chunk keys enumerate from the .zarray grid — no listing request
    ever hits the server; executors fetch chunks themselves."""
    root, url = served
    rng = np.random.default_rng(3)
    a = rng.integers(0, 9, size=(40, 40)).astype(np.float64)
    zarr_write_array(os.path.join(root, "img"), a, chunks=(16, 16), compressor="zlib")
    tiles, meta = read_zarr_tiles(spark, f"{url}/img")
    got = np.zeros_like(a)
    for r in tiles_to_long(tiles, meta).collect():
        got[r["y"], r["x"]] = r["value"]
    np.testing.assert_array_equal(got, a)


def test_container_store_over_http(spark, served):
    """Full SpatialDataset read over http: hierarchy from consolidated
    metadata, parquet part files pulled through the manifest cache."""
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.transformations import Scale

    root, url = served
    pts = spark.createDataFrame(
        [(i, float(i), float(2 * i)) for i in range(15)], "id long, x double, y double"
    )
    labels = spark.createDataFrame(
        [(y, x, (y + x) % 4 + 1) for y in range(20) for x in range(20)],
        "y long, x long, label long",
    )
    ds = SpatialDataset(spark)
    ds.add_points("pts", pts, {"global": Scale([2.0, 2.0], ("x", "y"))})
    ds.add_labels("cells", labels, {"global": Scale([1.0, 1.0], ("y", "x"))})
    p = os.path.join(root, "store.zarr")
    ds.write_zarr(p, raster_meta={"cells": RasterMeta(height=20, width=20, tile=16, dtype="i8")})

    back = read_zarr_store(spark, f"{url}/store.zarr")
    assert sorted(r["id"] for r in back.points["pts"].collect()) == list(range(15))
    got = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    assert got == {(y, x): (y + x) % 4 + 1 for y in range(20) for x in range(20)}
    m = back.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    assert np.allclose(m, np.diag([2.0, 2.0, 1.0]))


def test_remote_store_without_zmetadata_is_clear_error(spark, served):
    root, url = served
    os.makedirs(os.path.join(root, "bare.zarr", "points"), exist_ok=True)
    with pytest.raises(IOError, match="zmetadata"):
        read_zarr_store(spark, f"{url}/bare.zarr")


def test_fetcher_cache_dir_made_once_under_concurrent_downloads(monkeypatch):
    """A store read downloads its parquet elements on several threads
    that share one fetcher: the cache directory is made once, and every
    thread gets the same one."""
    import sys
    import tempfile
    import time

    from spatialdata_spark.sources import fetch

    made = []

    def slow_mkdtemp(prefix=""):
        time.sleep(0.01)  # widen the check-then-act window
        made.append(prefix)
        return f"/nonexistent/{prefix}{len(made)}"

    monkeypatch.setattr(tempfile, "mkdtemp", slow_mkdtemp)
    fetcher = HttpFetcher("http://127.0.0.1:9")
    start = threading.Barrier(16)
    got = []

    def worker():
        start.wait(timeout=10)
        got.append(fetch._cache_dir(fetcher, "sdspark-httpcache-"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(made) == 1
    assert got == [got[0]] * 16
