"""The keyed-factory Arrow-kernel caches must be swept when get_spark
sees a NEW SparkContext: a pandas_udf memoized by an lru_cache factory
binds its JVM registration to the session that first used it, and a
stop()/restart in the same process would otherwise hand every consumer
a stale handle (r15 ADVICE item)."""

from __future__ import annotations

import os

import spatialdata_spark.session as S
from spatialdata_spark.operators import raster


class _FakeCache:
    def __init__(self, calls):
        self._calls = calls

    def cache_clear(self):
        self._calls.append(1)


class _Ctx:
    pass


class _FakeSpark:
    def __init__(self, ctx):
        self.sparkContext = ctx


def test_udf_cache_sweep_on_context_change():
    calls: list[int] = []
    raster._test_fake_cache = _FakeCache(calls)
    saved = S._UDF_CACHE_CTX[0]
    try:
        c1, c2 = _Ctx(), _Ctx()
        S._UDF_CACHE_CTX[0] = None
        S._invalidate_udf_caches_on_new_context(_FakeSpark(c1))
        assert not calls, "first context must not sweep (nothing was built)"
        S._invalidate_udf_caches_on_new_context(_FakeSpark(c1))
        assert not calls, "same context must not sweep"
        S._invalidate_udf_caches_on_new_context(_FakeSpark(c2))
        assert calls, "a different context must sweep every factory cache"
    finally:
        del raster._test_fake_cache
        S._UDF_CACHE_CTX[0] = saved


def test_module_level_udf_placeholder_reset_on_context_change():
    """Module-level @pandas_udf constants cache a _judf JVM handle in
    the UserDefinedFunction inside the wrapper's closure; the sweep must
    reset it so a restarted session re-creates the JVM UDF."""
    from spatialdata_spark.operators.aggregate import _pip

    udf_obj = None
    for cell in _pip.__closure__ or ():
        v = cell.cell_contents
        if hasattr(v, "_judf_placeholder"):
            udf_obj = v
    assert udf_obj is not None, "_pip wrapper must expose its UserDefinedFunction"

    saved = S._UDF_CACHE_CTX[0]
    sentinel = object()
    udf_obj._judf_placeholder = sentinel
    try:
        c1, c2 = _Ctx(), _Ctx()
        S._UDF_CACHE_CTX[0] = c1
        S._invalidate_udf_caches_on_new_context(_FakeSpark(c2))
        assert udf_obj._judf_placeholder is None, (
            "sweep must clear the stale _judf handle of module-level UDFs"
        )
    finally:
        udf_obj._judf_placeholder = None
        S._UDF_CACHE_CTX[0] = saved


def test_worker_pythonpath_keeps_user_entries(monkeypatch):
    """get_spark puts the library root on the Python workers' path
    after the caller's own PYTHONPATH entries, never in their place."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["user-libs", "more-libs"]))
    assert S._worker_pythonpath().split(os.pathsep) == ["user-libs", "more-libs", root]
    monkeypatch.delenv("PYTHONPATH")
    assert S._worker_pythonpath() == root
