"""Tripwire for the pyspark internals that ``operators/raster.py`` mirrors.

``_map_in_pandas_cached`` and ``_apply_in_pandas_cached`` repeat the last
steps of pyspark's own ``DataFrame.mapInPandas`` and
``GroupedData.applyInPandas`` so a keyed factory can pass an already
built pandas UDF.  They call private py4j methods directly; if a pyspark
upgrade changes either call, these checks fail by name instead of every
rt_*/rv_* query failing with an opaque py4j error.
"""

from __future__ import annotations

import inspect
import re

from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

from spatialdata_spark.operators import raster


def test_map_in_pandas_jvm_call_matches_mirror():
    src = inspect.getsource(PandasMapOpsMixin.mapInPandas)
    assert "udf_column = udf(*[self[col] for col in self.columns])" in src
    assert re.search(r"self\._jdf\.mapInPandas\(udf_column\._jc, barrier, \w+\)", src), (
        "pyspark's mapInPandas no longer calls _jdf.mapInPandas(jc, barrier, profile); "
        "update raster._map_in_pandas_cached"
    )
    assert "DataFrame(jdf, self.sparkSession)" in src
    assert "df._jdf.mapInPandas(udf_column._jc, False, None)" in inspect.getsource(raster._map_in_pandas_cached)


def test_apply_in_pandas_jvm_call_matches_mirror():
    src = inspect.getsource(PandasGroupedOpsMixin.applyInPandas)
    assert "udf_column = udf(*[df[col] for col in df.columns])" in src
    assert "self._jgd.flatMapGroupsInPandas(udf_column._jc)" in src, (
        "pyspark's applyInPandas no longer calls _jgd.flatMapGroupsInPandas(jc); "
        "update raster._apply_in_pandas_cached"
    )
    assert "DataFrame(jdf, self.session)" in src
    assert "grouped._jgd.flatMapGroupsInPandas(udf_column._jc)" in inspect.getsource(raster._apply_in_pandas_cached)
