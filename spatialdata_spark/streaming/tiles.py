"""Streaming raster ingest: zarr chunks land on disk (or an object
store) while an acquisition runs; the tile table grows incrementally.

This is an extension beyond the reference (its IO is batch-only;
SURVEY.md §2.9) expressed entirely with Structured Streaming built-ins:
``readStream.format("binaryFile")`` watches the array directory, each
micro-batch decodes ONLY the newly arrived chunk files (executor-side,
same codecs as the batch reader), and the output is the standard tile
schema — so every downstream tile operator (bbox query, zonal stats,
map_tiles) composes on the stream unchanged.  File-source exactly-once
tracking is Spark's; no custom state is needed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spatialdata_spark.operators.raster import TILE_SCHEMA, RasterMeta


def streaming_tile_ingest(
    spark: SparkSession,
    array_dir: str,
    scale: int = 0,
) -> tuple[DataFrame, RasterMeta]:
    """Watch a zarr v2 array directory and decode arriving chunks into
    tile rows.  ``.zarray`` must exist before the stream starts (the
    writer creates it first — zarr's own contract); chunk files may
    keep arriving for as long as the query runs."""
    from spatialdata_spark.sources.zarrio import _codec_of, _decompress, _separator_of
    from spatialdata_spark.sources.fetch import fetcher_for

    fetcher = fetcher_for(array_dir)
    ameta = fetcher.get_json(".zarray")
    if ameta is None:
        raise ValueError(f"not a zarr v2 array: {array_dir} (write .zarray first)")
    if ameta.get("filters"):
        raise ValueError("zarr filters are not supported")
    codec = _codec_of(ameta.get("compressor"))
    sep = _separator_of(ameta)
    shape = tuple(ameta["shape"])
    chunks = tuple(ameta["chunks"])
    dtype = np.dtype(ameta["dtype"])
    two_d = len(shape) == 2
    if two_d:
        shape = (1,) + shape
        chunks = (1,) + chunks
    if len(shape) != 3 or chunks[0] != 1 or chunks[1] != chunks[2]:
        raise ValueError(f"unsupported chunk layout {chunks} for streaming ingest")
    ts = int(chunks[1])
    dstr = "f8" if dtype.kind == "f" else "i8"
    meta = RasterMeta(height=int(shape[1]), width=int(shape[2]), tile=ts, dtype=dstr, n_channels=int(shape[0]))

    glob = "[0-9]*" if sep == "." else "*"
    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true" if sep == "/" else "false")
        .load(array_dir)
    )

    def _decode(iterator):
        import os

        import pandas as pd

        for pdf in iterator:
            rows = {"scale": [], "c": [], "ty": [], "tx": [], "tile": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                name = os.path.relpath(path.replace("file:", ""), array_dir)
                key = name.replace(os.sep, "/")
                parts = key.split("/") if sep == "/" else key.split(".")
                try:
                    nums = tuple(int(p) for p in parts)
                except ValueError:
                    continue  # metadata documents etc.
                if two_d and len(nums) == 2:
                    c, t_y, t_x = 0, nums[0], nums[1]
                elif not two_d and len(nums) == 3:
                    c, t_y, t_x = nums
                else:
                    continue
                raw = _decompress(codec, bytes(content), ts * ts * dtype.itemsize)
                a = np.frombuffer(raw, dtype=dtype).reshape(ts, ts)
                rows["scale"].append(scale)
                rows["c"].append(int(c))
                rows["ty"].append(int(t_y))
                rows["tx"].append(int(t_x))
                rows["tile"].append(np.ascontiguousarray(a, dtype=np.dtype(dstr)).tobytes())
            yield pd.DataFrame(rows)

    tiles = stream.select("path", "content").mapInPandas(_decode, TILE_SCHEMA)
    return tiles, meta


# module-level: a pandas_udf created inside the operator re-pickles and
# re-registers the function on every plan construction
@F.pandas_udf(T.DoubleType())
def _tile_sum(t):
    import pandas as pd

    return pd.Series([float(np.frombuffer(b, dtype=np.float64).sum()) for b in t])


@F.pandas_udf(T.DoubleType())
def _tile_max(t):
    import pandas as pd

    return pd.Series([float(np.frombuffer(b, dtype=np.float64).max()) for b in t])


def streaming_tile_stats(tiles: DataFrame) -> DataFrame:
    """Running per-channel pixel statistics over the arriving tiles —
    the live-acquisition QC readout (sum / max / n tiles), a plain
    streaming aggregation with map-side partials."""
    per_tile = tiles.select("c", _tile_sum("tile").alias("s"), _tile_max("tile").alias("m"))
    return per_tile.groupBy("c").agg(
        F.sum("s").alias("pixel_sum"), F.max("m").alias("pixel_max"), F.count(F.lit(1)).alias("n_tiles")
    )
