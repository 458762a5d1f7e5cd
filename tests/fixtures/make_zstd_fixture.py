"""One-shot generator for the committed zstd/snappy decoder fixtures.

Run from the repo root: ``python tests/fixtures/make_zstd_fixture.py``.
The ``.zst`` / ``.snappy`` payloads are produced by pyarrow's bundled
*real* libzstd / snappy, then committed — so the chunk read paths
(``sources/blosc.py``'s size, magic and error checks around pyarrow's
codecs, and the blosc container walk) are pinned against fixed
reference-compressor bytes.  Chunk 0.1.1 of ``zstd_store`` was
committed when ``blosc_compress`` used a pure-Python zstd encoder; a
re-run writes a libzstd stream there, so that chunk's bytes would
change.

Layout produced::

    tests/fixtures/zstd/<case>.raw + <case>.zst      real libzstd frames
    tests/fixtures/zstd/<case>.snappy                real snappy blocks
    tests/fixtures/zstd_store/image/0/   zarr v2 (1,16,16) f8, chunks
        (1,8,8), blosc chunks whose inner streams are real libzstd
        frames (byte-shuffled single-stream, split-stream, memcpyed,
        and a verbatim-stream chunk)
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa

from spatialdata_spark.sources import blosc as B

HERE = os.path.dirname(os.path.abspath(__file__))


def cases() -> dict[str, tuple[bytes, int]]:
    rng = np.random.default_rng(2026)
    words = ["spark", "zarr", "blosc", "zstd", "raster", "tile", "chunk", "frame"]
    text = " ".join(words[i % len(words)] * (1 + i % 3) for i in range(4000))
    return {
        "text_lvl3": (text.encode(), 3),
        "arange_i32_lvl1": (np.arange(20000, dtype=np.int32).tobytes(), 1),
        "sine_f8_lvl19": ((np.sin(np.arange(8000)) * 100).astype(np.float64).tobytes(), 19),
        "mixed_lvl9": (
            rng.integers(0, 4, 30000, dtype=np.uint8).tobytes() + text.encode()[:10000],
            9,
        ),
    }


def blosc_wrap_zstd_single(raw: bytes, typesize: int, shuffle: bool) -> bytes:
    """Blosc chunk: one block, one real-libzstd stream, dont-split."""
    body = B._shuffle(raw, typesize) if shuffle else raw
    payload = pa.Codec("zstd", compression_level=3).compress(body, asbytes=True)
    assert len(payload) < len(raw), "fixture data must actually compress"
    flags = (4 << 5) | B.FLAG_DONT_SPLIT | (B.FLAG_SHUFFLE if shuffle else 0)
    header_len = 16 + 4
    cbytes = header_len + 4 + len(payload)
    out = bytearray()
    out += bytes([2, 1, flags, typesize])
    out += struct.pack("<III", len(raw), len(raw), cbytes)
    out += struct.pack("<I", header_len)
    out += struct.pack("<I", len(payload)) + payload
    return bytes(out)


def blosc_wrap_zstd_split(raw: bytes, typesize: int) -> bytes:
    """Blosc chunk: one byte-shuffled block split into ``typesize``
    streams, each its own real-libzstd frame (the post-shuffle c-blosc
    split layout)."""
    body = B._shuffle(raw, typesize)
    per = len(raw) // typesize
    enc = bytearray()
    for s in range(typesize):
        stream = body[s * per : (s + 1) * per]
        payload = pa.Codec("zstd", compression_level=3).compress(stream, asbytes=True)
        if len(payload) >= per:
            payload = stream  # verbatim stream: csize == raw size
        enc += struct.pack("<I", len(payload)) + payload
    flags = (4 << 5) | B.FLAG_SHUFFLE
    header_len = 16 + 4
    cbytes = header_len + len(enc)
    out = bytearray()
    out += bytes([2, 1, flags, typesize])
    out += struct.pack("<III", len(raw), len(raw), cbytes)
    out += struct.pack("<I", header_len)
    out += enc
    return bytes(out)


def main() -> None:
    fixdir = os.path.join(HERE, "zstd")
    shutil.rmtree(fixdir, ignore_errors=True)
    os.makedirs(fixdir)
    for name, (raw, level) in cases().items():
        comp = pa.Codec("zstd", compression_level=level).compress(raw, asbytes=True)
        assert B.native_decompress("zstd", comp, len(raw)) == raw, name
        with open(os.path.join(fixdir, f"{name}.raw"), "wb") as f:
            f.write(raw)
        with open(os.path.join(fixdir, f"{name}.zst"), "wb") as f:
            f.write(comp)
        snap = pa.Codec("snappy").compress(raw, asbytes=True)
        assert B.native_decompress("snappy", snap, len(raw)) == raw, name
        with open(os.path.join(fixdir, f"{name}.snappy"), "wb") as f:
            f.write(snap)

    # zarr v2 store whose blosc chunks carry real libzstd streams
    zarray = {
        "zarr_format": 2,
        "shape": [1, 16, 16],
        "chunks": [1, 8, 8],
        "dtype": "<f8",
        "compressor": {"id": "blosc", "cname": "zstd", "clevel": 3, "shuffle": 1, "blocksize": 0},
        "fill_value": 0,
        "order": "C",
        "filters": None,
    }
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)
    tiles = {
        "0.0.0": np.full((8, 8), 7.0),
        "0.0.1": yy * 10.0 + xx,
        "0.1.0": xx * 2.0 + 1.0,
        "0.1.1": yy - xx,
    }
    raws = {k: np.ascontiguousarray(v).tobytes() for k, v in tiles.items()}
    chunks = {
        "0.0.0": blosc_wrap_zstd_single(raws["0.0.0"], 8, shuffle=True),
        "0.0.1": blosc_wrap_zstd_single(raws["0.0.1"], 8, shuffle=False),
        "0.1.0": blosc_wrap_zstd_split(raws["0.1.0"], 8),
        "0.1.1": B.blosc_compress(raws["0.1.1"], typesize=8, cname="zstd", shuffle=1),
    }
    for k, c in chunks.items():
        assert B.blosc_decompress(c) == raws[k], k
    store = os.path.join(HERE, "zstd_store", "image", "0")
    shutil.rmtree(os.path.join(HERE, "zstd_store"), ignore_errors=True)
    os.makedirs(store)
    with open(os.path.join(store, ".zarray"), "w") as f:
        json.dump(zarray, f, indent=2, sort_keys=True)
    for name, chunk in chunks.items():
        with open(os.path.join(store, name), "wb") as f:
            f.write(chunk)
    print("fixtures written:", fixdir, "and", store)


if __name__ == "__main__":
    main()
