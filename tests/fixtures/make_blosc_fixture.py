"""One-shot generator for the committed blosc/nested-zarr fixtures.

Run from the repo root: ``python tests/fixtures/make_blosc_fixture.py``.
The outputs are committed so the decoder is pinned against fixed bytes
(tests never regenerate them — a decoder bug can't silently co-evolve
with the encoder).

Layout produced::

    tests/fixtures/blosc_store/image/0/   zarr v2, shape (1,16,16) f8,
        chunks (1,8,8); chunk 0.0.0 hand-encoded LZ4 (real match tokens,
        dont-split), chunk 0.0.1 memcpyed, chunks 0.1.* blosc_compress
        byte-shuffled lz4 streams (committed when blosc_compress wrote
        literal-only lz4; a re-run writes pyarrow-compressed streams,
        so these chunks' bytes change, here and in nested_store)
    tests/fixtures/nested_store/image/0/  same array, dimension_separator
        '/' with nested chunk directories (the ome-zarr layout)
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np

from spatialdata_spark.sources import blosc as B

HERE = os.path.dirname(os.path.abspath(__file__))


def tile_bytes(fill: np.ndarray) -> bytes:
    assert fill.shape == (8, 8) and fill.dtype == np.float64
    return np.ascontiguousarray(fill).tobytes()


def hand_lz4_constant(value: float) -> tuple[bytes, bytes]:
    """A 512-byte constant f8 tile encoded by hand with real LZ4 match
    tokens: 8 literals, a 496-byte match at offset 8, 8 final literals."""
    unit = struct.pack("<d", value)
    raw = unit * 64
    enc = bytearray()
    enc.append(0x8F)  # lit=8, matchlen nibble=15
    enc += unit
    enc += struct.pack("<H", 8)  # match offset
    # match length 496 -> 492 after the +4 bias; 492-15 = 477 = 255+222
    enc += bytes([255, 222])
    enc.append(0x80)  # final sequence: 8 literals, no match
    enc += unit
    assert B.native_decompress("lz4", bytes(enc), 512) == raw
    return raw, bytes(enc)


def blosc_wrap_single_stream(payload: bytes, nbytes: int, typesize: int) -> bytes:
    """Blosc chunk: one block, one lz4 stream, no shuffle, dont-split."""
    flags = (1 << 5) | B.FLAG_DONT_SPLIT  # lz4
    header_len = 16 + 4
    cbytes = header_len + 4 + len(payload)
    out = bytearray()
    out += bytes([2, 1, flags, typesize])
    out += struct.pack("<III", nbytes, nbytes, cbytes)
    out += struct.pack("<I", header_len)  # single bstart
    out += struct.pack("<I", len(payload)) + payload
    return bytes(out)


def blosc_memcpyed(raw: bytes, typesize: int) -> bytes:
    out = bytearray()
    out += bytes([2, 1, B.FLAG_MEMCPYED, typesize])
    out += struct.pack("<III", len(raw), len(raw), 16 + len(raw))
    out += raw
    return bytes(out)


def main() -> None:
    zarray = {
        "zarr_format": 2,
        "shape": [1, 16, 16],
        "chunks": [1, 8, 8],
        "dtype": "<f8",
        "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0},
        "fill_value": 0,
        "order": "C",
        "filters": None,
    }
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)

    raw00, lz4_00 = hand_lz4_constant(7.0)
    chunk00 = blosc_wrap_single_stream(lz4_00, 512, 8)
    raw01 = tile_bytes(yy * 10.0 + xx)
    chunk01 = blosc_memcpyed(raw01, 8)
    raw10 = tile_bytes(xx * 2.0 + 1.0)
    chunk10 = B.blosc_compress(raw10, typesize=8, shuffle=1)
    raw11 = tile_bytes(yy - xx)
    chunk11 = B.blosc_compress(raw11, typesize=8, shuffle=1, blocksize=128)

    for c in (chunk00, chunk01, chunk10, chunk11):
        pass  # sanity happens below via decompress

    assert B.blosc_decompress(chunk00) == raw00
    assert B.blosc_decompress(chunk01) == raw01
    assert B.blosc_decompress(chunk10) == raw10
    assert B.blosc_decompress(chunk11) == raw11

    flat = os.path.join(HERE, "blosc_store", "image", "0")
    shutil.rmtree(os.path.join(HERE, "blosc_store"), ignore_errors=True)
    os.makedirs(flat)
    with open(os.path.join(flat, ".zarray"), "w") as f:
        json.dump(zarray, f, indent=2, sort_keys=True)
    for name, chunk in [
        ("0.0.0", chunk00),
        ("0.0.1", chunk01),
        ("0.1.0", chunk10),
        ("0.1.1", chunk11),
    ]:
        with open(os.path.join(flat, name), "wb") as f:
            f.write(chunk)

    nested = os.path.join(HERE, "nested_store", "image", "0")
    shutil.rmtree(os.path.join(HERE, "nested_store"), ignore_errors=True)
    os.makedirs(nested)
    zarray_nested = dict(zarray, dimension_separator="/")
    with open(os.path.join(nested, ".zarray"), "w") as f:
        json.dump(zarray_nested, f, indent=2, sort_keys=True)
    for name, chunk in [
        ("0/0/0", chunk00),
        ("0/0/1", chunk01),
        ("0/1/0", chunk10),
        ("0/1/1", chunk11),
    ]:
        p = os.path.join(nested, *name.split("/"))
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(chunk)
    print("fixtures written")


if __name__ == "__main__":
    main()
