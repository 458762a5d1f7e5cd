"""zstd / snappy chunk decode and zstd chunk write tests.

The codecs are pyarrow's bundled libzstd and snappy; these tests pin the
layer around them: the exact-size and magic checks, the ``ValueError``
contract, and the Content_Checksum the zarr writer stamps on.  Two
layers of pinning: (1) committed fixtures produced by real libzstd /
snappy (``fixtures/make_zstd_fixture.py``), fixed bytes with no
compressor in the loop at test time; (2) live pyarrow round-trips across
compression levels and data shapes."""

from __future__ import annotations

import glob
import os
import struct

import numpy as np
import pyarrow as pa
import pytest

from spatialdata_spark.sources import blosc as B
from spatialdata_spark.sources.zarrio import _compress, _decompress

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "zstd")


def zstd_decompress(comp: bytes, size: int) -> bytes:
    """The bare-zstd chunk read path of the zarr readers."""
    return _decompress("zstd", comp, size)


def zstd_compress(data: bytes) -> bytes:
    """The ``compressor="zstd"`` chunk write path of the zarr writers."""
    return _compress("zstd", data)


# ---------------------------------------------------------------------------
# committed reference-compressor fixtures
# ---------------------------------------------------------------------------


def _fixture_names():
    return sorted(
        os.path.basename(p)[:-4] for p in glob.glob(os.path.join(FIXDIR, "*.raw"))
    )


@pytest.mark.parametrize("name", _fixture_names())
def test_zstd_committed_fixtures(name):
    with open(os.path.join(FIXDIR, f"{name}.raw"), "rb") as f:
        raw = f.read()
    with open(os.path.join(FIXDIR, f"{name}.zst"), "rb") as f:
        comp = f.read()
    assert zstd_decompress(comp, len(raw)) == raw


@pytest.mark.parametrize("name", _fixture_names())
def test_snappy_committed_fixtures(name):
    with open(os.path.join(FIXDIR, f"{name}.raw"), "rb") as f:
        raw = f.read()
    with open(os.path.join(FIXDIR, f"{name}.snappy"), "rb") as f:
        comp = f.read()
    assert B.native_decompress("snappy", comp, len(raw)) == raw


# ---------------------------------------------------------------------------
# live round-trips against real libzstd / snappy
# ---------------------------------------------------------------------------


def _live_cases():
    rng = np.random.default_rng(7)
    text = " ".join(
        ["the", "quick", "brown", "fox"][i % 4] * (1 + i % 5) for i in range(3000)
    ).encode()
    return {
        "empty": b"",
        "one": b"x",
        "text": text,
        "random": rng.bytes(4096),
        "zeros": b"\0" * 100000,
        "i64": np.arange(40000, dtype=np.int64).tobytes(),
        "multiblock": rng.bytes(50000) + text * 10 + rng.bytes(50000),
    }


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_zstd_decodes_real_libzstd(level):
    for name, data in _live_cases().items():
        comp = pa.Codec("zstd", compression_level=level).compress(data, asbytes=True)
        assert zstd_decompress(comp, len(data)) == data, (name, level)


def test_zstd_concatenated_frames():
    c = pa.Codec("zstd")
    a, b = b"left" * 500, np.arange(999, dtype=np.int16).tobytes()
    assert zstd_decompress(c.compress(a, asbytes=True) + c.compress(b, asbytes=True), len(a + b)) == a + b


def test_zstd_skippable_frame_is_skipped():
    c = pa.Codec("zstd")
    skip = struct.pack("<II", 0x184D2A50, 5) + b"extra"
    body = b"payload" * 100
    assert zstd_decompress(skip + c.compress(body, asbytes=True), len(body)) == body


def test_stored_encoders_read_by_reference_impls():
    """Every ``compressor="zstd"`` chunk carries the Content_Checksum flag
    (frame header descriptor bit 2) and plain libzstd decodes it, so the
    checksum is verified; blosc chunks with snappy streams decode too."""
    for data in (b"", b"q", b"chunk" * 5000, np.arange(60000, dtype=np.int32).tobytes()):
        st = zstd_compress(data)
        assert st[4] & 0x04
        assert zstd_decompress(st, len(data)) == data
        got = pa.Codec("zstd").decompress(st, decompressed_size=len(data), asbytes=True)
        assert got == data
        sn = B.blosc_compress(data, cname="snappy", shuffle=0)
        assert B.blosc_decompress(sn) == data


def test_snappy_decodes_real_snappy():
    for name, data in _live_cases().items():
        comp = pa.Codec("snappy").compress(data, asbytes=True)
        assert B.native_decompress("snappy", comp, len(data)) == data, name


# ---------------------------------------------------------------------------
# decoder error paths
# ---------------------------------------------------------------------------


def test_zstd_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x01\x02\x03rest", 8)


def test_zstd_truncated_raises():
    with open(os.path.join(FIXDIR, "text_lvl3.zst"), "rb") as f:
        comp = f.read()
    with open(os.path.join(FIXDIR, "text_lvl3.raw"), "rb") as f:
        size = len(f.read())
    with pytest.raises(ValueError):
        zstd_decompress(comp[: len(comp) // 2], size)


def test_snappy_bad_offset_raises():
    # copy element with offset past the start of the output
    bad = bytes([4, 0x01 | (2 << 2), 0xFF])
    with pytest.raises(ValueError):
        B.native_decompress("snappy", bad, 4)


# ---------------------------------------------------------------------------
# blosc chunks with zstd / snappy inner streams
# ---------------------------------------------------------------------------


def test_blosc_compress_zstd_snappy_roundtrip():
    rng = np.random.default_rng(3)
    raw = rng.integers(0, 200, size=4096).astype("i4").tobytes()
    for cname in ("zstd", "snappy"):
        for shuffle in (0, 1):
            c = B.blosc_compress(raw, typesize=4, cname=cname, shuffle=shuffle)
            assert B.blosc_decompress(c) == raw, (cname, shuffle)


def test_bare_zstd_zarr_store(spark, tmp_path):
    """zarr v2 store with a numcodecs-style ``{"id": "zstd"}`` compressor
    (bare zstd frames, produced here by real libzstd) reads through the
    tile reader."""
    import json

    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    store = tmp_path / "image" / "0"
    store.mkdir(parents=True)
    zarray = {
        "zarr_format": 2,
        "shape": [1, 8, 8],
        "chunks": [1, 8, 8],
        "dtype": "<f8",
        "compressor": {"id": "zstd", "level": 3},
        "fill_value": 0,
        "order": "C",
        "filters": None,
    }
    (store / ".zarray").write_text(json.dumps(zarray))
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)
    raw = np.ascontiguousarray(yy * 3.0 + xx).tobytes()
    (store / "0.0.0").write_bytes(pa.Codec("zstd").compress(raw, asbytes=True))
    tiles, meta = read_zarr_tiles(spark, str(store))
    rows = tiles.collect()
    assert len(rows) == 1
    got = np.frombuffer(bytes(rows[0]["tile"]), dtype="f8").reshape(8, 8)
    assert np.array_equal(got, yy * 3.0 + xx)


def test_blosc_zstd_store_fixture(spark):
    """Committed zarr v2 store whose blosc chunks carry real libzstd
    streams (shuffled single-stream, unshuffled, split-stream, and
    blosc_compress output) decodes through the distributed tile reader
    (interop target: numcodecs.Blosc(cname='zstd') stores)."""
    from pyspark.sql import functions as F  # noqa: F401

    from spatialdata_spark.sources.zarrio import read_zarr_tiles

    p = os.path.join(os.path.dirname(FIXDIR), "zstd_store", "image", "0")
    tiles, meta = read_zarr_tiles(spark, p)
    assert (meta.height, meta.width, meta.tile) == (16, 16, 8)
    got = {
        (r["ty"], r["tx"]): np.frombuffer(bytes(r["tile"]), dtype="f8").reshape(8, 8)
        for r in tiles.collect()
    }
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)
    exp = {
        (0, 0): np.full((8, 8), 7.0),
        (0, 1): yy * 10.0 + xx,
        (1, 0): xx * 2.0 + 1.0,
        (1, 1): yy - xx,
    }
    assert set(got) == set(exp)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k


def test_real_compressor_read_by_reference_impl():
    """The zstd chunk writer round-trips through BOTH the chunk read
    path and plain libzstd, and actually compresses repetitive data."""
    rng = np.random.default_rng(12)
    text = (b"the quick brown spark zarr chunk " * 3000)
    cases = [b"", b"q", text, rng.bytes(5000), b"\0" * 50000,
             text + rng.bytes(20000) + text]
    for data in cases:
        enc = zstd_compress(data)
        assert zstd_decompress(enc, len(data)) == data
        got = pa.Codec("zstd").decompress(enc, decompressed_size=len(data), asbytes=True)
        assert got == data
    assert len(zstd_compress(text)) < len(text) // 10  # really compresses


def test_real_compressor_fuzz_vs_libzstd():
    import random

    random.seed(4)
    words = [b"aaaa", b"bbbb", b"cc", b"dddddd", b"\x00\x00\x00\x00"]
    for _ in range(500):
        data = b"".join(random.choice(words) for _ in range(random.randint(0, 40)))
        data += bytes(random.randint(0, 255) for _ in range(random.randint(0, 12)))
        enc = zstd_compress(data)
        assert zstd_decompress(enc, len(data)) == data
        assert pa.Codec("zstd").decompress(enc, decompressed_size=len(data), asbytes=True) == data


def test_huffman_literals_compress_and_decode_by_libzstd():
    """Skewed-alphabet chunks are entropy-coded by the zstd chunk writer,
    on both sides of the 1024-literal single/four-stream boundary, and
    real libzstd decodes the output."""
    import random

    random.seed(6)
    skewed = bytes(random.choice(b"aaaaaaabbbc") for _ in range(20000))
    enc = zstd_compress(skewed)
    assert len(enc) < len(skewed) * 0.6  # really entropy-coded
    assert zstd_decompress(enc, len(skewed)) == skewed
    assert pa.Codec("zstd").decompress(enc, decompressed_size=len(skewed), asbytes=True) == skewed
    small = bytes(random.choice(b"xxyyz") for _ in range(600)) + np.random.default_rng(0).bytes(3)
    assert zstd_decompress(zstd_compress(small), len(small)) == small


def test_fse_weight_descriptions_full_alphabet():
    """Full-alphabet float64 chunks (bytes >= 128, few LZ matches) still
    compress through the zstd chunk writer, and real libzstd decodes
    the result."""
    data = (np.sin(np.arange(30000)) * 1000).astype(np.float64).tobytes()
    enc = zstd_compress(data)
    assert len(enc) < len(data)  # really compresses despite no LZ matches
    assert zstd_decompress(enc, len(data)) == data
    assert pa.Codec("zstd").decompress(enc, decompressed_size=len(data), asbytes=True) == data


def test_match_offset_cannot_reach_previous_frame():
    """RFC 8878 window semantics: a match offset is bounded by the
    START OF THE CURRENT FRAME, not the start of the shared output
    buffer.  A corrupt second frame whose offset reaches into the first
    frame's output must raise, never silently copy foreign bytes.

    The second frame is hand-assembled: one compressed block with zero
    raw literals and a single sequence under RLE symbol tables
    (ll=0 -> lit_len 0; ml=0 -> match_len 3; of=3 -> offset_value
    8+read(3)=8 -> offset 5) — valid standalone structure, but offset 5
    with zero bytes of frame-local history."""
    frame1 = (
        b"\x28\xb5\x2f\xfd"  # magic
        + b"\x20\x05"        # single-segment, content size 5
        + b"\x29\x00\x00"    # raw block, last, size 5
        + b"HELLO"
    )
    block = bytes(
        [
            0x00,  # literals: raw, size 0
            0x01,  # one sequence
            0x54,  # modes: LL/OF/ML all RLE
            0x00,  # LL RLE symbol 0
            0x03,  # OF RLE symbol 3
            0x00,  # ML RLE symbol 0
            0x08,  # backward bitstream: sentinel + 3 zero bits
        ]
    )
    frame2 = (
        b"\x28\xb5\x2f\xfd"
        + b"\x20\x03"  # single-segment, content size 3
        + bytes([1 | (2 << 1) | (len(block) << 3), 0x00, 0x00])
        + block
    )
    with pytest.raises(ValueError):
        zstd_decompress(frame1 + frame2, 8)
    # the same offset is fine when the frame itself has the history
    frame_ok = (
        b"\x28\xb5\x2f\xfd"
        + b"\x20\x08"        # content: 5 raw + 3 matched
        + b"\x28\x00\x00"    # raw block, NOT last, size 5
        + b"HELLO"
        + bytes([1 | (2 << 1) | (len(block) << 3), 0x00, 0x00])
        + block
    )
    assert zstd_decompress(frame_ok, 8) == b"HELLOHEL"


# ---------------------------------------------------------------------------
# XXH64 + zstd content checksums
# ---------------------------------------------------------------------------


def test_xxh64_canonical_and_spark_pin(spark):
    """Pin the pure-Python XXH64 against (a) the spec's canonical
    empty-string value and (b) Spark's own JVM XXH64 (F.xxhash64 on
    binary, seed 42) across every length branch of the algorithm —
    an independent in-container reference implementation."""
    import random

    from pyspark.sql import functions as F

    from spatialdata_spark.sources.xxhash import xxh64

    assert xxh64(b"", 0) == 0xEF46DB3751D8E999

    rng = random.Random(7)
    blobs = [
        bytes(rng.randrange(256) for _ in range(n))
        for n in [0, 1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 100, 255, 1024]
    ]
    df = spark.createDataFrame(list(enumerate(blobs)), ["i", "b"])
    got = {r["i"]: r["h"] for r in df.select("i", F.xxhash64("b").alias("h")).collect()}
    for i, b in enumerate(blobs):
        h = xxh64(b, 42)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert got[i] == signed, f"len {len(b)}"


def test_zstd_checksummed_frames_verified_by_libzstd_and_us():
    """Written chunks must satisfy REAL libzstd (which verifies
    Content_Checksum itself — a wrong XXH64 would make pyarrow raise),
    and the chunk read path must verify too: a flipped stored checksum
    raises instead of returning bytes."""
    codec = pa.Codec("zstd")
    data = bytes(range(256)) * 41 + b"tail" + b"\x00" * 999
    comp = zstd_compress(data)
    assert codec.decompress(comp, decompressed_size=len(data)).to_pybytes() == data
    assert zstd_decompress(comp, len(data)) == data

    bad = bytearray(comp)
    bad[-1] ^= 0xFF  # stored checksum corrupted
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad), len(data))


def test_zstd_checksum_detects_tamper_roundtrip():
    data = b"the quick brown fox " * 200
    comp = zstd_compress(data)
    assert zstd_decompress(comp, len(data)) == data
    # incompressible data is stored in a raw block: a flipped content byte
    # still parses, and only the checksum catches it
    noise = np.random.default_rng(1).bytes(4000)
    bad = bytearray(zstd_compress(noise))
    bad[len(bad) // 2] ^= 0x01
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad), len(noise))
    # frames without a checksum (pyarrow's own output) still read
    plain = pa.Codec("zstd").compress(data, asbytes=True)
    assert not plain[4] & 0x04
    assert zstd_decompress(plain, len(data)) == data
