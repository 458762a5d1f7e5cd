"""Blosc chunk codec tests (wire-format pinned by hand-built byte
vectors, not just encoder/decoder round-trips).  The LZ4/snappy/zstd
streams inside a chunk are pyarrow's bundled codecs."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from spatialdata_spark.sources import blosc as B

# a spec-valid LZ4 block: literals "abc", match offset 3 length 9, then
# the literal-only last sequence "defgh" the end-of-block rule requires
LZ4_17 = bytes([0x35]) + b"abc" + bytes([0x03, 0x00]) + bytes([0x50]) + b"defgh"


def test_lz4_known_vectors():
    assert B.native_decompress("lz4", LZ4_17, 17) == b"abcabcabcabcdefgh"
    # overlapping RLE: one literal 'x', match offset 1 length 8, then "defgh"
    v2 = bytes([0x14]) + b"x" + bytes([0x01, 0x00]) + bytes([0x50]) + b"defgh"
    assert B.native_decompress("lz4", v2, 14) == b"x" * 9 + b"defgh"
    # extended literal length (>=15 with 255-run extension): 15+255+255+243
    data = bytes(range(256)) * 3
    assert B.native_decompress("lz4", bytes([0xF0, 255, 255, 243]) + data, 768) == data
    assert B.native_decompress("lz4", B.native_compress("lz4", data), len(data)) == data


def test_lz4_corrupt_raises():
    with pytest.raises(ValueError):
        B.native_decompress("lz4", bytes([0x10, 0x41, 0x00, 0x00]), 100)  # zero offset
    with pytest.raises(ValueError):
        B.native_decompress("lz4", LZ4_17, 99)  # wrong size: too big
    with pytest.raises(ValueError):
        B.native_decompress("lz4", LZ4_17, 16)  # wrong size: too small


def _single_stream_chunk(cname: str, payload: bytes, nbytes: int) -> bytes:
    """Blosc chunk: one block, one unshuffled ``cname`` stream."""
    flags = ({"lz4": 1, "snappy": 2}[cname] << 5) | B.FLAG_DONT_SPLIT
    header = bytes([2, 1, flags, 1]) + struct.pack("<III", nbytes, nbytes, 16 + 4 + 4 + len(payload))
    return header + struct.pack("<I", 20) + struct.pack("<I", len(payload)) + payload


@pytest.mark.parametrize("cname", ["lz4", "snappy"])
def test_blosc_stream_shorter_than_header_raises(cname):
    """A spec-valid stream that decodes to fewer bytes than the header
    declares must raise: pyarrow alone would pad the output with
    uninitialized memory and return garbage pixels."""
    payload = LZ4_17 if cname == "lz4" else pa.Codec("snappy").compress(b"abcabcabcabcdefgh", asbytes=True)
    assert B.blosc_decompress(_single_stream_chunk(cname, payload, 17)) == b"abcabcabcabcdefgh"
    with pytest.raises(ValueError):
        B.blosc_decompress(_single_stream_chunk(cname, payload, 30))


def test_blosc_roundtrip_matrix():
    rng = np.random.default_rng(42)
    for dtype in ["u1", "u2", "i4", "f8"]:
        a = rng.integers(0, 200, size=3333).astype(dtype)
        raw = a.tobytes()
        for shuffle in (0, 1):
            for bs in (0, 512, 4096):
                c = B.blosc_compress(raw, typesize=a.dtype.itemsize, shuffle=shuffle, blocksize=bs)
                assert B.blosc_decompress(c) == raw, (dtype, shuffle, bs)


def test_blosc_zlib_inner_codec():
    raw = bytes(range(256)) * 16
    c = B.blosc_compress(raw, typesize=4, cname="zlib", shuffle=1)
    assert B.blosc_decompress(c) == raw


def test_blosc_memcpyed_chunk():
    raw = bytes(range(100))
    chunk = bytes([2, 1, B.FLAG_MEMCPYED, 1]) + struct.pack("<III", 100, 100, 116) + raw
    assert B.blosc_decompress(chunk) == raw


def test_blosc_raw_stream_when_incompressible():
    # csize == uncompressed stream size means "stored verbatim"
    raw = b"\x01\x02\x03\x04" * 8
    header = bytes([2, 1, (1 << 5) | B.FLAG_DONT_SPLIT, 4]) + struct.pack("<III", 32, 32, 16 + 4 + 4 + 32)
    chunk = header + struct.pack("<I", 20) + struct.pack("<I", 32) + raw
    assert B.blosc_decompress(chunk) == raw


def test_blosc_unsupported_paths_error_clearly():
    blosclz_flags = 0 << 5
    chunk = bytes([2, 1, blosclz_flags, 1]) + struct.pack("<III", 16, 16, 16 + 4 + 4 + 8)
    chunk += struct.pack("<I", 16 + 4) + struct.pack("<I", 8) + bytes(8)
    with pytest.raises(ValueError, match="blosclz"):
        B.blosc_decompress(chunk)
    bit = bytes([2, 1, B.FLAG_BITSHUFFLE, 1]) + struct.pack("<III", 16, 16, 36) + bytes(20)
    with pytest.raises(ValueError, match="bit-shuffle"):
        B.blosc_decompress(bit)


def test_unshuffle_inverts_shuffle():
    rng = np.random.default_rng(0)
    for ts in (2, 4, 8):
        buf = rng.integers(0, 256, size=ts * 100 + 3, dtype=np.uint8).tobytes()
        assert B._unshuffle(B._shuffle(buf, ts), ts) == buf


def test_written_blosc_chunks_decode_with_pyarrow():
    """Chunks the zarr writer emits for ``compressor="blosc"`` are read
    here without ``blosc_decompress``: header and block offsets parsed by
    hand, each LZ4 stream decoded by pyarrow, unshuffled in numpy.  The
    streams really compress."""
    from spatialdata_spark.sources.zarrio import _compress

    rng = np.random.default_rng(5)
    for a in (
        np.arange(70000, dtype="u2"),
        rng.integers(0, 50, size=(300, 301)).astype("f8"),
        np.zeros(17, dtype="u1"),
    ):
        raw = a.tobytes()
        chunk = _compress("blosc", raw, typesize=a.dtype.itemsize)
        flags, ts = chunk[2], chunk[3]
        nbytes, blocksize, cbytes = struct.unpack_from("<III", chunk, 4)
        assert (flags >> 5, nbytes, cbytes) == (1, len(raw), len(chunk))
        nblocks = -(-nbytes // blocksize)
        starts = struct.unpack_from(f"<{nblocks}I", chunk, 16)
        out = b""
        for j, pos in enumerate(starts):
            neblock = min(blocksize, nbytes - j * blocksize)
            nstreams = ts if not flags & B.FLAG_DONT_SPLIT and neblock % ts == 0 else 1
            block = b""
            for _ in range(nstreams):
                (csize,) = struct.unpack_from("<I", chunk, pos)
                payload = chunk[pos + 4 : pos + 4 + csize]
                per = neblock // nstreams
                block += payload if csize == per else pa.Codec("lz4_raw").decompress(payload, per, asbytes=True)
                pos += 4 + csize
            if flags & B.FLAG_SHUFFLE:
                body = neblock // ts * ts
                block = np.frombuffer(block[:body], "u1").reshape(ts, -1).T.tobytes() + block[body:]
            out += block
        assert out == raw
        if a.size > 17:
            assert len(chunk) < len(raw) // 2
