"""Message compression seam — the tiflow ``pkg/compression``
``Encode``/``Decode`` twin the open codec applies per message VALUE
(``pkg/sink/codec/open/codec.go:85,120`` via
``pkg/sink/codec/common/compress.go:23-41``), validated at config time
(``pkg/config/large_message.go:52-59`` ``compression.Supported``).

Codecs: ``none`` (identity), ``gzip``/``zlib`` (stdlib), and the
REFERENCE set ``lz4``/``snappy`` (``pkg/compression/compression.go``)
plus ``zstd`` (the kafka producer's remaining sarama codec,
sarama.go:89-90, and the reference event store's value codec). This is
the one module that knows those three wire formats; pyarrow's bundled
native codecs do the compression work:

- ``lz4`` is the LZ4 FRAME format (``lz4.NewWriter`` twin). The frame
  is assembled here around ``lz4_raw`` blocks so it carries
  independent blocks and an xxHash32 content checksum — pyarrow's own
  frame writer links blocks (lz4-java rejects those) and omits the
  checksum.
- ``zstd`` is one RFC 8878 frame from pyarrow with the content
  checksum added here (FHD bit 2 + the low 32 bits of xxHash64).
- ``snappy`` is the RAW BLOCK format (``snappy.Encode``/``Decode``),
  not the framing format.

Decoders accept any conforming wire (lz4 block/content checksums,
multi-frame and skippable zstd wires), verify every checksum present,
reject an lz4 match offset of 0 (which liblz4 leaves unchecked), and
raise only :class:`CodecError` on a corrupt, truncated or empty
wire, so dead-letter lanes see one typed error. NOTE: gzip/zlib remain
ENGINE EXTENSIONS — a gzip/zlib wire is not readable by reference
consumers, and their error text says so. The gzip wire pins
``mtime=0`` so compressed bytes are deterministic across executors.

Column forms are Arrow-batched pandas UDFs (binary → binary): there is
no JVM-side SQL compress function, and per-value compression is exactly
the genuinely-non-expressible case the Pandas-UDF lane exists for.
Identity (``none``) stays zero-Python.
"""

from __future__ import annotations

import functools
import gzip
import struct
import zlib

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

#: codecs the seam knows about (reference list: none/lz4/snappy; gzip and
#: zlib are the stdlib-available stand-ins this environment can execute)
KNOWN = ("none", "gzip", "zlib", "lz4", "snappy", "zstd")

#: codecs a REFERENCE consumer can decode (pkg/compression's set);
#: gzip/zlib wires are engine-local extensions
REFERENCE_INTEROP = ("none", "lz4", "snappy")


class CodecError(ValueError):
    """Corrupt, truncated or empty lz4/snappy/zstd wire."""


def supported(cc: str) -> bool:
    """``compression.Supported`` twin: every known codec executes here
    (gzip/zlib via the stdlib, lz4/snappy/zstd via pyarrow)."""
    return cc in KNOWN


def ensure_supported(cc: str) -> None:
    """Config-time guard (large_message.go:57-59) — unretryable wording."""
    if not supported(cc):
        raise ValueError(
            f"compression is not supported, got {cc!r} "
            f"(executable here: none/gzip/zlib/lz4/snappy/zstd; "
            f"gzip/zlib wires are engine extensions NOT readable by "
            f"reference consumers)")


# --------------------------------------------------------------- xxHash

_P32_1 = 2654435761
_P32_2 = 2246822519
_P32_3 = 3266489917
_P32_4 = 668265263
_P32_5 = 374761393
_M32 = 0xFFFFFFFF

_P64_1 = 11400714785074694791
_P64_2 = 14029467366897019727
_P64_3 = 1609587929392839161
_P64_4 = 9650029242287828579
_P64_5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _round32(acc: int, lane: int) -> int:
    return _rotl32((acc + lane * _P32_2) & _M32, 13) * _P32_1 & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 — the lz4 frame's header and content checksum hash."""
    n = len(data)
    pos = n & ~15
    if n >= 16:
        v1 = (seed + _P32_1 + _P32_2) & _M32
        v2 = (seed + _P32_2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P32_1) & _M32
        words = iter(struct.unpack_from(f"<{pos // 4}I", data))
        for w1, w2, w3, w4 in zip(words, words, words, words):
            v1 = _round32(v1, w1)
            v2 = _round32(v2, w2)
            v3 = _round32(v3, w3)
            v4 = _round32(v4, w4)
        acc = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12)
               + _rotl32(v4, 18)) & _M32
    else:
        acc = (seed + _P32_5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        lane = int.from_bytes(data[pos:pos + 4], "little")
        acc = _rotl32((acc + lane * _P32_3) & _M32, 17) * _P32_4 & _M32
        pos += 4
    while pos < n:
        acc = _rotl32((acc + data[pos] * _P32_5) & _M32, 11) * _P32_1 & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P32_2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P32_3) & _M32
    acc ^= acc >> 16
    return acc


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _P64_2) & _M64, 31) * _P64_1 & _M64


def _merge64(acc: int, v: int) -> int:
    acc ^= _round64(0, v)
    return (acc * _P64_1 + _P64_4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 — the zstd frame's content checksum hash (low 32 bits)."""
    n = len(data)
    pos = n & ~31
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        words = iter(struct.unpack_from(f"<{pos // 8}Q", data))
        for w1, w2, w3, w4 in zip(words, words, words, words):
            v1 = _round64(v1, w1)
            v2 = _round64(v2, w2)
            v3 = _round64(v3, w3)
            v4 = _round64(v4, w4)
        acc = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
               + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            acc = _merge64(acc, v)
    else:
        acc = (seed + _P64_5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        acc ^= _round64(0, int.from_bytes(data[pos:pos + 8], "little"))
        acc = (_rotl64(acc, 27) * _P64_1 + _P64_4) & _M64
        pos += 8
    if pos + 4 <= n:
        acc ^= (int.from_bytes(data[pos:pos + 4], "little") * _P64_1) & _M64
        acc = (_rotl64(acc, 23) * _P64_2 + _P64_3) & _M64
        pos += 4
    while pos < n:
        acc ^= (data[pos] * _P64_5) & _M64
        acc = (_rotl64(acc, 11) * _P64_1) & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P64_2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P64_3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------- wire formats

#: FLG 0x64 = version 1 | B.Indep | C.Checksum; BD 0x70 = 4 MiB blocks
_LZ4_DESCRIPTOR = bytes([0x64, 0x70])
_LZ4_HEADER = ((0x184D2204).to_bytes(4, "little") + _LZ4_DESCRIPTOR
               + bytes([(xxh32(_LZ4_DESCRIPTOR) >> 8) & 0xFF]))
_LZ4_BLOCK_MAX = 1 << 22
_LZ4_STORED = 0x80000000  # block-size high bit: block is uncompressed

#: zstd Frame_Header_Descriptor bit 2: Content_Checksum_flag
_ZSTD_CHECKSUM_FLAG = 0x04

#: a snappy copy-2 element is 3 bytes and emits at most 64, so a valid
#: raw block decodes to under 22x its own length
_SNAPPY_MAX_RATIO = 22


def _lz4_compress(data: bytes) -> bytes:
    out = bytearray(_LZ4_HEADER)
    view = memoryview(data)
    for start in range(0, len(data), _LZ4_BLOCK_MAX):
        chunk = view[start:start + _LZ4_BLOCK_MAX]
        block = pa.compress(chunk, "lz4_raw", asbytes=True)
        size = len(block)
        if size >= len(chunk):  # not smaller: store the chunk as is
            block, size = chunk, len(chunk) | _LZ4_STORED
        out += struct.pack("<I", size) + block
    out += struct.pack("<II", 0, xxh32(data))  # EndMark, content checksum
    return bytes(out)


def _zstd_compress(data: bytes) -> bytes:
    # pyarrow writes one frame with no checksum; the flag lives in the
    # Frame_Header_Descriptor right after the magic, and zstd has no
    # header checksum to recompute
    wire = bytearray(pa.compress(data, "zstd", asbytes=True))
    wire[4] |= _ZSTD_CHECKSUM_FLAG
    wire += struct.pack("<I", xxh64(data) & _M32)
    return bytes(wire)


def _lz4_zero_offset(blk: bytes) -> bool:
    """Does a compressed lz4 block hold a match offset of 0?"""
    i, n = 0, len(blk)
    while i < n:
        token, lit, ext = blk[i], blk[i] >> 4, blk[i] >> 4 == 15
        i += 1
        while ext and i < n:  # literal length bytes
            ext, lit, i = blk[i] == 255, lit + blk[i], i + 1
        i += lit + 2
        if i > n:  # the final, literal-only sequence
            return False
        if blk[i - 2] == blk[i - 1] == 0:
            return True
        ext = token & 15 == 15
        while ext and i < n:  # match length bytes
            ext, i = blk[i] == 255, i + 1
    return False


def _lz4_reject_zero_offsets(data: bytes) -> None:
    """liblz4 leaves a match offset of 0 (the minimum is 1) unchecked and
    decodes it to unspecified bytes. A content checksum catches that, so
    only frames without one (foreign ones, e.g. lz4-java's default) have
    their blocks walked here; liblz4 reports any malformed structure."""
    pos, n = 0, len(data)
    while pos + 7 <= n:
        magic, flg = struct.unpack_from("<IB", data, pos)
        if magic & 0xFFFFFFF0 == 0x184D2A50:  # skippable frame
            pos += 8 + int.from_bytes(data[pos + 4:pos + 8], "little")
            continue
        if magic != 0x184D2204:
            return
        pos += 7 + (8 if flg & 0x08 else 0) + (4 if flg & 0x01 else 0)
        size = 1
        while size and pos + 4 <= n:  # blocks, then the EndMark (size 0)
            size = int.from_bytes(data[pos:pos + 4], "little")
            blk = data[pos + 4:pos + 4 + (size & ~_LZ4_STORED)]
            if not (flg & 0x04 or size & _LZ4_STORED) \
                    and _lz4_zero_offset(blk):
                raise CodecError("corrupt lz4 wire: match offset 0")
            pos += 4 + len(blk) + (4 if size and flg & 0x10 else 0)
        pos += 4 if flg & 0x04 else 0


def _stream_decompress(cc: str, data: bytes) -> bytes:
    """lz4 frame / zstd wire → content; checksums verified by the codec."""
    if cc == "lz4":
        _lz4_reject_zero_offsets(data)
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), cc) as stream:
            return stream.read()
    except (OSError, pa.ArrowException) as e:
        raise CodecError(f"corrupt {cc} wire: {e}") from None


def _snappy_decompress(data: bytes) -> bytes:
    n = shift = pos = 0
    while True:  # uncompressed length: little-endian uint32 varint
        if pos >= len(data) or shift > 28:
            raise CodecError("truncated or oversized snappy preamble")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if n > _SNAPPY_MAX_RATIO * len(data):
        raise CodecError(
            f"snappy preamble declares {n} bytes, more than a "
            f"{len(data)}-byte block can hold")
    try:
        return pa.decompress(data, n, "snappy", asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise CodecError(f"corrupt snappy wire: {e}") from None


def compress_bytes(cc: str, data: bytes) -> bytes:
    if cc == "none":
        return data
    if cc == "gzip":
        return gzip.compress(data, mtime=0)
    if cc == "zlib":
        return zlib.compress(data, 6)
    if cc == "lz4":
        return _lz4_compress(data)
    if cc == "snappy":
        return pa.compress(data, "snappy", asbytes=True)
    if cc == "zstd":
        return _zstd_compress(data)
    raise ValueError(f"compression is not supported, got {cc!r}")


def decompress_bytes(cc: str, data: bytes) -> bytes:
    if cc == "none":
        return data
    if cc == "gzip":
        return gzip.decompress(data)
    if cc == "zlib":
        return zlib.decompress(data)
    if cc not in ("lz4", "snappy", "zstd"):
        raise ValueError(f"compression is not supported, got {cc!r}")
    if not data:  # pyarrow would return b"" for an empty wire
        raise CodecError(f"empty {cc} wire")
    if cc == "snappy":
        return _snappy_decompress(data)
    return _stream_decompress(cc, data)


def _codec_col(col: Column, cc: str, fn) -> Column:
    ensure_supported(cc)
    if cc == "none":
        return col
    fn = functools.partial(fn, cc)
    return F.pandas_udf(
        lambda s: s.map(lambda b: None if b is None else fn(bytes(b))),
        "binary")(col)


def compress_col(col: Column, cc: str) -> Column:
    """binary → binary: per-value compress (Arrow-batched; `none` = no-op
    column, keeping the default path pure JVM)."""
    return _codec_col(col, cc, compress_bytes)


def decompress_col(col: Column, cc: str) -> Column:
    """binary → binary: per-value decompress (consumer side)."""
    return _codec_col(col, cc, decompress_bytes)
