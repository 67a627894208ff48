"""snappy + lz4 wire tests through the compression seam.

Decoders are pinned against HAND-CONSTRUCTED wires built element by
element from the public format descriptions (google/snappy
``format_description.txt``; lz4 block + frame specs), so
``decompress_bytes`` is validated against the spec independently of
``compress_bytes``; xxHash32 is pinned against published sanity
vectors. Round trips then prove the encoders emit conforming streams,
hypothesis sweeps the domain, and single-bit flips pin the integrity
fields the lz4 and zstd frames carry. When the native python libs
happen to be installed, cross-interop tests run both directions
(skipped otherwise — not present in this container).
"""

from __future__ import annotations

import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tigate_spark.functions.compress import (
    CodecError,
    compress_bytes,
    decompress_bytes,
    supported,
    xxh32,
)


def _snappy(wire: bytes) -> bytes:
    return decompress_bytes("snappy", wire)


def _lz4(wire: bytes) -> bytes:
    return decompress_bytes("lz4", wire)


def _lz4_frame(*blocks: bytes, flg: int = (1 << 6) | (1 << 5),
               bd: int = 4 << 4) -> bytes:
    """Hand-assembled frame: magic, FLG/BD, header checksum, the given
    compressed blocks, EndMark (no content checksum unless ``flg`` and
    the caller's trailing bytes say so)."""
    header = bytes([flg, bd])
    out = (0x184D2204).to_bytes(4, "little") + header \
        + bytes([(xxh32(header) >> 8) & 0xFF])
    for blk in blocks:
        out += len(blk).to_bytes(4, "little") + blk
    return out + (0).to_bytes(4, "little")


# ------------------------------------------------------------------ xxHash32

def test_xxh32_published_vectors():
    # seed 0 classics + the xxhash sanity prime-seed vector + the
    # python-xxhash README vector (exercises the >=16-byte lane)
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(b"", seed=2654435761) == 0x36B78AE7
    assert xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F


# ------------------------------------------------------- snappy decode (spec)

def test_snappy_decode_literal_only():
    # preamble varint 5, tag (5-1)<<2 | 00, then the bytes
    wire = bytes([5, (4 << 2) | 0]) + b"hello"
    assert _snappy(wire) == b"hello"


def test_snappy_decode_long_literal_length_byte():
    # tag 60<<2 means next 1 byte holds length-1
    body = bytes(range(70))
    wire = bytes([70]) + bytes([60 << 2, 69]) + body
    assert _snappy(wire) == body


def test_snappy_decode_copy_one_byte_offset():
    # "abcd" literal then copy len 4 off 4 -> "abcdabcd"
    wire = bytes([8, (3 << 2) | 0]) + b"abcd" + bytes([
        ((4 >> 8) << 5) | ((4 - 4) << 2) | 1, 4 & 0xFF])
    assert _snappy(wire) == b"abcdabcd"


def test_snappy_decode_copy_two_byte_offset():
    wire = bytes([8, (3 << 2) | 0]) + b"wxyz" + bytes(
        [((4 - 1) << 2) | 2]) + (4).to_bytes(2, "little")
    assert _snappy(wire) == b"wxyzwxyz"


def test_snappy_decode_overlapping_copy_rle():
    # 1-byte literal "A", copy len 7 off 1 -> "A"*8 (classic RLE form)
    wire = bytes([8, 0]) + b"A" + bytes(
        [((1 >> 8) << 5) | ((7 - 4) << 2) | 1, 1])
    assert _snappy(wire) == b"A" * 8


def test_snappy_decode_rejects_bad_offset_and_length_mismatch():
    with pytest.raises(CodecError):
        _snappy(bytes([4, ((4 - 4) << 2) | 1, 9]))  # copy before start
    with pytest.raises(CodecError):
        _snappy(bytes([9, (3 << 2) | 0]) + b"abcd")  # preamble lies
    with pytest.raises(CodecError):
        _snappy(bytes([5, (4 << 2) | 0]) + b"hel")  # truncated body


# ---------------------------------------------------------- lz4 decode (spec)

def test_lz4_block_decode_hand_built():
    # token 0x55: lit=5, match len 5+4=9; offset 5 -> overlapping copy
    # replays "abcde" forward; then the final literal-only sequence,
    # which the spec's end-of-block rule makes at least 5 bytes long
    blk = bytes([0x55]) + b"abcde" + (5).to_bytes(2, "little") \
        + bytes([0x50]) + b"!tail"
    assert _lz4(_lz4_frame(blk)) == b"abcde" + b"abcdeabcd" + b"!tail"


def test_lz4_block_decode_extended_lengths():
    # final literal-only run of 255: token nibble 15, ext byte 240
    lits = bytes(range(255))
    blk = bytes([0xF0, 240]) + lits
    assert _lz4(_lz4_frame(blk)) == lits
    # extended MATCH length: lit=1, ml ext 15+3+4=22, offset 1 (RLE)
    blk2 = bytes([0x1F]) + b"z" + (1).to_bytes(2, "little") + bytes([3]) \
        + bytes([0x50]) + b"tail!"
    assert _lz4(_lz4_frame(blk2)) == b"z" * 23 + b"tail!"


def test_lz4_block_decode_rejects_zero_offset():
    # match offset 0 is invalid (the minimum is 1) and must be rejected
    # without any checksum's help: the frames carry none
    blk = bytes([0x14]) + b"a" + (0).to_bytes(2, "little")
    with pytest.raises(CodecError):
        _lz4(_lz4_frame(blk))
    # the same copy followed by a valid final literal run
    with pytest.raises(CodecError, match="offset 0"):
        _lz4(_lz4_frame(blk + bytes([0x50]) + b"tail!"))


def test_lz4_frame_decode_hand_built_stored_block():
    # hand-assemble: magic, FLG (v1, b-indep), BD 64KB, HC, one stored
    # block, EndMark — no content checksum
    header = bytes([(1 << 6) | (1 << 5), 4 << 4])
    hc = (xxh32(header) >> 8) & 0xFF
    payload = b"stored-block-payload"
    frame = (0x184D2204).to_bytes(4, "little") + header + bytes([hc]) \
        + (len(payload) | 0x80000000).to_bytes(4, "little") + payload \
        + (0).to_bytes(4, "little")
    assert _lz4(frame) == payload


def test_lz4_frame_decode_block_checksum_and_content_size():
    # FLG: v1, b-indep, block-checksum, content-size, content-checksum
    flg = (1 << 6) | (1 << 5) | (1 << 4) | (1 << 3) | (1 << 2)
    header = bytes([flg, 4 << 4]) + (11).to_bytes(8, "little")
    hc = (xxh32(header) >> 8) & 0xFF
    payload = b"hello world"
    frame = (0x184D2204).to_bytes(4, "little") + header + bytes([hc]) \
        + (len(payload) | 0x80000000).to_bytes(4, "little") + payload \
        + xxh32(payload).to_bytes(4, "little") \
        + (0).to_bytes(4, "little") \
        + xxh32(payload).to_bytes(4, "little")
    assert _lz4(frame) == payload


def test_lz4_frame_rejects_bad_magic_header_checksum_and_content():
    good = compress_bytes("lz4", b"payload bytes here")
    with pytest.raises(CodecError):
        _lz4(b"\x00" + good[1:])
    bad_hc = bytearray(good)
    bad_hc[6] ^= 0xFF
    with pytest.raises(CodecError):
        _lz4(bytes(bad_hc))
    bad_cc = bytearray(good)
    bad_cc[-1] ^= 0xFF
    with pytest.raises(CodecError):
        _lz4(bytes(bad_cc))


# ------------------------------------------------------------- round trips

_CORPUS = st.one_of(
    st.binary(max_size=4096),
    # repetitive / RLE-ish shapes where match emission dominates
    st.builds(lambda b, n: b * n, st.binary(min_size=1, max_size=16),
              st.integers(min_value=1, max_value=2000)),
    st.builds(lambda a, b, n: a + b * n + a,
              st.binary(max_size=64),
              st.binary(min_size=1, max_size=8),
              st.integers(min_value=0, max_value=500)),
)


def _lz4_blocks(wire: bytes):
    """(size word, body) per data block of a seam-written frame."""
    pos = 7
    while True:
        (word,) = struct.unpack_from("<I", wire, pos)
        pos += 4
        if word == 0:
            return
        body = wire[pos:pos + (word & 0x7FFFFFFF)]
        pos += len(body)
        yield word, body


@settings(max_examples=150, deadline=None)
@given(_CORPUS)
def test_snappy_roundtrip_property(data):
    assert _snappy(compress_bytes("snappy", data)) == data


@settings(max_examples=150, deadline=None)
@given(_CORPUS)
def test_lz4_block_roundtrip_property(data):
    """The frame's data blocks: a compressed block is strictly smaller
    than the bytes it decodes to (else the block is stored, high bit
    set), and the blocks concatenate back to the input."""
    got = b""
    for word, body in _lz4_blocks(compress_bytes("lz4", data)):
        if word & 0x80000000:
            got += body
        else:
            chunk = pa.decompress(body, min(len(data), 1 << 22),
                                  "lz4_raw", asbytes=True)
            assert len(body) < len(chunk)
            got += chunk
    assert got == data


@settings(max_examples=100, deadline=None)
@given(_CORPUS)
def test_lz4_frame_roundtrip_property(data):
    wire = compress_bytes("lz4", data)
    assert _lz4(wire) == data
    # pyarrow's own frame reader agrees
    assert pa.decompress(wire, len(data), "lz4", asbytes=True) == data


def test_lz4_frame_multi_block():
    data = (b"0123456789abcdef" * 270000) + b"tail"  # > one 4 MiB block
    wire = compress_bytes("lz4", data)
    assert len(list(_lz4_blocks(wire))) == 2
    assert _lz4(wire) == data


def test_lz4_block_end_rules_hold():
    # the frame's compressed blocks must leave the last 5 bytes as
    # literals (liblz4 rejects blocks that do not) — verify on a worst
    # case (pure repetition)
    data = b"ab" * 64
    [(word, blk)] = _lz4_blocks(compress_bytes("lz4", data))
    assert not word & 0x80000000  # compressed, not stored
    # walk sequences; the final sequence must be literal-only with >= 5
    pos, n = 0, len(blk)
    last_lit = 0
    while pos < n:
        token = blk[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = blk[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        pos += lit
        if pos == n:
            last_lit = lit
            break
        pos += 2
        ml = token & 0xF
        if ml == 15:
            while True:
                b = blk[pos]
                pos += 1
                ml += b
                if b != 255:
                    break
    assert last_lit >= 5


# ----------------------------------------------------------- frame integrity

def test_lz4_and_zstd_frames_carry_integrity_fields():
    data = b"integrity " * 300
    lz4 = compress_bytes("lz4", data)
    flg = lz4[4]
    assert flg >> 6 == 1                    # version 01
    assert flg & (1 << 5)                   # B.Indep: lz4-java reads it
    assert flg & (1 << 2)                   # C.Checksum
    assert lz4[-4:] == xxh32(data).to_bytes(4, "little")
    zstd = compress_bytes("zstd", data)
    assert zstd[:4] == (0xFD2FB528).to_bytes(4, "little")
    fhd = zstd[4]
    assert fhd >> 6 or fhd & 0x20           # Frame_Content_Size present
    assert fhd & 0x04                       # Content_Checksum_flag


@pytest.mark.parametrize("cc", ["lz4", "zstd"])
def test_single_bit_flips_never_decode_to_other_bytes(cc):
    """One bit flipped at every byte position of a ~3 KB wire: the
    decoder raises the seam's typed error. Every lz4 flip raises; for
    zstd a few bits do not change what the wire decodes to (the unused
    FHD bit, don't-care bits inside a bitstream), and those must return
    the original bytes. Never different bytes, never an untyped
    error."""
    import random

    rng = random.Random(17)
    words = [bytes(rng.choice(b"abcdefghijklmnop")
                   for _ in range(rng.randrange(2, 8))) for _ in range(300)]
    size = {"lz4": 6000, "zstd": 9000}[cc]
    data = b" ".join(rng.choice(words) for _ in range(size))[:size]
    wire = compress_bytes(cc, data)
    assert 2500 < len(wire) < 4500
    rejected = 0
    for i in range(len(wire)):
        w = bytearray(wire)
        w[i] ^= 1 << (i % 8)
        try:
            assert decompress_bytes(cc, bytes(w)) == data, i
        except CodecError:
            rejected += 1
    unchanged_ok = {"lz4": 0, "zstd": 8}[cc]
    assert rejected >= len(wire) - unchanged_ok


# ------------------------------------------------------------ seam plumbing

def test_seam_reference_codecs_always_supported():
    assert supported("snappy") and supported("lz4")
    for cc in ("snappy", "lz4"):
        data = b"seam payload " * 300
        assert decompress_bytes(cc, compress_bytes(cc, data)) == data


def test_native_snappy_cross_interop():
    snappy = pytest.importorskip("snappy")
    data = b"cross interop payload " * 200
    # native reads ours; we read native's
    assert snappy.decompress(compress_bytes("snappy", data)) == data
    assert _snappy(snappy.compress(data)) == data


def test_native_lz4_cross_interop():
    lz4f = pytest.importorskip("lz4.frame")
    data = b"cross interop payload " * 200
    assert lz4f.decompress(compress_bytes("lz4", data)) == data
    assert _lz4(lz4f.compress(data)) == data


def test_lz4_frame_block_dependent_decode():
    """FLG B.Indep clear: matches reach into previous blocks' content.
    Hand-build a 2-block dependent frame: block 2 copies a pattern
    that lives entirely in block 1."""
    pat = b"0123456789abcdef" * 8  # 128 bytes, in block 1
    blk1 = pa.compress(pat, "lz4_raw", asbytes=True)
    # block 2: 4 literals then a 32-byte match at offset 132 — the
    # match source lies entirely in block 1's content
    blk2 = bytes([(4 << 4) | 15]) + b"WXYZ" \
        + (132).to_bytes(2, "little") + bytes([32 - 4 - 15]) \
        + bytes([0x50]) + b"tail!"
    frame = _lz4_frame(blk1, blk2, flg=1 << 6)  # v1, B.Indep CLEAR
    expect = pat + b"WXYZ" + (pat + b"WXYZ")[-132:-132 + 32] + b"tail!"
    assert _lz4(frame) == expect
