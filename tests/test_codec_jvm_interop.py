"""Cross-interop of the compression seam vs the REFERENCE
implementations bundled in Spark's JVM.

The sandbox has no python-snappy/lz4/zstandard, but the JVM on every
Spark classpath carries the real codecs: zstd-jni (the C zstd the
reference's Go bindings wrap), xerial snappy-java (the same raw block
format as the Go ``snappy.Encode`` the reference calls), and lz4-java
(standard LZ4 frames). Driving them through py4j checks the seam's
wires in both directions — every wire here is produced or consumed by
a reference implementation, not by the seam itself."""

from __future__ import annotations

import random

import pytest

from tigate_spark.functions.compress import (
    CodecError,
    compress_bytes,
    decompress_bytes,
)


@pytest.fixture(scope="module")
def corpora():
    rng = random.Random(3)
    return {
        "repetitive": b"abcabcabc" * 20000,
        "rle": b"\x00" * 150000,
        "random": rng.randbytes(200000),
        "json-ish": b"".join(
            b'{"pk":%d,"event":"click_%d","v":%d}' % (i, i % 7, i * 13)
            for i in range(4000)),
        "mixed": (rng.randbytes(50) + b"A" * 120000 + rng.randbytes(99)
                  + b"pattern" * 9000),
        "empty": b"",
        "tiny": b"x",
    }


def _jvm(spark):
    return spark._jvm


def test_zstd_decodes_reference_c_frames(spark, corpora):
    """zstd-jni (the C implementation) at levels 1/3/12/19: the seam
    reads every frame — FSE-compressed sequence tables, Huffman
    literals, treeless blocks, RLE blocks, whatever the real compressor
    chose per corpus/level."""
    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    for name, data in corpora.items():
        for level in (1, 3, 12, 19):
            wire = bytes(Zstd.compress(data, level))
            assert decompress_bytes("zstd", wire) == data, (name, level)


def test_zstd_reference_reads_our_frames(spark, corpora):
    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    for name, data in corpora.items():
        wire = compress_bytes("zstd", data)
        back = bytes(Zstd.decompress(wire, len(data)))
        assert back == data, name


def test_snappy_cross_interop_both_directions(spark, corpora):
    """xerial snappy-java = the raw block format (the Go reference's
    snappy.Encode/Decode): both directions byte-correct."""
    Snappy = _jvm(spark).org.xerial.snappy.Snappy
    for name, data in corpora.items():
        wire = bytes(Snappy.compress(data))
        assert decompress_bytes("snappy", wire) == data, name
        wire = compress_bytes("snappy", data)
        assert bytes(Snappy.uncompress(wire)) == data, name


def _lz4_java_frame(spark, data: bytes, *flags: str) -> bytes:
    """``data`` as lz4-java's LZ4FrameOutputStream writes it (64 KiB
    blocks), with the given FLG bits on top of B.Indep."""
    jvm = _jvm(spark)
    Bits = getattr(jvm.net.jpountz.lz4, "LZ4FrameOutputStream$FLG$Bits")
    Size = getattr(jvm.net.jpountz.lz4, "LZ4FrameOutputStream$BLOCKSIZE")
    bits = spark.sparkContext._gateway.new_array(Bits, 1 + len(flags))
    for i, flag in enumerate(("BLOCK_INDEPENDENCE",) + flags):
        bits[i] = getattr(Bits, flag)
    baos = jvm.java.io.ByteArrayOutputStream()
    fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(
        baos, Size.SIZE_64KB, bits)
    fos.write(data)
    fos.close()
    return bytes(baos.toByteArray())


def test_lz4_frame_cross_interop_both_directions(spark, corpora):
    jvm = _jvm(spark)
    for name, data in corpora.items():
        baos = jvm.java.io.ByteArrayOutputStream()
        fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
        fos.write(data)
        fos.close()
        wire = bytes(baos.toByteArray())
        assert wire[:4] == (0x184D2204).to_bytes(4, "little")
        assert decompress_bytes("lz4", wire) == data, name
        # reverse: lz4-java reads the seam's frames (py4j maps bytes ->
        # byte[])
        bais = jvm.java.io.ByteArrayInputStream(compress_bytes("lz4", data))
        fis = jvm.net.jpountz.lz4.LZ4FrameInputStream(bais)
        got = bytes(fis.readAllBytes())
        fis.close()
        assert got == data, name


@pytest.mark.parametrize("flags", [("CONTENT_CHECKSUM",),
                                   ("BLOCK_CHECKSUM",),
                                   ("CONTENT_CHECKSUM", "BLOCK_CHECKSUM")],
                         ids=["content", "block", "content+block"])
def test_lz4_java_checksummed_frames_decode(spark, corpora, flags):
    """lz4-java frames carrying content and/or block checksums decode
    through the seam, and a flipped payload byte is rejected by the
    checksum the frame carries."""
    for name, data in corpora.items():
        wire = _lz4_java_frame(spark, data, *flags)
        flg = wire[4]
        assert bool(flg & (1 << 2)) == ("CONTENT_CHECKSUM" in flags)
        assert bool(flg & (1 << 4)) == ("BLOCK_CHECKSUM" in flags)
        assert decompress_bytes("lz4", wire) == data, (name, flags)
    data = corpora["json-ish"]
    bad = bytearray(_lz4_java_frame(spark, data, *flags))
    bad[len(bad) // 2] ^= 0x01
    with pytest.raises(CodecError, match="(?i)checksum"):
        decompress_bytes("lz4", bytes(bad))


def test_zstd_hypothesis_vs_reference_c(spark):
    """Property sweep: random/structured corpora compressed by the C
    implementation decode byte-exact — the strongest conformance
    evidence available for the FSE/Huffman/sequence paths."""
    import random

    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    rng = random.Random(1234)
    for trial in range(60):
        kind = trial % 4
        n = rng.randint(0, 30000)
        if kind == 0:
            data = rng.randbytes(n)
        elif kind == 1:
            unit = rng.randbytes(rng.randint(1, 24)) or b"q"
            data = unit * (n // max(1, len(unit)))
        elif kind == 2:
            data = b"".join(
                b'{"k%d":%d}' % (i % 11, i * 7) for i in range(n // 10))
        else:
            data = bytes(rng.choice(b"aab") for _ in range(n))
        level = rng.choice((1, 2, 3, 6, 12, 19, 22))
        wire = bytes(Zstd.compress(data, level))
        assert decompress_bytes("zstd", wire) == data, (trial, kind, n, level)


def test_zstd_our_compressed_blocks_really_compress_and_jni_reads(
        spark, corpora):
    """The seam's frames really compress (wire smaller than half the
    input on matchable corpora) and the reference C implementation
    decodes them byte-exact, content checksum included."""
    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    for name in ("repetitive", "json-ish", "mixed"):
        data = corpora[name]
        wire = compress_bytes("zstd", data)
        assert len(wire) < len(data) // 2, (name, len(wire), len(data))
        assert bytes(Zstd.decompress(wire, len(data))) == data, name


def test_zstd_huffman_only_blocks_jni_reads(spark):
    """ASCII data with NO matches compresses through Huffman-coded
    literals alone, and the reference C implementation reads it."""
    import random as _r

    rng = _r.Random(11)
    data = bytes(rng.randrange(32, 127) for _ in range(60000))
    wire = compress_bytes("zstd", data)
    assert len(wire) < len(data)  # Huffman gain on 95-symbol alphabet
    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    assert bytes(Zstd.decompress(wire, len(data))) == data
    assert decompress_bytes("zstd", wire) == data


def test_zstd_fse_weights_description_jni_reads(spark):
    """A >128-symbol literal alphabet (Huffman weights then need the
    FSE-compressed description, §4.2.1.2) still compresses, and the
    reference C implementation decodes the frame byte-exact."""
    import random as _r

    rng = _r.Random(5)
    data = bytes(rng.randrange(130, 250) for _ in range(50000))
    wire = compress_bytes("zstd", data)
    assert len(wire) < len(data)  # Huffman engages above symbol 128
    Zstd = _jvm(spark).com.github.luben.zstd.Zstd
    assert bytes(Zstd.decompress(wire, len(data))) == data
    assert decompress_bytes("zstd", wire) == data
    data2 = bytes(rng.randrange(32, 127) for _ in range(60000))
    wire2 = compress_bytes("zstd", data2)
    assert bytes(Zstd.decompress(wire2, len(data2))) == data2
