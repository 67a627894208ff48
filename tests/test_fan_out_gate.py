"""The scan fan-outs (the change stream's image/encode entries, the
documents scoring entries) and the CPU-bound kernel fan-outs (dedup
shingles, embedding quantization, the cosine-kernel corpus) share one
bytes gate, ``sources.batch.fan_out_if_small`` — a no-op once the input
is big enough to feed the scan its own splits, the small-input
repartition otherwise."""

import os

from pyspark.sql import functions as F

from tigate_spark.functions import dedup as dd
from tigate_spark.functions import similarity as sim
from tigate_spark.sources import batch
from tigate_spark.sources.batch import load_table


def _has_fan_out(df) -> bool:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return "REPARTITION_BY_NUM" in buf.getvalue()


def test_small_input_keeps_fan_out(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    assert _has_fan_out(dd.with_shingles(docs))
    assert _has_fan_out(sim.with_quantized(emb))


def test_big_input_skips_fan_out(spark, sf_dir, monkeypatch):
    # shrink the gate so the sf0.01 files count as "big": the exchange
    # must disappear while results stay the operator's own business
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    assert not _has_fan_out(dd.with_shingles(docs))
    assert not _has_fan_out(sim.with_quantized(emb))


def test_unsizeable_input_keeps_fan_out(spark, monkeypatch):
    # in-memory frame: inputFiles() is empty -> streaming/micro-batch
    # posture, the fan-out stays
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("one two three four five six").alias("text"),
    )
    assert _has_fan_out(dd.with_shingles(df))


def test_one_unstatable_file_does_not_unsize_the_scan(
        spark, sf_dir, tmp_path, monkeypatch):
    # three input files, one failing to stat: the other two still exceed
    # the (shrunk) gate, so no fan-out; only when no file can be sized
    # does the fan-out come back
    out = str(tmp_path / "docs")
    load_table(spark, sf_dir, "documents").repartition(3).write.parquet(out)
    docs = spark.read.parquet(out)
    paths = batch.local_paths_from_input_files(docs.inputFiles())
    assert len(paths) == 3
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    real_getsize = os.path.getsize

    def getsize(p):
        if p == paths[0]:
            raise FileNotFoundError(p)
        return real_getsize(p)

    monkeypatch.setattr(os.path, "getsize", getsize)
    assert not _has_fan_out(dd.with_shingles(docs))

    def never(p):
        raise FileNotFoundError(p)

    monkeypatch.setattr(os.path, "getsize", never)
    assert _has_fan_out(dd.with_shingles(docs))


def test_gated_results_identical(spark, sf_dir, monkeypatch):
    docs = load_table(spark, sf_dir, "documents")
    before = dd.minhash_lsh_pairs(docs).collect()
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", 1)
    monkeypatch.setattr(batch, "FAN_OUT_MAX_BYTES", 1)
    after = dd.minhash_lsh_pairs(docs).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_directory_table_is_sized_by_its_files(spark, sf_dir, tmp_path,
                                               monkeypatch):
    # a Spark-written table is a directory: getsize(<table path>) is the
    # directory inode's few bytes, not the data. With the gate between
    # the two, the change stream's image fan-out must see the real bytes
    # and plan no round-robin exchange
    from tigate_spark.sources.changes import changes_stream

    sf = tmp_path / "sf"
    table = str(sf / "events.parquet")
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(table)
    files = batch.local_paths_from_input_files(
        spark.read.parquet(table).inputFiles())
    real = sum(os.path.getsize(p) for p in files)
    par = spark.sparkContext.defaultParallelism
    split = real // par
    assert par * split > os.path.getsize(table)
    monkeypatch.setattr(batch, "_MAX_SPLIT_BYTES", split)
    assert not _has_fan_out(changes_stream(spark, str(sf), with_images=True))
