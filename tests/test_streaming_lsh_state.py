"""Cross-restart state recovery for the incremental LSH dedup operator:
GroupState (bucket membership) must survive a query stop/restart on the
same checkpoint, so pairs spanning the restart boundary are still found
and nothing is re-emitted."""

from __future__ import annotations

import glob
import os
import time

import pyspark.sql.functions as F
import pytest

#: heavy streaming/e2e tail — excluded from the fast path
pytestmark = pytest.mark.slow

from tigate_spark.functions import dedup as dd
from tigate_spark.streaming.stateful import lsh_incremental_pairs

SF_DIR = os.environ.get("TIGATE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def doc_halves(spark, tmp_path_factory):
    """documents split into two doc_id-ordered parquet files."""
    base = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n = base.count()
    mid = n // 2
    out = str(tmp_path_factory.mktemp("docs"))
    ranked = base.withColumn(
        "part", F.expr(f"cast(row_number() over (order by doc_id) > {mid} as int)")
    )
    ranked.write.partitionBy("part").parquet(os.path.join(out, "parts"))
    halves = []
    for k in range(2):
        fs = sorted(glob.glob(os.path.join(out, "parts", f"part={k}", "*.parquet")))
        assert len(fs) == 1
        halves.append(fs[0])
    return halves


def _run(spark, src_dir, out_dir, ckpt):
    schema = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )
    q = (
        lsh_incremental_pairs(dd.lsh_bands(raw))
        .writeStream.format("parquet")
        .option("path", out_dir).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120), "query still running at timeout"
    finally:
        if q.isActive:
            q.stop()
    assert q.exception() is None


def _pairs(spark, out_dir):
    return sorted(
        (r["doc_a"], r["doc_b"], r["bucket"])
        for r in spark.read.parquet(out_dir).collect()
    )


def test_lsh_state_survives_restart(spark, doc_halves, tmp_path):
    # one-shot reference: both halves visible from the start
    ref_src = str(tmp_path / "ref")
    os.makedirs(ref_src)
    now = time.time()
    for k, f in enumerate(doc_halves):
        dst = os.path.join(ref_src, f"{k}.parquet")
        os.link(f, dst)
        os.utime(dst, (now + k, now + k))
    _run(spark, ref_src, str(tmp_path / "ref_out"), str(tmp_path / "ref_ck"))
    ref = _pairs(spark, str(tmp_path / "ref_out"))
    assert ref, "expected candidate pairs on this corpus"

    # restarted run: first half, stop, add second half, resume on the
    # same checkpoint — GroupState must carry the bucket membership over
    inc_src = str(tmp_path / "inc")
    os.makedirs(inc_src)
    os.link(doc_halves[0], os.path.join(inc_src, "0.parquet"))
    out, ck = str(tmp_path / "inc_out"), str(tmp_path / "inc_ck")
    _run(spark, inc_src, out, ck)
    first_half = _pairs(spark, out)
    os.link(doc_halves[1], os.path.join(inc_src, "1.parquet"))
    _run(spark, inc_src, out, ck)
    assert _pairs(spark, out) == ref
    # the restarted run only appended the new pairs (no re-emission)
    assert len(first_half) < len(ref)
