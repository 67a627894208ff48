"""Bank invariant test — the reference's `tests/integration_tests/bank/`
scenario: a stream of transfer transactions must keep the total balance
constant at every consistency point (SURVEY §5 item 3).

Here: 400 transfers over 100 accounts, streamed through the real
Changefeed sink (ReplicaSink merge) one micro-batch at a time; after every
batch the materialized replica (+ untouched accounts) must sum to the
initial total. This pins ordered last-writer-wins apply: any lost or
misordered update shifts the total.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tigate_spark.streaming.sinks import ReplicaSink, read_replica

#: heavy streaming/e2e tail — excluded from the fast path
#: (`pytest -m "not slow"`); the close gate runs everything
pytestmark = pytest.mark.slow

N_ACCOUNTS = 100
INIT_BALANCE = 1000
N_TXNS = 400
BASE_TS = 1_700_000_000_000_000


def _make_transfers():
    """Deterministic transfer log; each txn = 2 update rows carrying the
    post-transfer balances (what a CDC stream of `UPDATE accounts SET
    balance=...` looks like)."""
    balances = [INIT_BALANCE] * N_ACCOUNTS
    rows = []
    seq = 0
    for t in range(N_TXNS):
        a, b = t % N_ACCOUNTS, (t * 7 + 3) % N_ACCOUNTS
        if a == b:
            b = (b + 1) % N_ACCOUNTS
        amount = (t % 50) + 1
        balances[a] -= amount
        balances[b] += amount
        ts = BASE_TS + t * 1000
        for pk, bal in ((a, balances[a]), (b, balances[b])):
            rows.append(
                dict(table_id=0, pk=pk, op="U", commit_ts=ts,
                     start_ts=ts - 500, seq=seq, balance=bal)
            )
            seq += 1
    return rows, balances


@pytest.fixture(scope="module")
def transfer_chunks(spark, tmp_path_factory):
    rows, final = _make_transfers()
    src = str(tmp_path_factory.mktemp("bank_src"))
    chunk_paths = []
    per = N_TXNS // 4 * 2  # rows per chunk, txn-aligned
    for i in range(4):
        pdf = pd.DataFrame(rows[i * per:(i + 1) * per])
        sdf = spark.createDataFrame(pdf)
        d = os.path.join(src, f"c{i}")
        sdf.coalesce(1).write.parquet(d)
        f = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        chunk_paths.append(f)
    return chunk_paths, final


def test_total_balance_constant_per_batch(spark, transfer_chunks, tmp_path):
    chunk_paths, final_balances = transfer_chunks
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    state_dir = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ckpt")
    sink = ReplicaSink(state_dir, ["balance"])
    schema = spark.read.parquet(chunk_paths[0]).schema
    total0 = N_ACCOUNTS * INIT_BALANCE

    for i, f in enumerate(chunk_paths):
        dst = os.path.join(stream_dir, f"{i:02d}.parquet")
        os.link(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        q = (
            spark.readStream.schema(schema).parquet(stream_dir)
            .writeStream.foreachBatch(sink.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "query still running at timeout"
        finally:
            if q.isActive:
                q.stop()
        assert q.exception() is None
        replica = read_replica(spark, state_dir)
        touched_sum, touched_n = replica.agg(
            F.sum("balance"), F.count(F.lit(1))
        ).first()
        total = touched_sum + (N_ACCOUNTS - touched_n) * INIT_BALANCE
        assert total == total0, f"balance leak after batch {i}: {total}"

    # final replica state must equal the ground-truth balance vector
    got = {r["pk"]: r["balance"] for r in read_replica(spark, state_dir).collect()}
    exp = {pk: bal for pk, bal in enumerate(final_balances) if pk in got}
    assert got == exp
    assert len(got) == N_ACCOUNTS  # every account touched by 400 transfers
