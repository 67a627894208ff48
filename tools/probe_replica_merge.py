#!/usr/bin/env python
"""Replica merge probe: Spark jobs, codegen compiles and seconds per merge.

Seeds a :class:`ReplicaSink` with a small state (``--keys`` rows over 4
tables, 800 by default, the state size of perfbench's ``replica_steady``),
then merges ``--merges`` batches of ``--rows`` changes each (5 x 5k by
default) drawn from the same keys. Each batch is a parquet file read,
passed through ``sink.prepare``, cached and summarized per table before
the timer starts, the shape ``Changefeed`` hands the sink, so only
``process_batch`` (given the ``summary=``) is timed.
Per merge it prints the number of Spark jobs (``nextJobId`` before and
after), the generated classes it compiled (``session.codegen_compiles``)
and the seconds; then the final state's row count, which must equal
``--keys``.

    python tools/probe_replica_merge.py [--cpus 4] [--merges 5]
        [--rows 5000] [--keys 800] [--seed 1]

Runs against the package in the checkout it sits in, so the same command
in two checkouts gives an A/B.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

N_TABLES = 4


def changes(rng, first_seq: int, n: int, keys: int, ts0: int,
            ops=("I", "U", "D"), p=(0.2, 0.7, 0.1)) -> pa.Table:
    """``n`` change rows over ``keys`` (table_id, pk) keys, in seq order."""
    key = rng.integers(0, keys, n) if n != keys else np.arange(keys)
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    commit = ts0 + seq * 10
    return pa.table({
        "seq": seq,
        "schema_name": pa.array(["app"] * n),
        "table_name": pa.array([f"t{k % N_TABLES}" for k in key]),
        "table_id": (key % N_TABLES).astype(np.int64),
        "op": pa.array(rng.choice(ops, n, p=p) if n != keys else ["I"] * n),
        "start_ts": commit - 5,
        "commit_ts": commit,
        "pk": (key // N_TABLES).astype(np.int64),
        "event_type": pa.array(rng.choice(["view", "click", "buy"], n)),
        "value_cents": rng.integers(0, 10_000, n).astype(np.int64),
        "user_id": key.astype(np.int64),
    })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--merges", type=int, default=5)
    ap.add_argument("--rows", type=int, default=5000)
    ap.add_argument("--keys", type=int, default=800)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from tigate_spark.session import codegen_compiles, get_spark
    from tigate_spark.streaming.changefeed import _summarize
    from tigate_spark.streaming.sinks import ReplicaSink, read_state

    spark = get_spark("probe-replica-merge", cpus=args.cpus)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    rng = np.random.default_rng(args.seed)
    with tempfile.TemporaryDirectory(prefix="probe-replica-") as work:
        files = [os.path.join(work, f"b{i}.parquet")
                 for i in range(args.merges + 1)]
        pq.write_table(changes(rng, 0, args.keys, args.keys, 10**15),
                       files[0])
        for i in range(1, args.merges + 1):
            pq.write_table(changes(rng, i * 10**6, args.rows, args.keys,
                                   10**15), files[i])
        sink = ReplicaSink(os.path.join(work, "state"),
                           ["event_type", "value_cents", "user_id"])
        for i, f in enumerate(files):
            batch = sink.prepare(spark.read.parquet(f)).persist()
            summary = _summarize(batch)  # fills the cache, as in the feed
            j0, c0 = dag.nextJobId(), codegen_compiles(spark)
            t0 = time.perf_counter()
            sink.process_batch(batch, i, summary=summary)
            dt = time.perf_counter() - t0
            jobs = dag.nextJobId() - j0
            compiles = codegen_compiles(spark) - c0
            batch.unpersist()
            label = "seed" if i == 0 else f"merge {i}"
            print(f"{label}: {jobs} jobs, {compiles} compiles, {dt:.2f} s")
        n = read_state(spark, sink.state_dir).count()
        print(f"final state rows: {n} (keys: {args.keys})")
    spark.stop()


if __name__ == "__main__":
    main()
