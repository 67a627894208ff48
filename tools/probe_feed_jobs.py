#!/usr/bin/env python
"""Changefeed probe: Spark jobs, codegen compiles and seconds per micro-batch.

Splits the ``events`` table of a star-schema data dir into 4 parquet files
ordered by ``event_id`` (the fixed 4-file feed of the streaming tests, one
file per micro-batch), runs one :class:`Changefeed` on ``--sink`` over it
to completion, and prints, per micro-batch, the Spark jobs it ran
(``nextJobId`` before and after ``_foreach_batch``), the generated
classes it compiled (``session.codegen_compiles``) and its seconds.
``--redo`` turns the redo log on (``consistent.level=eventual``). The
first batch carries the cold start (codegen, first reads), so compare
the later ones.

    python tools/probe_feed_jobs.py --sf <dir holding events.parquet>
        [--sink replica://] [--cpus 4] [--redo]

Runs against the package in the checkout it sits in, so the same command
in two checkouts gives an A/B.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_feed(spark, sf_dir: str, out: str, n_files: int = 4) -> None:
    """``events`` split into ``n_files`` one-file chunks by event_id
    quantiles, named so the file source reads them in order."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    qs = ev.approxQuantile(
        "event_id", [i / n_files for i in range(1, n_files)], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(n_files):
        chunk = os.path.join(out, f"_chunk-{i:02d}")
        (ev.filter((F.col("event_id") > bounds[i])
                   & (F.col("event_id") <= bounds[i + 1]))
         .coalesce(1).write.parquet(chunk))
        (part,) = glob.glob(os.path.join(chunk, "part-*.parquet"))
        os.replace(part, os.path.join(out, f"{i:02d}.parquet"))
        shutil.rmtree(chunk)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True,
                    help="data dir holding events.parquet")
    ap.add_argument("--sink", default="replica://")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--redo", action="store_true")
    args = ap.parse_args()

    from tigate_spark.config import ChangefeedConfig
    from tigate_spark.session import codegen_compiles, get_spark
    from tigate_spark.streaming.changefeed import Changefeed

    spark = get_spark("probe-feed-jobs", cpus=args.cpus)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    with tempfile.TemporaryDirectory(prefix="probe-feed-") as work:
        src = os.path.join(work, "src")
        write_feed(spark, args.sf, src)
        cfg = ChangefeedConfig(changefeed_id="probe", sink_uri=args.sink)
        if args.redo:
            cfg.consistent.level = "eventual"
            cfg.consistent.storage = os.path.join(work, "redo")
        cf = Changefeed(spark, cfg, src, os.path.join(work, "feed"))
        inner = cf._foreach_batch
        rows = []

        def counted(batch_df, batch_id):
            j0, c0 = dag.nextJobId(), codegen_compiles(spark)
            t0 = time.perf_counter()
            inner(batch_df, batch_id)
            rows.append((batch_id, dag.nextJobId() - j0,
                         codegen_compiles(spark) - c0,
                         time.perf_counter() - t0))

        cf._foreach_batch = counted
        cf.run_to_completion()
        print(f"sink {args.sink}{' + redo' if args.redo else ''}, "
              f"local[{args.cpus}]")
        for batch_id, jobs, compiles, dt in rows:
            print(f"batch {batch_id}: {jobs} jobs, {compiles} compiles, "
                  f"{dt:.2f} s")
    spark.stop()


if __name__ == "__main__":
    main()
