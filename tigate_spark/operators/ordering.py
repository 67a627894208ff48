"""Ordering / time / progress operators T1–T12 (SURVEY §2.2).

tigate gets global order from an LSM whose key is
``(uniqueID, tableID, CRTs, startTs, dmlOrder, key)``
(``logservice/eventstore/format.go:50-85``; delete < update < insert
tie-break at ``:78-85``). In Spark the same total order per key is a
shuffle + ``sortWithinPartitions`` (batch) — no LSM needed because each
micro-batch is bounded (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: D < U < I (format.go:78-85)
OP_RANK = {"D": 1, "U": 2, "I": 3}


def op_rank_col(op_col: str = "op") -> Column:
    return (
        F.when(F.col(op_col) == "D", 1)
        .when(F.col(op_col) == "U", 2)
        .otherwise(3)
    )


def apply_order(df: DataFrame) -> DataFrame:
    """T1/T2: explicit apply sequence per (table_id, pk) — the order a
    same-key consumer must observe (``format.go:50-85``), made testable as
    a ``row_number`` (seq is the unique tie-break)."""
    w = Window.partitionBy("table_id", "pk").orderBy(
        "commit_ts", "start_ts", op_rank_col(), "seq"
    )
    return df.withColumn("apply_seq", F.row_number().over(w))


def range_scan(df: DataFrame, lo: int, hi: int, ts_col: str = "commit_ts") -> DataFrame:
    """T2: ``(lo, hi]`` commit-ts range scan (``event_store.go:602,740-767``).
    Pushed to the parquet scan by Catalyst."""
    return df.filter((F.col(ts_col) > lo) & (F.col(ts_col) <= hi))


def table_progress(df: DataFrame) -> DataFrame:
    """T11: per-table checkpoint = max committed ts + in-flight row count
    (``downstreamadapter/dispatcher/table_progress.go:24-44``)."""
    return df.groupBy("table_id").agg(
        F.max("commit_ts").alias("checkpoint_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("commit_ts", "start_ts").alias("n_txns"),
    )


def changefeed_checkpoint(df: DataFrame) -> DataFrame:
    """T5: two-level watermark aggregation — per-table resolved ts, then
    the changefeed checkpoint = min over tables (partial+final min, as in
    ``maintainer/maintainer.go:74,164-171``). Partial aggregation is
    map-side automatically."""
    per_table = df.groupBy("table_id").agg(F.max("commit_ts").alias("resolved_ts"))
    return per_table.agg(
        F.min("resolved_ts").alias("checkpoint_ts"),
        F.count(F.lit(1)).alias("n_tables"),
    )


def seq_gap_resets(df: DataFrame, loss_mod: int = 37) -> DataFrame:
    """T10: the seq/handshake reset protocol, batch twin of the
    consumer-side decision logic.

    The reference's event collector expects per-dispatcher ``Seq`` to be
    consecutive (``checkEventSeq``,
    ``downstreamadapter/eventcollector/event_collector.go:469-496``): on
    the first gap it drops the event, resets the dispatcher
    (``lastEventSeq=0, waitHandshake=true``) and asks the event service
    to re-send from ``sendCommitTs`` (the largest commit ts already
    delivered); the re-pull starts with a new handshake
    (``pkg/common/event/handshake_event.go``) that restarts the sequence.

    This twin stamps each table lane with the sender's consecutive seq
    (row_number in event-store order), deterministically "loses"
    ~1/``loss_mod`` of the messages in transit (md5-hash selection — the
    transport-loss stand-in), and reports per lane exactly what the
    protocol would decide:

    - ``n_received``      events that arrived,
    - ``n_accepted``      the intact prefix before the first gap
      (everything after the gap is dropped while ``waitHandshake``),
    - ``reset_needed``    1 if a gap was seen,
    - ``resend_start_ts`` the ``sendCommitTs`` the RESET request carries
      (0 when nothing was delivered yet),
    - ``n_resent``        events the re-pull from ``sendCommitTs`` would
      re-send (``commit_ts > sendCommitTs`` — the event store re-serves
      from the last delivered position, so received-but-dropped events
      repeat, exactly as in the reference).

    In production the Structured Streaming source's exactly-once offsets
    + WAL make transport gaps impossible (SURVEY §7.3 drops the wire
    protocol for that reason); this operator is the protocol's *decision
    table*, kept testable for parity. One shuffle on the lane key; every
    aggregate is partial-first.
    """
    from tigate_spark.functions.phash import h32

    lane_w = Window.partitionBy("table_id").orderBy("commit_ts", "seq")
    lane_all = Window.partitionBy("table_id")
    sent = df.select(
        "table_id", "commit_ts", "seq",
        F.row_number().over(lane_w).cast("bigint").alias("sender_seq"),
    )
    lost_flag = (
        h32(
            F.concat(
                F.lit("loss:"),
                F.col("table_id").cast("string"),
                F.lit(":"),
                F.col("sender_seq").cast("string"),
            )
        )
        % loss_mod
        == 0
    ).cast("int")
    marked = (
        sent.withColumn("lost", lost_flag)
        # first lost seq per lane; the accepted prefix ends just before it
        .withColumn(
            "first_gap",
            F.min(F.when(F.col("lost") == 1, F.col("sender_seq"))).over(lane_all),
        )
        # sendCommitTs: largest commit ts delivered before the gap
        .withColumn(
            "resend_start",
            F.max(
                F.when(F.col("sender_seq") < F.col("first_gap"), F.col("commit_ts"))
            ).over(lane_all),
        )
    )
    return marked.groupBy("table_id").agg(
        F.sum(F.lit(1) - F.col("lost")).cast("bigint").alias("n_received"),
        F.coalesce(F.first("first_gap") - 1, F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_accepted"),
        F.max("lost").cast("bigint").alias("reset_needed"),
        F.coalesce(
            F.when(F.max("lost") == 1, F.first("resend_start")), F.lit(0)
        )
        .cast("bigint")
        .alias("resend_start_ts"),
        F.coalesce(
            F.when(
                F.max("lost") == 1,
                F.sum(
                    F.when(
                        F.col("commit_ts") > F.coalesce("resend_start", F.lit(-1)),
                        1,
                    ).otherwise(0)
                ),
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_resent"),
    )
