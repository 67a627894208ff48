"""Streaming-path catalog entries: the Structured Streaming changefeed run
end-to-end inside a `queries()` builder, oracle-checked like every batch
operator.

The builder executes a real ``readStream → writeStream`` query into a
temp work dir, then returns the downstream state as a DataFrame — so the
driver's hash-match proves the *streaming* engine produces the same
final state as the DuckDB last-writer-wins oracle (`sync_diff_inspector`
equivalence, SURVEY §5).

Every query runs to completion through one lifecycle: a
:class:`Changefeed`/``Engine`` run, or
:func:`~tigate_spark.streaming.changefeed.run_available_now` for the
bespoke ``foreachBatch``/stateful queries. Either way a timed-out query
is stopped and raises before its work dir is removed, and a multi-batch
entry states its floor as ``min_batches`` over the COMMITTED batch count.
Entries that need several micro-batches split their source with
:func:`split_df_in_order` (one file per part, pinned mtimes, so the file
source's batch order is the split order).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tigate_spark.catalog import register
from tigate_spark.config import ChangefeedConfig
from tigate_spark.sources.changes import ORACLE_CHANGES_CTE
from tigate_spark.streaming.changefeed import Changefeed, run_available_now

#: session-scoped parquet dir for entry results that outlive the entry's
#: temp workdir; removed at interpreter exit
_RESULTS_ROOT: str | None = None


def _materialize(df: DataFrame) -> DataFrame:
    """Persist an entry result to a session-scoped temp parquet and return
    a lazy reader. The old ``collect()+createDataFrame`` round-trip shipped
    the whole result through the driver — the *entry* would OOM at scale
    while the engine would not (r04 verdict). The write stays distributed;
    the returned frame is a plain scan the driver can consume lazily."""
    global _RESULTS_ROOT
    if _RESULTS_ROOT is None:
        _RESULTS_ROOT = tempfile.mkdtemp(prefix="tigate-stream-results-")
        atexit.register(shutil.rmtree, _RESULTS_ROOT, ignore_errors=True)
    out = os.path.join(_RESULTS_ROOT, uuid.uuid4().hex[:12])
    df.write.parquet(out)
    return df.sparkSession.read.parquet(out)

_STREAM_ORACLE = ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
"""


@register(
    "streaming_replica_e2e",
    _STREAM_ORACLE,
    doc="Structured Streaming changefeed (readStream → foreachBatch merge) "
        "materializing the replica; checkpointed, availableNow "
        "(SURVEY §3.2; mysql sink K1 + T5/T11 bookkeeping)",
)
def streaming_replica_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="e2e", sink_uri="replica://")
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        replica = read_replica(spark, cf.sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(replica)


_CHANGELOG_ORACLE = ORACLE_CHANGES_CTE + """
SELECT seq,
  'app_' || table_name AS topic,
  CAST(('0x' || substr(md5(CAST(pk AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS partition,
  printf('{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
    schema_name, table_name,
    CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
    commit_ts // 1000, commit_ts // 1000,
    '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
    CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
    commit_ts) AS message
FROM changes
"""


@register(
    "streaming_changelog_e2e",
    _CHANGELOG_ORACLE,
    doc="Structured Streaming changefeed → Kafka-shaped changelog sink "
        "(router topic/partition + canal-json encode), hash-matched "
        "message-for-message against the oracle (K2, SURVEY §3.2)",
)
def streaming_changelog_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="log-e2e", sink_uri="changelog://")
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        log = spark.read.parquet(cf.sink.out_dir).select(
            "seq", "topic", "partition", "message"
        )
        return _materialize(log)


@register(
    "streaming_first_seen_e2e",
    ORACLE_CHANGES_CTE + """
SELECT CAST(table_id AS VARCHAR) || ':' || CAST(pk AS VARCHAR) AS group_key,
       min(pk) AS first_id,
       min(seq) AS first_seq
FROM changes
GROUP BY table_id, pk
""",
    doc="Streaming exact dedup via applyInPandasWithState: first occurrence "
        "per key across micro-batches (GroupState = one boolean per key)",
)
def streaming_first_seen_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.stateful import first_seen

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        schema = spark.read.parquet(src).schema
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(os.path.dirname(src))
        )
        ch = normalize_events(raw).withColumn(
            "k", F.concat_ws(":", F.col("table_id"), F.col("pk"))
        )
        out_dir = os.path.join(work, "out")
        run_available_now(
            first_seen(ch, "k", "pk", "seq")
            .writeStream.format("parquet").option("path", out_dir),
            os.path.join(work, "ckpt"),
        )
        return _materialize(spark.read.parquet(out_dir))


@register(
    "streaming_window_counts_e2e",
    ORACLE_CHANGES_CTE + """
SELECT commit_ts - commit_ts % 3600000000 AS window_start_us,
       table_id, count(*) AS n_events
FROM changes
GROUP BY 1, 2
""",
    doc="Structured Streaming event-time tumbling window counts with a "
        "watermark (T5/T7 streaming-native), run through a real "
        "availableNow query in complete mode — the materialized final "
        "window table hash-matches the batch hourly aggregation; the "
        "watermark's late-row semantics are pinned separately in "
        "tests/test_streaming_changefeed.py (append-mode emission)",
)
def streaming_window_counts_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.stateful import windowed_counts

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        schema = spark.read.parquet(src).schema
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(os.path.dirname(src))
        )
        agg = windowed_counts(normalize_events(raw), "1 hour", "30 minutes")
        out = agg.select(
            F.unix_micros("window_start").alias("window_start_us"),
            "table_id",
            "n_events",
        )
        out_dir = os.path.join(work, "out")

        def write_windows(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        run_available_now(
            out.writeStream.outputMode("complete").foreachBatch(write_windows),
            os.path.join(work, "ckpt"),
        )
        return _materialize(spark.read.parquet(out_dir))


_STORAGE_ORACLE = ORACLE_CHANGES_CTE + """
SELECT schema_name, table_name,
       strftime(make_timestamp(commit_ts), '%Y-%m-%d') AS dt,
       concat_ws(',',
         coalesce(op, '\\N'),
         coalesce(schema_name, '\\N'),
         coalesce(table_name, '\\N'),
         coalesce(CAST(commit_ts AS VARCHAR), '\\N'),
         coalesce(CAST(pk AS VARCHAR), '\\N'),
         coalesce(event_type, '\\N'),
         coalesce(CAST(value_cents AS VARCHAR), '\\N')) AS line
FROM changes
"""


@register(
    "streaming_storage_e2e",
    _STORAGE_ORACLE,
    doc="Structured Streaming changefeed → cloud-storage sink (K7): dated "
        "partitioned text tree {schema}/{table}/{yyyy-MM-dd}/ of CSV lines "
        "(csv_storage_basic/run.sh:23-27, changefeed.toml date-separator) "
        "read back via partition discovery and hash-matched line-for-line",
)
def streaming_storage_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.sinks import read_storage

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="store-e2e", sink_uri="file://out")
        cfg.sink.protocol = "csv"
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        tree = read_storage(spark, cf.sink.out_dir).select(
            "schema_name", "table_name", "dt", F.col("value").alias("line")
        )
        return _materialize(tree)


_TXN_MATCH_ORACLE = ORACLE_CHANGES_CTE + """
, commits AS (
  SELECT start_ts, pk, commit_ts FROM changes WHERE seq % 50 <> 0
), prewrites AS (
  SELECT start_ts AS p_start_ts, pk AS p_pk, value_cents, event_type, seq
  FROM changes
)
SELECT c.start_ts, c.pk, c.commit_ts, p.value_cents, p.event_type, p.seq
FROM commits c JOIN prewrites p
  ON c.start_ts = p.p_start_ts AND c.pk = p.p_pk
"""


@register(
    "streaming_txn_match_e2e",
    _TXN_MATCH_ORACLE,
    doc="S2 as a real Structured Streaming stream-stream join: prewrite "
        "and commit file streams joined on (start_ts, key) with watermarks "
        "bounding prewrite state retention (txn_matcher.go:42-110); "
        "unmatched prewrites (the seq%50 'rollbacks') age out of the join "
        "state instead of matching",
)
def streaming_txn_match_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.txn import match_prewrite_commit_streams
    from tigate_spark.sources.changes import normalize_events

    events_path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(events_path).schema
    src_dir = os.path.dirname(events_path)

    def stream():
        return normalize_events(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", os.path.basename(events_path))
            .parquet(src_dir),
            with_images=False,
        )

    pre = stream().select(
        "start_ts", "pk", "value_cents", "event_type", "seq",
        F.timestamp_micros("start_ts").alias("p_time"),
    )
    com = stream().filter(F.col("seq") % 50 != 0).select(
        "start_ts", "pk", "commit_ts",
        F.timestamp_micros("commit_ts").alias("c_time"),
    )
    matched = match_prewrite_commit_streams(pre, com)
    with tempfile.TemporaryDirectory(prefix="tigate-txn-",
                                     ignore_cleanup_errors=True) as work:
        out_dir = os.path.join(work, "out")
        run_available_now(
            matched.writeStream.format("parquet").option("path", out_dir),
            os.path.join(work, "ckpt"),
        )
        res = spark.read.parquet(out_dir).select(
            "start_ts", "pk", "commit_ts", "value_cents", "event_type", "seq"
        )
        return _materialize(res)


@register(
    "streaming_sessions_e2e",
    ORACLE_CHANGES_CTE + """
, m AS (
  SELECT user_id, commit_ts,
         CASE WHEN lag(commit_ts) OVER w IS NULL
                   OR commit_ts - lag(commit_ts) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS new_s
  FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY commit_ts)
), g AS (
  SELECT user_id, commit_ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY commit_ts
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM m
)
SELECT user_id, min(commit_ts) AS first_ts, max(commit_ts) AS last_ts,
       count(*) AS n_events
FROM g GROUP BY user_id, sess
""",
    doc="Structured Streaming gap-based sessionization (F.session_window, "
        "30-min gap, event-time watermark) run through a real availableNow "
        "query in complete mode — the materialized session table "
        "hash-matches the batch gaps-and-islands oracle; the streaming-"
        "native stateful session operator (dynstream handler family, "
        "SURVEY §3.2) at its scale shape: state is per (user, open "
        "session), merged by the engine, no driver involvement",
)
def streaming_sessions_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        schema = spark.read.parquet(src).schema
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(os.path.dirname(src))
        )
        ch = normalize_events(raw).withColumn(
            "commit_time", F.timestamp_micros(F.col("commit_ts"))
        ).withWatermark("commit_time", "30 minutes")
        agg = (
            ch.groupBy(
                F.session_window("commit_time", "30 minutes").alias("w"),
                "user_id",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("commit_ts").alias("first_ts"),
                F.max("commit_ts").alias("last_ts"),
            )
            .select("user_id", "first_ts", "last_ts", "n_events")
        )
        out_dir = os.path.join(work, "out")

        def write_sessions(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        run_available_now(
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_sessions),
            os.path.join(work, "ckpt"),
        )
        return _materialize(spark.read.parquet(out_dir))


@register(
    "sink_checkpoint_messages",
    ORACLE_CHANGES_CTE + """
SELECT topic,
       printf('{"type":"resolved","ts":%d,"batch":0}', max(commit_ts)) AS message
FROM (SELECT 'app_' || table_name AS topic, commit_ts FROM changes)
GROUP BY topic
""",
    doc="K6 checkpoint-ts broadcast: the changelog sink appends one "
        "resolved-ts message per topic per micro-batch so consumers can "
        "advance their watermark without waiting for data "
        "(kafka_ddl_worker.go checkpoint loop; event_broker.go:579-606) — "
        "first oracle-checked entry for the broadcast table itself",
)
def sink_checkpoint_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="k6-e2e", sink_uri="changelog://")
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        ckpt = spark.read.parquet(cf.sink.checkpoint_dir).select(
            "topic", "message"
        )
        return _materialize(ckpt)


@register(
    "sink_batch_progress",
    ORACLE_CHANGES_CTE + """
SELECT table_id,
       max(commit_ts) AS resolved_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(0 AS BIGINT) AS batch_id
FROM changes
GROUP BY table_id
""",
    doc="K4/T11 per-batch progress bookkeeping: every sink records "
        "(table_id, resolved_ts, n_events, batch_id) per micro-batch "
        "(mysql_writer.go:280-330 ddl-ts tables; maintainer progress) — "
        "first oracle-checked entry for the bookkeeping table itself",
)
def sink_batch_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="k4-e2e", sink_uri="replica://")
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        progress = spark.read.parquet(cf.bookkeeping.progress_dir).select(
            "table_id", "resolved_ts", "n_events",
            F.col("batch_id").cast("bigint").alias("batch_id"),
        )
        return _materialize(progress)


@register(
    "streaming_blackhole_e2e",
    ORACLE_CHANGES_CTE + """
SELECT table_id,
       max(commit_ts) AS resolved_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(0 AS BIGINT) AS batch_id
FROM changes
GROUP BY table_id
""",
    doc="K3 blackhole sink end-to-end: a real availableNow changefeed "
        "through the noop writer (throughput path, "
        "downstreamadapter/sink blackhole) with K4 bookkeeping attached — "
        "proves the no-output sink still records per-table progress; "
        "first oracle-checked entry for K3",
)
def streaming_blackhole_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(changefeed_id="k3-e2e", sink_uri="noop://")
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        progress = spark.read.parquet(cf.bookkeeping.progress_dir).select(
            "table_id", "resolved_ts", "n_events",
            F.col("batch_id").cast("bigint").alias("batch_id"),
        )
        return _materialize(progress)


@register(
    "streaming_incr_agg_e2e",
    ORACLE_CHANGES_CTE + """
SELECT table_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(value_cents) AS BIGINT) AS sum_cents,
       max(commit_ts) AS last_commit_ts
FROM changes
GROUP BY 1, 2
""",
    doc="Streaming incremental-aggregate (IVM) maintenance end-to-end: "
        "the source is pre-split into 4 commit-ts-range files and "
        "consumed one file per micro-batch (maxFilesPerTrigger=1 — a "
        "genuinely multi-batch availableNow run); each batch appends its "
        "partial aggregate delta (count/sum/max per (table_id, "
        "event_type)) and the maintained view is the fold of the deltas — "
        "the partial-aggregate + compaction layout (batch twin: "
        "apply_incremental_agg; at 100 TB the delta append is O(groups "
        "touched per batch) and compaction is a background re-agg, the "
        "standard streaming-IVM shape)",
)
def streaming_incr_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        # deterministic 4-way commit-range split so the availableNow run
        # really is multi-batch (one file per trigger)
        flat, land = split_commit_order(spark, src, work, 4)
        n = sum(land(k) for k in range(4))
        raw = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        ch = normalize_events(raw)
        delta_dir = os.path.join(work, "deltas")

        def append_delta(batch_df: DataFrame, batch_id: int) -> None:
            delta = batch_df.groupBy("table_id", "event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value_cents").alias("sum_cents"),
                F.max("commit_ts").alias("last_commit_ts"),
            )
            delta.write.mode("append").parquet(delta_dir)

        run_available_now(ch.writeStream.foreachBatch(append_delta),
                          os.path.join(work, "ckpt"),
                          min_batches=2 if n > 4 else 0)
        # compaction: the maintained view = fold of the appended deltas
        view = (
            spark.read.parquet(delta_dir)
            .groupBy("table_id", "event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("sum_cents").cast("bigint").alias("sum_cents"),
                F.max("last_commit_ts").alias("last_commit_ts"),
            )
        )
        return _materialize(view)


@register(
    "streaming_ddl_barrier_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT seq, table_id, commit_ts,
         row_number() OVER (ORDER BY commit_ts, seq) AS rn,
         count(*) OVER () AS n
  FROM changes
), anchors AS (
  SELECT ks.k, o.commit_ts AS ts_k, o.seq AS seq_k,
         CASE ks.k WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE NULL END AS t_k
  FROM (SELECT unnest(range(1, 4)) AS k) ks
  JOIN ordered o ON o.rn = ks.k * (SELECT max(n) // 4 FROM ordered) + 1
), parts AS (
  SELECT o.seq, o.table_id, o.commit_ts,
         (SELECT count(*) FROM anchors a
          WHERE a.ts_k < o.commit_ts
             OR (a.ts_k = o.commit_ts AND a.seq_k <= o.seq)) AS part
  FROM ordered o
)
SELECT p.seq,
       CAST(CASE WHEN p.part = 0 THEN 0
            WHEN a.t_k IS NULL OR a.t_k = p.table_id THEN 1
            ELSE 0 END AS BIGINT) AS sub_batch
FROM parts p LEFT JOIN anchors a ON a.k = p.part
""",
    doc="Structured Streaming DDL barrier end-to-end (T8, the 7-step "
        "barrier.go protocol on the micro-batch primitive): the source is "
        "split into 4 commit-range files (one per trigger); three DDLs "
        "are anchored at the quartile rows (two table-scoped, one "
        "all-tables) and each micro-batch splits at the DDLs it contains "
        "via split_batch_at_ddl — affected rows at/after the barrier ts "
        "apply in the post-DDL sub-batch, unaffected tables flow early "
        "(ddl_only_block_related_table semantics), the registry appends "
        "between sub-batches. Output = every row's sub-batch assignment, "
        "hash-matched; batch-order independent by construction so the "
        "file source's trigger order cannot perturb the result",
)
def streaming_ddl_barrier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import (
        DDLEvent,
        SchemaRegistry,
        split_batch_at_ddl,
    )

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        flat, land = split_commit_order(spark, src, work, 4)
        per = max(sum(land(k) for k in range(4)) // 4, 1)
        # DDL anchors: the first row of parts 1..3 in (commit_ts, seq) order
        anchor_rows = (
            normalize_events(base)
            .withColumn(
                "rn",
                F.expr("row_number() over (order by commit_ts, seq)"),
            )
            .filter(F.col("rn").isin([per + 1, 2 * per + 1, 3 * per + 1]))
            .select("rn", "commit_ts", "seq")
            .collect()
        )
        anchors = []
        for r in sorted(anchor_rows, key=lambda x: x["rn"]):
            k = (r["rn"] - 1) // per
            anchors.append(
                (
                    int(r["seq"]),
                    DDLEvent(
                        commit_ts=int(r["commit_ts"]),
                        table_id=k if k in (1, 2) else None,
                        query=f"ALTER TABLE t{k} ADD COLUMN c{k} BIGINT"
                        if k in (1, 2)
                        else "ALTER DATABASE app CHARACTER SET utf8mb4",
                        schema_tag=f"v{k}",
                    ),
                )
            )
        registry = SchemaRegistry(os.path.join(work, "registry"))
        delta_dir = os.path.join(work, "deltas")
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        ch = normalize_events(raw)

        def run_barriers(batch_df: DataFrame, batch_id: int) -> None:
            seqs = {
                r["seq"]
                for r in batch_df.select("seq")
                .filter(F.col("seq").isin([a[0] for a in anchors]))
                .collect()
            }
            ddls = [d for s, d in anchors if s in seqs]

            def apply_dml(part_df: DataFrame, sub: int) -> None:
                part_df.select(
                    "seq", F.lit(sub).cast("bigint").alias("sub_batch")
                ).write.mode("append").parquet(delta_dir)

            def apply_ddl(ddl: DDLEvent) -> None:
                registry.append(spark, ddl, n_tables=4)

            split_batch_at_ddl(batch_df, ddls, apply_dml, apply_ddl)

        run_available_now(ch.writeStream.foreachBatch(run_barriers),
                          os.path.join(work, "ckpt"))
        # the registry must hold all three versions (barrier ran exactly once
        # per DDL — idempotence is the checkpoint's job, asserted in tests)
        n_versions = registry.versions(spark).select("schema_tag").distinct().count()
        if n_versions != 3:
            raise RuntimeError(f"expected 3 registry versions, got {n_versions}")
        return _materialize(spark.read.parquet(delta_dir))


@register(
    "streaming_time_travel_e2e",
    ORACLE_CHANGES_CTE + """
, ordered0 AS (
  SELECT *, row_number() OVER (ORDER BY commit_ts, seq) AS rn0,
         count(*) OVER () AS n
  FROM changes
), pfx AS (
  SELECT * FROM ordered0 WHERE rn0 <= 2 * (n // 4)
), ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM pfx
)
SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="Replica time travel end-to-end (Delta VERSION-AS-OF analogue on "
        "the manifest-versioned store): a 4-batch availableNow changefeed "
        "materializes the replica, then the state is read back AS OF "
        "version 2 — every table resolved at its largest version ≤ 2, so "
        "untouched tables read older version dirs — and hash-matches the "
        "last-writer-wins oracle over exactly the first half of the "
        "commit order. Source files carry forced increasing mtimes so "
        "the file source's batch order is pinned; retention semantics "
        "(compact = VACUUM) documented at read_state_as_of",
)
def streaming_time_travel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.sinks import read_state_as_of

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        flat, land = split_commit_order(
            spark, os.path.join(sf_dir, "events.parquet"), work, 4)
        for k in range(4):
            land(k)
        cfg = ChangefeedConfig(changefeed_id="tt-e2e", sink_uri="replica://")
        cf = Changefeed(spark, cfg, flat, work)
        cf.run_to_completion()
        asof = read_state_as_of(spark, cf.sink.state_dir, 2)
        out = asof.filter(F.col("op") != "D").select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(out)


def _lsh_stream_oracle() -> str:
    from tigate_spark.catalog_llm import _MINHASH_SIG_SQL, _SHINGLE_CTE
    from tigate_spark.functions import dedup as dd

    return _SHINGLE_CTE + f"""
, sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh WHERE len(shingles) >= 1
), bands AS (
  SELECT doc_id, g.band,
         printf('%d:%d', sig[2 * g.band + 1], sig[2 * g.band + 2]) AS v
  FROM sigs, (SELECT unnest(range({dd.MINHASH_BANDS})) AS band) g
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY band, v ORDER BY doc_id) AS rk
  FROM bands
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM ranked a JOIN ranked b
  ON a.band = b.band AND a.v = b.v AND a.rk < b.rk
     AND b.rk <= {dd.LSH_BUCKET_CAP}
GROUP BY 1, 2
"""


@register(
    "streaming_minhash_dedup_e2e",
    None,  # oracle attached right after definition (needs catalog_llm import)
    doc="Streaming fuzzy dedup end-to-end (12th streaming entry): the "
        "document corpus arrives as 4 doc_id-ordered micro-batches; an "
        "applyInPandasWithState operator keyed by LSH bucket keeps each "
        "bucket's first 100 member ids as GroupState and emits a "
        "candidate pair the moment a new member lands in a known bucket "
        "— cross-batch MinHash-LSH near-dup detection with state bounded "
        "at cap ids per bucket forever (the incremental form of the "
        "batch pipeline's oversized-bucket drop). The accumulated pair "
        "stream hash-matches the rank-capped batch oracle because "
        "arrival order is the doc_id order (pinned source mtimes)",
)
def streaming_minhash_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions import dedup as dd
    from tigate_spark.streaming.stateful import lsh_incremental_pairs

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        flat, land = split_df_in_order(spark, base, work, 4, "doc_id")
        n = sum(land(k) for k in range(4))
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        bands = dd.lsh_bands(raw)
        out_dir = os.path.join(work, "out")
        run_available_now(
            lsh_incremental_pairs(bands, cap=dd.LSH_BUCKET_CAP)
            .writeStream.format("parquet").option("path", out_dir),
            os.path.join(work, "ckpt"),
            min_batches=2 if n > 4 else 0,
        )
        pairs = (
            spark.read.parquet(out_dir)
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
        )
        return _materialize(pairs)


# attach the oracle (assembled from catalog_llm's shingle/signature CTEs)
from tigate_spark.catalog import CATALOG as _CAT  # noqa: E402

_CAT["streaming_minhash_dedup_e2e"].oracle = _lsh_stream_oracle()


@register(
    "streaming_filtered_replica_e2e",
    ORACLE_CHANGES_CTE + """
, filtered AS (
  SELECT * FROM changes
  WHERE table_name IN ('t0', 't1', 't2')
    AND NOT (table_name = 't1' AND op = 'D')
    AND NOT (op = 'I' AND value_cents > 30000)
), ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM filtered
)
SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="Config-driven filtering through the real streaming path: a "
        "changefeed whose FilterConfig drops table t3 (F1 rule list), "
        "ignores deletes on t1 (F2 per-matcher event filter), and "
        "ignores high-value inserts via a SQL expression (F3) — the "
        "event_filter integration scenario shape — runs end-to-end to "
        "the replica sink; the materialized state hash-matches the LWW "
        "oracle over exactly the surviving events (note t1 deletes "
        "filtered out mean old rows legitimately survive)",
)
def streaming_filtered_replica_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import EventFilterRule, FilterConfig
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(
            changefeed_id="filt-e2e",
            sink_uri="replica://",
            filter=FilterConfig(
                rules=["app.t0", "app.t1", "app.t2"],
                event_filters=[
                    EventFilterRule(matcher=["app.t1"],
                                    ignore_event=["delete"]),
                    EventFilterRule(
                        matcher=["app.*"],
                        ignore_insert_value_expr="value_cents > 30000",
                    ),
                ],
            ),
        )
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        replica = read_replica(spark, cf.sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(replica)


@register(
    "streaming_syncpoint_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT commit_ts,
         row_number() OVER (ORDER BY commit_ts, seq) AS rn,
         count(*) OVER () AS n
  FROM changes
), parts AS (
  SELECT commit_ts, least((rn - 1) // (n // 4), 3) AS part FROM ordered
), ranges AS (
  SELECT part, min(commit_ts) AS lo, max(commit_ts) AS hi
  FROM parts GROUP BY 1
)
SELECT CAST(part AS BIGINT) AS batch_id,
       CAST(t.primary_ts AS BIGINT) AS primary_ts,
       CAST(hi AS BIGINT) AS secondary_ts
FROM ranges, unnest(range((lo // 3600000000 + 1) * 3600000000,
                          (hi // 3600000000) * 3600000000 + 1,
                          3600000000)) AS t(primary_ts)
""",
    doc="Syncpoint through the real streaming path (K5/T7, 14th "
        "streaming entry): a changefeed with enable_sync_point runs over "
        "4 commit-range micro-batches (pinned source order); every "
        "aligned hour tick a batch crosses lands in the ts-map table as "
        "(primary_ts, secondary_ts = the downstream applied position "
        "when the tick was written, i.e. that batch's max commit ts) — "
        "the tidb_cdc.syncpoint_v1 contract (syncpoint.go:15-22, "
        "mysql_writer.go:528-542), hash-matched tick for tick",
)
def streaming_syncpoint_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        flat, land = split_commit_order(
            spark, os.path.join(sf_dir, "events.parquet"), work, 4)
        for k in range(4):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="sp-e2e", sink_uri="noop://",
            enable_sync_point=True, sync_point_interval_s=3600,
        )
        cf = Changefeed(spark, cfg, flat, work)
        cf.run_to_completion()
        sp = spark.read.parquet(cf.bookkeeping.syncpoint_dir).select(
            F.col("batch_id").cast("bigint").alias("batch_id"),
            F.col("primary_ts").cast("bigint").alias("primary_ts"),
            F.col("secondary_ts").cast("bigint").alias("secondary_ts"),
        )
        return _materialize(sp)


@register(
    "streaming_window_append_e2e",
    ORACLE_CHANGES_CTE + """
, mx AS (SELECT max(commit_ts) AS m FROM changes)
SELECT commit_ts - commit_ts % 3600000000 AS window_start_us,
       table_id, CAST(count(*) AS BIGINT) AS n_events
FROM changes, mx
GROUP BY 1, 2, mx.m
HAVING (commit_ts - commit_ts % 3600000000) + 3600000000
         <= mx.m - 1800000000
""",
    doc="Append-mode watermark finalization through a real multi-batch "
        "run (15th streaming entry): hourly event-time window counts "
        "with a 30-minute watermark emitted ONLY once the watermark "
        "passes the window end — the availableNow run's final watermark "
        "is max(event time) − delay, so exactly the windows whose end "
        "≤ that bound appear, and every emitted count is final "
        "(T5/T9 append semantics, externally hash-checked rather than "
        "only pinned in tests)",
)
def streaming_window_append_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.stateful import windowed_counts

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        flat, land = split_commit_order(spark, src, work, 4)
        for k in range(4):
            land(k)
        raw = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        agg = windowed_counts(normalize_events(raw), "1 hour", "30 minutes")
        out = agg.select(
            F.unix_micros("window_start").alias("window_start_us"),
            "table_id",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        out_dir = os.path.join(work, "out")
        run_available_now(
            out.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir),
            os.path.join(work, "ckpt"),
        )
        return _materialize(spark.read.parquet(out_dir))


def split_df_in_order(spark: SparkSession, base: DataFrame, work: str,
                      n_parts: int, order_sql: str):
    """Split a DataFrame into ``n_parts`` by ``order_sql`` and return
    ``(flat_dir, land)``: ``land(k)`` hard-links part k's files into
    ``flat_dir`` with a pinned increasing mtime (the file source orders
    batches by modification time) and returns the part's row count.
    Shared by every split-source entry and their unit tests so the
    batching scheme can't silently diverge between them."""
    import glob as _glob
    import time as _time

    import pyarrow.parquet as pq

    n = base.count()
    per = max(n // n_parts, 1)
    ranked = base.withColumn(
        "part",
        F.expr(
            f"least(cast((row_number() over (order by {order_sql}) - 1) "
            f"div {per} as int), {n_parts - 1})"
        ),
    )
    parts_dir = os.path.join(work, "parts")
    ranked.write.partitionBy("part").parquet(parts_dir)
    flat = os.path.join(work, "flat")
    os.makedirs(flat, exist_ok=True)
    now = _time.time()

    def land(k: int) -> int:
        total = 0
        files = sorted(
            _glob.glob(os.path.join(parts_dir, f"part={k}", "*.parquet"))
        )
        for j, f in enumerate(files):
            dst = os.path.join(flat, f"{k:02d}-{j}.parquet")
            os.link(f, dst)
            os.utime(dst, (now + k, now + k))
            total += pq.read_metadata(f).num_rows
        return total

    return flat, land


def split_commit_order(spark: SparkSession, src: str, work: str,
                       n_parts: int):
    """Events-file form of :func:`split_df_in_order` (commit order =
    (ts, event_id))."""
    return split_df_in_order(
        spark, spark.read.parquet(src), work, n_parts, "ts, event_id"
    )


#: Split order for the executable-sink entries: the LWW replay tie-break
#: (commit_ts, start_ts, D<U<I, seq) spelled over raw events columns, so
#: equal-commit-ts ties never straddle micro-batches out of order
_LWW_SPLIT_ORDER = (
    "ts, -(event_id % 97), "
    "case when event_id % 10 >= 9 then 1 "
    "when event_id % 10 >= 6 then 2 else 3 end, event_id"
)



@register(
    "engine_lifecycle_e2e",
    _STREAM_ORACLE,
    doc="Engine lifecycle end-to-end (SURVEY §3.1, the one surface "
        "previously exercised only by unit tests): create a changefeed "
        "through the v2-API twin (Engine.create), run it over the first "
        "half of the commit order, pause, land the second half as "
        "backlog while paused (pinned mtimes keep the file-source batch "
        "order), then resume it to completion from the committed "
        "checkpoint — the restart replays NOTHING (Spark checkpoint = the "
        "reference's etcd checkpointTs, T10 recovery) and commits exactly "
        "the backlog's one micro-batch (asserted). The final replica "
        "hash-matches the last-writer-wins oracle over ALL changes; "
        "remove() tears the feed down. Exactly-once-resume is "
        "additionally pinned by a unit test on the resumed run's input "
        "row counts",
)
def engine_lifecycle_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.engine import Engine
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        flat, land = split_commit_order(spark, src, work, 2)
        land(0)
        eng = Engine(spark, flat, work)
        cid = eng.create(
            ChangefeedConfig(changefeed_id="lifecycle-e2e", sink_uri="replica://")
        )
        eng.run_to_completion(cid)
        eng.pause(cid)
        land(1)  # backlog arrives while paused
        resumed = eng.run_to_completion(cid)
        if resumed != 1:
            raise RuntimeError(
                f"resume committed {resumed} micro-batches, expected the "
                "backlog's 1")
        replica = read_replica(spark, eng.state_dir(cid)).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        out = _materialize(replica)
        eng.remove(cid, drop_state=True)
        return out


@register(
    "streaming_sqlite_apply_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
SELECT table_id, pk, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="K1 executable sink: a sqlite:// changefeed drives a REAL writer "
        "loop through the production per-batch path (bookkeeping, redo "
        "hook and DDL barrier included) — the sink renders the safe-mode "
        "statement stream "
        "(encoder_mysql_sql_safe_mode, the SQLite-replay-proven SQL "
        "surface) and foreachPartition EXECUTES it on live SQLite files, "
        "one sequential connection per worker lane (table_id % lanes, "
        "hash-repartitioned so a lane never spans partitions — "
        "mysql_worker.go:90-135), explicit txns bounded by row count AND "
        "arg bytes (the maxAllowedPacket boundary, mysql_writer.go:"
        "727-755), busy-retry with backoff. Micro-batches split on the "
        "full LWW tie-break order so per-key statement order is globally "
        "correct; safe-mode idempotence makes batch replay converge "
        "(the exactly-once story). Final downstream state (union of "
        "lane DBs) hash-matches the LWW oracle — as close to a live "
        "JDBC round trip as a MySQL-less sandbox allows",
)
def streaming_sqlite_apply_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        return _materialize(_sqlite_feed_state(
            spark, sf_dir, work, "sqlite-e2e", "sqlite://"))


def _sqlite_feed_state(spark: SparkSession, sf_dir: str, work: str,
                       changefeed_id: str, sink_uri: str) -> DataFrame:
    """Run a ``sqlite://`` changefeed over the events split 3 ways in
    LWW order (one file per micro-batch) and return the downstream
    state; the run must commit at least 2 micro-batches."""
    base = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
    for k in range(3):
        land(k)
    cf = Changefeed(spark, ChangefeedConfig(
        changefeed_id=changefeed_id, sink_uri=sink_uri), flat, work)
    n = cf.run_to_completion()
    if n < 2:
        raise RuntimeError(f"expected a multi-batch run, got {n}")
    return cf.sink.read_state(spark)


#: Shared by the two DDL-barrier sink entries (SQLite apply + parquet
#: replica evolution): the DDL anchors at the first commit_ts strictly
#: above the num/den-percentile row, so every row at ddl_ts sorts
#: at/after the anchor in the split order and equal-ts rows can never
#: leak into a pre-DDL batch. Keep the Spark arithmetic and the oracle
#: CTE below in lockstep — they are one spec, rendered twice.
def _ddl_anchor(norm: DataFrame, num: int, den: int,
                max_tail: int | None = None) -> tuple[int, int]:
    """(ddl_ts, anchor_seq) for a DDL at the num/den percentile of the
    commit order; anchor_seq is the first row at/after ddl_ts in the
    LWW split order (commit_ts, start_ts, D<U<I, seq). ``max_tail``
    caps the post-anchor row count at a fixed number — with a fixed
    pk-space (pk = event_id %% 200) a fixed FRACTION of a big-SF stream
    rewrites every key and the pre-DDL lane vanishes; a fixed tail keeps
    both lanes populated at every SF."""
    n = norm.count()
    rank = num * n // den
    if max_tail is not None:
        rank = max(rank, n - max_tail)
    pct_ts = (
        norm.withColumn(
            "rnk", F.expr("row_number() over (order by commit_ts, seq)")
        )
        .filter(F.col("rnk") == rank)
        .select("commit_ts")
        .collect()[0][0]
    )
    ddl_ts = norm.filter(F.col("commit_ts") > pct_ts).agg(
        F.min("commit_ts")
    ).collect()[0][0]
    if ddl_ts is None:
        raise RuntimeError("degenerate ts distribution: no DDL anchor")
    anchor_seq = (
        norm.filter(F.col("commit_ts") >= ddl_ts)
        .withColumn(
            "opr",
            F.expr("case op when 'D' then 1 when 'U' then 2 else 3 end"),
        )
        .orderBy("commit_ts", "start_ts", "opr", "seq")
        .select("seq")
        .limit(1)
        .collect()[0][0]
    )
    return int(ddl_ts), anchor_seq


def _ddl_anchor_oracle(num: int, den: int,
                       max_tail: int | None = None) -> str:
    """DuckDB rendering of :func:`_ddl_anchor`'s ddl_ts (CTEs pos +
    anchor; appended after a `changes`-producing CTE chain)."""
    rank = f"({num} * n) // {den}"
    if max_tail is not None:
        rank = f"greatest({rank}, n - {max_tail})"
    return f"""
, pos AS (
  SELECT commit_ts, row_number() OVER (ORDER BY commit_ts, seq) AS rnk,
         count(*) OVER () AS n
  FROM changes
), anchor AS (
  SELECT min(commit_ts) AS ddl_ts FROM changes
  WHERE commit_ts > (SELECT commit_ts FROM pos WHERE rnk = {rank})
)"""


@register(
    "streaming_sqlite_multirow_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
SELECT table_id, pk, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="K1 executable sink, batch-dml MULTI-ROW form (the MySQL "
        "driver's rewriteBatchedStatements shape batch-dml actually "
        "wins by, mysql/config.go:70,104): a changefeed on "
        "sqlite://?max-txn-row=16&batch-dml-multirow=true, so its "
        "rendered safe-mode stream passes through "
        "coalesce_multirow_statements — adjacent same-table REPLACEs "
        "become ONE multi-row VALUES statement bounded by max-txn-row "
        "(16) and packet bytes — "
        "and the lane writer executes each coalesced statement in its "
        "own downstream txn on live SQLite. Same LWW oracle as the "
        "row-at-a-time e2e: the two execution forms MUST converge to "
        "identical state (tests/test_multirow_dml.py pins the caps and "
        "the fake-MySQL packet accounting). The entry pre-asserts the "
        "corpus genuinely coalesces (max n_rows > 1), so it cannot "
        "pass vacuously as disguised row-at-a-time",
)
def streaming_sqlite_multirow_e2e(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.sqlite_apply import (
        coalesce_multirow_statements, render_safe_mode_statements)

    # non-triviality: this corpus must actually form multi-row runs
    probe = coalesce_multirow_statements(
        render_safe_mode_statements(normalize_events(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")))),
        max_rows=16).agg(F.max("n_rows").alias("m")).first()["m"]
    if not probe or probe < 2:
        raise RuntimeError("corpus never coalesces — vacuous entry")
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        return _materialize(_sqlite_feed_state(
            spark, sf_dir, work, "sqlite-multirow-e2e",
            "sqlite://?max-txn-row=16&batch-dml-multirow=true"))


@register(
    "streaming_sqlite_ddl_apply_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)""" + _ddl_anchor_oracle(1, 2) + """
SELECT table_id, pk, event_type, value_cents,
       CAST(CASE WHEN table_id = 1 THEN
         CASE WHEN commit_ts >= (SELECT ddl_ts FROM anchor)
              THEN abs(coalesce(value_cents, 0)) % 1000 ELSE 0 END
       END AS BIGINT) AS extra_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="DDL EXECUTED through the executable sink (T8 barrier x K1 "
        "writer loop — the reference's execDDL path, mysql_writer.go:"
        "600-668): the changefeed splits each micro-batch at the DDL "
        "barrier (split_batch_at_ddl), the pre-DDL sub-batch applies on "
        "live SQLite lanes, then the barrier's ALTER TABLE app.t1 ADD "
        "COLUMN runs on the owning lane DB in its OWN transaction with "
        "the USE-db schema rename, bounded retry, and the ignorable-"
        "error class (pkg/apperror/util.go:36-55) — the entry REPLAYS "
        "the DDL deliberately and asserts the duplicate-column error is "
        "ignored as an already-applied replay — then post-DDL DML "
        "renders the evolved 4-column statement form (the mounted "
        "post-DDL after-image, synthesized deterministically as "
        "abs(value_cents) %% 1000 since the testdata stream predates "
        "the DDL). Final downstream state: pre-DDL survivors carry the "
        "ALTER backfill default 0, post-DDL writers the mounted value, "
        "other tables NULL (column absent) — hash-matched against the "
        "LWW oracle with the same anchor arithmetic. Sub-batches fence "
        "per (batch, sub) so barrier replay converges",
)
def streaming_sqlite_ddl_apply_e2e(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import DDLEvent, split_batch_at_ddl
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        norm = normalize_events(base)
        ddl_ts, anchor_seq = _ddl_anchor(norm, 1, 2)
        ddl = DDLEvent(
            commit_ts=int(ddl_ts), table_id=1,
            query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` "
                  "INTEGER DEFAULT 0",
            schema_tag="v1",
        )
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        sink = SqliteApplySink(os.path.join(work, "db"))
        evolved: set[int] = set()
        ddl_log: list[tuple[str, str]] = []

        def run(batch_df: DataFrame, batch_id: int) -> None:
            has_anchor = (
                batch_df.filter(F.col("seq") == anchor_seq).count() > 0
            )

            def apply_dml(part_df: DataFrame, sub: int) -> None:
                sink.process_batch(
                    part_df, batch_id, fence=f"b{batch_id}.s{sub}",
                    extra_tables=frozenset(evolved),
                )

            def apply_ddl(d: DDLEvent) -> None:
                first = sink.exec_ddl(d.query, "app", "t1", 1)
                replay = sink.exec_ddl(d.query, "app", "t1", 1)
                ddl_log.append((first, replay))
                evolved.add(1)

            split_batch_at_ddl(
                batch_df, [ddl] if has_anchor else [], apply_dml, apply_ddl
            )

        run_available_now(normalize_events(raw).writeStream.foreachBatch(run),
                          os.path.join(work, "ckpt"), min_batches=2)
        if ddl_log != [("applied", "ignored")]:
            raise RuntimeError(f"DDL exec/replay outcome wrong: {ddl_log}")
        state = sink.read_state(spark, extra_cols=("extra_cents",))
        n_evolved = state.filter(
            "table_id = 1 and extra_cents is not null and extra_cents > 0"
        ).count()
        if n_evolved == 0:
            raise RuntimeError("no post-DDL mounted values downstream")
        return _materialize(state)


@register(
    "streaming_partition_table_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)""" + _ddl_anchor_oracle(9, 10, 400) + """
SELECT table_id, pk, event_type, value_cents
FROM ordered
WHERE rn = 1 AND op <> 'D'
  AND NOT (table_id = 1 AND pk % 3 = 1
           AND commit_ts < (SELECT ddl_ts FROM anchor))
""",
    doc="Partition-table fan-in e2e (scenario partition_table/run.sh; "
        "DMLEvent.PhysicalTableID, dml_event.go:20-61): logical app.t1 "
        "is THREE physical partitions (hash pk%3, physical ids "
        "1000-1002) whose change streams the registry "
        "(operators/partitions.py — broadcast interval join, zero "
        "event-side shuffle) merges into ONE downstream table, while "
        "non-partitioned tables pass through. Mid-stream an ALTER "
        "TABLE t1 TRUNCATE PARTITION p1 barrier executes its DATA "
        "effect on the owning SQLite lane (delete the partition's "
        "rows; MySQL runs the verb natively) between fenced "
        "sub-batches, replay asserted 'ignored' via the ddl_ts fence. "
        "Final downstream state hash-matches the LWW oracle minus "
        "t1-p1 keys whose last write predates the barrier",
)
def streaming_partition_table_e2e(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from tigate_spark.operators.partitions import (
        partition_registry,
        resolve_logical,
    )
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import DDLEvent, split_batch_at_ddl
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    scheme = {"kind": "hash", "column": "pk", "parts": 3}
    reg_rows = [
        (1000, 0, 1, "app", "t1"), (1001, 0, 1, "app", "t1"),
        (1002, 0, 1, "app", "t1"),
        (100, 0, 0, "app", "t0"), (102, 0, 2, "app", "t2"),
        (103, 0, 3, "app", "t3"),
    ]
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        # the upstream's physical provenance: t1 rows carry their hash
        # partition's physical id, other tables their own id
        phys = F.when(
            F.col("user_id") % 4 == 1,
            F.lit(1000) + (F.col("event_id") % 200) % 3,
        ).otherwise(F.lit(100) + F.col("user_id") % 4).cast("long")
        reg = partition_registry(spark, reg_rows)
        norm = resolve_logical(
            normalize_events(base.withColumn("_physical_table_id", phys)),
            reg)
        if (norm.filter("table_id = 1")
                .select("physical_table_id").distinct().count()) != 3:
            raise RuntimeError("expected 3 physical partitions for t1")
        ddl_ts, anchor_seq = _ddl_anchor(norm, 9, 10, max_tail=400)
        # non-trivial scenario guard: some t1-p1 key must have ONLY
        # pre-barrier writes, so the truncate is downstream-visible
        if (norm.filter("table_id = 1 and pk % 3 = 1").groupBy("pk")
                .agg(F.max("commit_ts").alias("mx"))
                .filter(F.col("mx") < ddl_ts).count()) == 0:
            raise RuntimeError("truncate partition would be invisible")
        ddl = DDLEvent(
            commit_ts=int(ddl_ts), table_id=1,
            query="ALTER TABLE `app`.`t1` TRUNCATE PARTITION p1",
            schema_tag="v1")
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        sink = SqliteApplySink(os.path.join(work, "db"))
        ddl_log: list[tuple[str, str]] = []

        def run(batch_df: DataFrame, batch_id: int) -> None:
            has_anchor = (
                batch_df.filter(F.col("seq") == anchor_seq).count() > 0
            )

            def apply_dml(part_df: DataFrame, sub: int) -> None:
                sink.process_batch(
                    part_df, batch_id, fence=f"b{batch_id}.s{sub}")

            def apply_ddl(d: DDLEvent) -> None:
                first = sink.exec_ddl(
                    d.query, "app", "t1", 1,
                    partition_scheme=scheme, ddl_ts=d.commit_ts)
                replay = sink.exec_ddl(
                    d.query, "app", "t1", 1,
                    partition_scheme=scheme, ddl_ts=d.commit_ts)
                ddl_log.append((first, replay))

            split_batch_at_ddl(
                batch_df, [ddl] if has_anchor else [], apply_dml, apply_ddl
            )

        routed = resolve_logical(
            normalize_events(
                raw.withColumn("_physical_table_id", phys)), reg)
        run_available_now(routed.writeStream.foreachBatch(run),
                          os.path.join(work, "ckpt"), min_batches=2)
        if ddl_log != [("applied", "ignored")]:
            raise RuntimeError(f"DDL exec/replay outcome wrong: {ddl_log}")
        state = sink.read_state(spark)
        # fan-in sanity: no physical id leaked downstream as a table id
        if state.filter("table_id >= 100").count() > 0:
            raise RuntimeError("physical table ids leaked downstream")
        return _materialize(state)


@register(
    "redo_disaster_recovery_e2e",
    _STREAM_ORACLE,
    doc="Consistent replication / disaster recovery end to end "
        "(pkg/config/consistent.go:28-67; behavior pinned by the "
        "reference's consistent_replicate_* integration tests): a "
        "changefeed with consistent.level='eventual' write-ahead-logs "
        "every micro-batch to redo storage BEFORE the replica sink "
        "applies it (per-batch overwrite-mode log dirs, so a replayed "
        "batch rewrites its own logs idempotently; meta tracks "
        "checkpoint_ts <= resolved_ts via atomic tmp+rename swaps). The "
        "entry then DESTROYS the replica — the downstream is lost — and "
        "redo_apply (the cdc-redo-apply binary's job) reconstructs the "
        "state from the logs alone: every logged change with commit_ts "
        "<= meta.resolved_ts through the engine's own LWW materialize. "
        "The recovered state hash-matches the direct oracle. Scale "
        "posture: the WAL is one extra parquet write per micro-batch "
        "(O(batch), no state), recovery is one scan + one shuffle over "
        "a log volume bounded by the retention/outage window; the "
        "crash-window semantics (checkpoint < resolved, recovery lands "
        "at resolved) are pinned by tests/test_redo.py",
)
def redo_disaster_recovery_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import ConsistentConfig
    from tigate_spark.streaming.redo import redo_apply

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        redo_dir = os.path.join(work, "redo")
        cfg = ChangefeedConfig(
            changefeed_id="redo-e2e", sink_uri="replica://",
            consistent=ConsistentConfig(level="eventual", storage=redo_dir),
        )
        cf = Changefeed(spark, cfg, flat, work)
        cf.run_to_completion()
        meta = cf.redo.meta()
        if not (0 < meta["checkpoint_ts"] == meta["resolved_ts"]):
            raise RuntimeError(f"redo meta did not converge: {meta}")
        shutil.rmtree(cf.sink.state_dir)  # the downstream is LOST
        got = redo_apply(spark, redo_dir, ["event_type", "value_cents"])
        return _materialize(got.select(
            "table_id", "pk", "last_commit_ts", "event_type", "value_cents"))


@register(
    "consumer_changelog_apply_e2e",
    _STREAM_ORACLE,
    doc="The kafka-consumer binary's pipeline end to end (the reference "
        "ships cdc_kafka_consumer, driven by every kafka integration "
        "test: consume encoded messages from the topic, DECODE them, "
        "apply to the downstream with safe-mode semantics). Producer "
        "half: a real changefeed encodes canal-json + routes into the "
        "changelog (Kafka-shaped) sink. Consumer half: a second "
        "Structured Streaming query reads the topic back, reconstructs "
        "the canonical change columns FROM THE MESSAGE BYTES alone "
        "(decode_canal_for_apply — table_id re-derived from the table "
        "name, op from the canal type, commit ts from _tidb.commitTs; "
        "start_ts is not on the wire, so the entry first asserts the "
        "corpus is commit-ts tie-free, the same precondition a real "
        "canal consumer's LWW correctness rests on), and merges into a "
        "replica through the SAME ReplicaSink the direct path uses. "
        "Final consumer-side replica hash-matches the direct LWW oracle "
        "— encode, route, decode, and apply compose to the identity",
)
def consumer_changelog_apply_e2e(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_canal_for_apply
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "canal-json carries no start_ts: consumer LWW needs a "
                "commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(changefeed_id="producer",
                               sink_uri="changelog://")
        cfp = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cfp.run_to_completion()
        topic = cfp.sink.out_dir
        # consumer: only the message bytes + the per-partition offset
        # (seq) cross over — everything else is reconstructed by decode
        raw = (
            spark.readStream.schema(spark.read.parquet(topic).schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(topic)
            .select("message", "seq")
        )
        sink = ReplicaSink(os.path.join(work, "replica"),
                           ["event_type", "value_cents"])
        run_available_now(
            decode_canal_for_apply(raw)
            .writeStream.foreachBatch(sink.process_batch),
            os.path.join(work, "ckpt"))
        rep = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "engine_crash_resume_e2e",
    _STREAM_ORACLE,
    doc="Crash-recovery end to end under the external oracle: a "
        "redo-enabled replica feed is HARD-KILLED inside micro-batch 1 "
        "at the worst window — after the sink committed, before the "
        "checkpoint commit (the reference's failover drills, "
        "consistent_replicate_* / availability tests). The entry then "
        "resumes with a fresh Changefeed over the same work dir: Spark "
        "replays the uncommitted batch in full, idempotence (overwrite-"
        "mode WAL dirs + LWW merge) absorbs the double-apply, and the "
        "final replica hash-matches the direct-path LWW oracle with "
        "redo meta converged (checkpoint_ts == resolved_ts). The "
        "pytest chaos matrix (tests/test_chaos_recovery.py) covers "
        "both windows x both sinks; this entry puts one window under "
        "the driver's DuckDB value-hash gate",
)
def engine_crash_resume_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import ConsistentConfig
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 4)
        for k in range(4):
            land(k)

        def mk():
            cfg = ChangefeedConfig(
                changefeed_id="cf-crash-resume", sink_uri="replica://",
                consistent=ConsistentConfig(
                    level="eventual",
                    storage=os.path.join(work, "redo")),
            )
            return Changefeed(spark, cfg, flat, work)

        cf1 = mk()
        orig = cf1._foreach_batch
        fired = {"done": False}

        def crash_after_sink(batch_df, batch_id):
            orig(batch_df, batch_id)
            if batch_id == 1 and not fired["done"]:
                fired["done"] = True
                raise RuntimeError(
                    "chaos kill: after sink commit, before checkpoint "
                    "commit")

        cf1._foreach_batch = crash_after_sink
        try:
            cf1.run_to_completion()
        except Exception as e:  # noqa: BLE001 — the injected kill
            if "chaos kill" not in str(e):
                raise
        if not fired["done"]:
            raise RuntimeError("crash did not fire — vacuous entry")
        meta = cf1.redo.meta()
        if not meta["checkpoint_ts"] <= meta["resolved_ts"]:
            raise RuntimeError(f"redo invariant broken at crash: {meta}")

        cf2 = mk()
        cf2.run_to_completion()
        meta2 = cf2.redo.meta()
        if not (0 < meta2["checkpoint_ts"] == meta2["resolved_ts"]):
            raise RuntimeError(f"redo meta did not converge: {meta2}")
        rep = read_replica(spark, cf2.sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "consumer_openprotocol_apply_e2e",
    _STREAM_ORACLE,
    doc="The kafka-consumer pipeline for the OPEN protocol — the "
        "reference's consumer decodes every protocol its sink encodes, "
        "so the canal-only consume→decode→apply loop "
        "(consumer_changelog_apply_e2e) gets its open-protocol twin. "
        "Producer half: a changefeed with protocol=open-protocol on the "
        "sink URI encodes key/value wire messages into the changelog "
        "sink. Consumer half: a second streaming query reads ONLY "
        "(key, value, seq) back, infers the op from which u/p/d images "
        "the value carries (decode_open_for_apply), re-derives table_id "
        "from the key's table name, and merges through the same "
        "ReplicaSink. Open protocol carries no start_ts either, so the "
        "entry asserts the commit-ts tie-free precondition; the final "
        "replica hash-matches the direct-path LWW oracle",
)
def consumer_openprotocol_apply_e2e(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_open_for_apply
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "open-protocol carries no start_ts: consumer LWW needs "
                "a commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="producer-open",
            sink_uri="changelog://?protocol=open-protocol")
        cfp = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cfp.run_to_completion()
        topic = cfp.sink.out_dir
        raw = (
            spark.readStream.schema(spark.read.parquet(topic).schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(topic)
            .select("key", "value", "seq")
        )
        sink = ReplicaSink(os.path.join(work, "replica"),
                           ["event_type", "value_cents"])
        run_available_now(
            decode_open_for_apply(raw)
            .writeStream.foreachBatch(sink.process_batch),
            os.path.join(work, "ckpt"))
        rep = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "consumer_compressed_apply_e2e",
    _STREAM_ORACLE,
    doc="The COMPRESSED MQ pipeline end to end (E6 at streaming grade): "
        "a changefeed with compression=gzip on the sink URI gzips every "
        "open-protocol VALUE before it lands in the changelog "
        "(open/codec.go:85 via the compress.py seam; values ride as "
        "hex, the key stays plain), and the consumer half decompresses "
        "each value (Arrow-batched inflate), decodes, and merges "
        "through the same ReplicaSink — the final replica hash-matches "
        "the direct-path LWW oracle, proving the compressed wire is "
        "byte-lossless through a real multi-batch streaming run, not "
        "just the batch entries",
)
def consumer_compressed_apply_e2e(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import decompress_col
    from tigate_spark.functions.encoders import decode_open_for_apply
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "open-protocol carries no start_ts: consumer LWW needs "
                "a commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="producer-gz",
            sink_uri="changelog://?protocol=open-protocol&compression=gzip")
        cfp = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cfp.run_to_completion()
        topic = cfp.sink.out_dir
        raw = (
            spark.readStream.schema(spark.read.parquet(topic).schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(topic)
            .select(
                "key",
                F.decode(decompress_col(F.unhex(F.col("value")), "gzip"),
                         "UTF-8").alias("value"),
                "seq",
            )
        )
        sink = ReplicaSink(os.path.join(work, "replica"),
                           ["event_type", "value_cents"])
        run_available_now(
            decode_open_for_apply(raw)
            .writeStream.foreachBatch(sink.process_batch),
            os.path.join(work, "ckpt"))
        rep = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "consumer_simple_avro_apply_e2e",
    _STREAM_ORACLE,
    doc="The simple-protocol AVRO wire under the streaming engine (K8 "
        "pattern, sixth consumer family): a changefeed with protocol="
        "simple&encoding-format=avro (marshaller.go:50-56 dispatch) "
        "encodes every change as the com.pingcap.simple.avro binary "
        "Message riding as a hex changelog VALUE (value-only — simple "
        "messages carry no key), and the consumer half decodes each "
        "value with the INDEPENDENT schema-driven Python Avro reader "
        "(decode_simple_avro_for_apply) and merges through the same "
        "ReplicaSink — the final replica hash-matches the direct-path "
        "LWW oracle, proving encode∘route∘decode∘apply composes to "
        "identity through a real multi-batch streaming run, not just "
        "the batch entries",
)
def consumer_simple_avro_apply_e2e(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from tigate_spark.functions.simple_avro import (
        decode_simple_avro_for_apply,
    )
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "simple-avro carries no start_ts: consumer LWW needs "
                "a commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="producer-simple-avro",
            sink_uri="changelog://?protocol=simple&encoding-format=avro")
        cfp = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cfp.run_to_completion()
        topic = cfp.sink.out_dir
        raw = (
            spark.readStream.schema(spark.read.parquet(topic).schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(topic)
            .select("value", "seq")
        )
        sink = ReplicaSink(os.path.join(work, "replica"),
                           ["event_type", "value_cents"])
        run_available_now(
            decode_simple_avro_for_apply(raw)
            .writeStream.foreachBatch(sink.process_batch),
            os.path.join(work, "ckpt"))
        rep = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "consumer_kafka_wire_apply_e2e",
    _STREAM_ORACLE,
    doc="The MQ transport SEAM under the external oracle — the r11 "
        "Kafka producer interface (streaming/kafka.py: the DBAPI-seam "
        "pattern applied to sarama_factory.go/admin.go) driven end to "
        "end WITH a fault: the changefeed's changelog sink routes every "
        "open-protocol message through FakeWireProducer.produce_partition "
        "on the executors (admin topic-create + partition-count query "
        "driver-side), and ONE retriable produce error is injected AFTER "
        "the broker accepted a batch (the delivery-report-lost window) — "
        "the worker resends, the broker's idempotent-producer sequence "
        "dedup absorbs the duplicate, and the consumer half replays the "
        "broker's jsonl partition logs through decode_open_for_apply + "
        "LWW materialize. The final state hash-matches the direct-path "
        "oracle: resend-without-duplication proven by value hash, not "
        "just pytest",
)
def consumer_kafka_wire_apply_e2e(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_open_for_apply
    from tigate_spark.operators.apply import materialize
    from tigate_spark.streaming.kafka import FakeWireProducer

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "open-protocol carries no start_ts: consumer LWW needs "
                "a commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="producer-kafka-wire",
            sink_uri="kafka:///?protocol=open-protocol&partition-num=8")
        cf = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cf.sink.producer = FakeWireProducer(
            os.path.join(work, "broker"),
            inject=[("retriable", "app_t1-")])
        cf.run_to_completion()
        got = cf.sink.producer.read_all()
        seqs = [r["seq"] for r in got]
        if len(set(seqs)) != len(seqs):
            raise RuntimeError("broker log has duplicate sequences")
        wire = spark.createDataFrame(
            [(r["key"], r["value"], int(r["seq"])) for r in got],
            "key string, value string, seq bigint")
        state = materialize(
            decode_open_for_apply(wire),
            ["event_type", "value_cents"])
        return _materialize(state.select(
            "table_id", "pk", "last_commit_ts",
            "event_type", "value_cents"))


@register(
    "consumer_kafka_transport_compressed_e2e",
    _STREAM_ORACLE,
    doc="Producer TRANSPORT compression under the external oracle — the "
        "kafka URI's own compression param (options.go:106, "
        "sarama.go:79-94; spelled kafka-compression= here because plain "
        "compression= is the codec-level alias): the changefeed produces "
        "open-protocol messages through the fake broker with "
        "kafka-compression=snappy, so every on-disk broker record is the "
        "snappy raw-block wire (functions/compress.py) — and the "
        "consumer client decompresses transparently on read_log, exactly "
        "a real client+broker pair. The replayed log goes through "
        "decode_open_for_apply + LWW materialize and must hash-match the "
        "direct-path oracle: transport compression is invisible to the "
        "application protocol, proven by value hash. A retriable produce "
        "fault is injected too, so broker sequence dedup is exercised "
        "over COMPRESSED records",
)
def consumer_kafka_transport_compressed_e2e(spark: SparkSession,
                                            sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_open_for_apply
    from tigate_spark.operators.apply import materialize
    from tigate_spark.streaming.kafka import FakeWireProducer

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "open-protocol carries no start_ts: consumer LWW needs "
                "a commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        cfg = ChangefeedConfig(
            changefeed_id="producer-kafka-snappy",
            sink_uri="kafka:///?protocol=open-protocol&partition-num=8"
                     "&kafka-compression=snappy")
        cf = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cf.sink.producer = FakeWireProducer(
            os.path.join(work, "broker"),
            inject=[("retriable", "app_t1-")],
            compression=cfg.sink.kafka_compression)
        cf.run_to_completion()
        # the stored form really is the compressed wire (no plain value)
        import json as _json

        with open(next(
                os.path.join(work, "broker", fn)
                for fn in sorted(os.listdir(os.path.join(work, "broker")))
                if fn.endswith(".jsonl"))) as f:
            first = _json.loads(f.readline())
        if "vz" not in first or first.get("cc") != "snappy":
            raise RuntimeError("broker log is not transport-compressed")
        got = cf.sink.producer.read_all()
        seqs = [r["seq"] for r in got]
        if len(set(seqs)) != len(seqs):
            raise RuntimeError("broker log has duplicate sequences")
        wire = spark.createDataFrame(
            [(r["key"], r["value"], int(r["seq"])) for r in got],
            "key string, value string, seq bigint")
        state = materialize(
            decode_open_for_apply(wire),
            ["event_type", "value_cents"])
        return _materialize(state.select(
            "table_id", "pk", "last_commit_ts",
            "event_type", "value_cents"))


@register(
    "consumer_storage_apply_e2e",
    _STREAM_ORACLE,
    doc="The STORAGE consumer pipeline end to end — the reference's "
        "run_storage_consumer binary (driven by every csv_storage_* "
        "integration test: tail the dated file tree the storage sink "
        "writes, decode the csv lines, apply downstream; "
        "csv_storage_basic/run.sh:26). Producer half: a file://-scheme "
        "changefeed writes the {schema}/{table}/{date} csv tree + the "
        "root metadata checkpoint. Consumer half: a second streaming "
        "query tails the tree (recursive text source, part-* glob — the "
        "metadata file is excluded like the consumer's own listing "
        "does), decodes lines via decode_csv_for_apply, gates on the "
        "metadata checkpoint-ts (only rows the producer declared "
        "complete), and merges through the same ReplicaSink. The csv "
        "line carries no start_ts or offset, so the entry asserts the "
        "commit-ts tie-free precondition; final replica hash-matches "
        "the direct-path LWW oracle — the third consumer family "
        "(MQ canal, MQ open, storage csv) all compose to identity",
)
def consumer_storage_apply_e2e(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    import json

    from tigate_spark.functions.encoders import decode_csv_for_apply
    from tigate_spark.streaming.sinks import ReplicaSink, read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        ev = spark.read.parquet(src)
        if ev.count() != ev.select("ts").distinct().count():
            raise RuntimeError(
                "storage csv carries no start_ts: consumer LWW needs a "
                "commit-ts tie-free corpus")
        flat, land = split_commit_order(spark, src, os.path.join(work, "p"), 3)
        for k in range(3):
            land(k)
        from tigate_spark.config import SinkConfig

        cfg = ChangefeedConfig(
            changefeed_id="producer-storage", sink_uri="file://",
            sink=SinkConfig(protocol="csv"))
        cfp = Changefeed(spark, cfg, flat, os.path.join(work, "pw"))
        cfp.run_to_completion()
        tree = cfp.sink.out_dir
        with open(os.path.join(tree, "metadata")) as f:
            ckpt = int(json.load(f)["checkpoint-ts"])
        if ckpt <= 0:
            raise RuntimeError("producer metadata checkpoint missing")
        raw = (
            spark.readStream
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "part-*")
            .option("maxFilesPerTrigger", "8")
            .text(tree)
            .withColumnRenamed("value", "line")
        )
        sink = ReplicaSink(os.path.join(work, "replica"),
                           ["event_type", "value_cents"])
        run_available_now(
            decode_csv_for_apply(raw).filter(F.col("commit_ts") <= ckpt)
            .writeStream.foreachBatch(sink.process_batch),
            os.path.join(work, "ckpt"))
        rep = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "streaming_bdr_loop_prevention_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
  WHERE seq % 2 = 1
)
SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="BDR-mode loop prevention end to end (replica_config.go:148 "
        "bdr-mode; mysql helper.go:334-343 SetWriteSource): the source "
        "stream carries write-source attribution — even-seq rows tagged "
        "as another CDC's applies (source 7), odd-seq rows as "
        "application writes (source 0) — and the BDR changefeed "
        "replicates ONLY the application writes, so a bidirectional "
        "pair cannot ping-pong each other's applies. The filter is one "
        "declarative predicate ahead of the sink (pushes into the "
        "micro-batch parquet scan); the oracle is the LWW materialize "
        "over the odd-seq half. The write-source TAGGING side is pinned "
        "by tests/test_bdr_mode.py (every sqlite lane DB records the "
        "feed's source id; DDL role gating primary-only)",
)
def streaming_bdr_loop_prevention_e2e(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        src = os.path.join(work, "tagged")
        ev.withColumn(
            "_source_id",
            F.when(F.col("event_id") % 2 == 0, F.lit(7)).otherwise(F.lit(0)),
        ).coalesce(1).write.parquet(src)
        cfg = ChangefeedConfig(changefeed_id="bdr-e2e",
                               sink_uri="replica://", bdr_mode=True)
        cf = Changefeed(spark, cfg, src, work)
        cf.run_to_completion()
        rep = read_replica(spark, cf.sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(rep)


@register(
    "engine_ddl_barrier_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
SELECT table_id, pk, event_type, value_cents,
       CAST(CASE WHEN table_id = 1 THEN 7 END AS BIGINT) AS extra_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="First-class DDL barrier through the PUBLIC engine API (T8 as a "
        "Changefeed feature, not an entry harness): Engine.create(cfg, "
        "ddl_events=[DDLEvent(...)]) -> run_to_completion drives the "
        "whole pipeline — the feed splits the barrier micro-batch at the "
        "due ts (split_batch_at_ddl), the multi-version SchemaRegistry "
        "records the version (idempotent append), bookkeeping records "
        "ONCE per micro-batch across the sub-batches, and the sqlite:// "
        "executing sink runs the ALTER TABLE on the owning lane between "
        "fenced sub-batches (mysql_writer.go:600-668 execDDL in its own "
        "txn). Downstream: every surviving app.t1 row carries the ALTER "
        "backfill DEFAULT 7 (post-DDL safe-mode REPLACE re-inserts the "
        "3-column form, so replaced rows re-take the column default — "
        "MySQL REPLACE semantics), other tables NULL (column absent); "
        "the builder additionally asserts the registry recorded exactly "
        "the t1 version before returning the hash-checked LWW state",
)
def engine_ddl_barrier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.engine import Engine
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import DDLEvent

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        norm = normalize_events(base)
        ddl_ts, _ = _ddl_anchor(norm, 1, 2)
        ddl = DDLEvent(
            commit_ts=int(ddl_ts), table_id=1,
            query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` "
                  "INTEGER DEFAULT 7",
            schema_tag="v1", schema_name="app", table_name="t1",
        )
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        eng = Engine(spark, flat, work)
        cid = eng.create(
            ChangefeedConfig(changefeed_id="engine-ddl-barrier",
                             sink_uri="sqlite://"),
            ddl_events=[ddl],
        )
        eng.run_to_completion(cid)
        cf = eng.changefeed(cid)
        reg = cf.registry.versions(spark).collect()
        if len(reg) != 1 or reg[0]["table_id"] != 1:
            raise RuntimeError(f"registry version rows wrong: {reg}")
        state = cf.sink.read_state(spark, extra_cols=("extra_cents",))
        bad = state.filter(
            "table_id = 1 and (extra_cents is null or extra_cents <> 7)"
        ).count()
        if bad:
            raise RuntimeError(f"{bad} t1 rows missing the ALTER backfill")
        return _materialize(state)


@register(
    "streaming_sqlite_bookkeeping_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)""" + _ddl_anchor_oracle(1, 2) + """
, split AS (
  SELECT commit_ts, row_number() OVER (
    ORDER BY commit_ts, start_ts,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END, seq
  ) AS rn2, count(*) OVER () AS n
  FROM changes
), parts AS (
  SELECT commit_ts, least((rn2 - 1) // greatest(n // 3, 1), 2) AS part
  FROM split
), ranges AS (
  SELECT part, min(commit_ts) AS lo, max(commit_ts) AS hi
  FROM parts GROUP BY 1
), ticks AS (
  SELECT part, t.primary_ts AS pts, hi AS sts
  FROM ranges, unnest(range((lo // 3600000000 + 1) * 3600000000,
                            (hi // 3600000000) * 3600000000 + 1,
                            3600000000)) AS t(primary_ts)
), tick1 AS (
  SELECT pts, sts, row_number() OVER (PARTITION BY pts ORDER BY part) AS trn
  FROM ticks
)
SELECT 'state' AS kind, table_id, pk, event_type, value_cents,
       CAST(NULL AS BIGINT) AS ts_a, CAST(NULL AS BIGINT) AS ts_b
FROM ordered WHERE rn = 1 AND op <> 'D'
UNION ALL
SELECT 'ddl_ts', CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       (SELECT CAST(ddl_ts AS BIGINT) FROM anchor), CAST(NULL AS BIGINT)
UNION ALL
SELECT 'syncpoint', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(pts AS BIGINT), CAST(sts AS BIGINT)
FROM tick1 WHERE trn = 1
""",
    doc="K4/K5 on the EXECUTABLE sink: the reference's MySQL writer "
        "maintains tidb_cdc.ddl_ts_v1 (mysql_writer.go:280-340, "
        "ON DUPLICATE KEY UPDATE per table) and tidb_cdc.syncpoint_v1 "
        "(mysql_writer.go:154-200, insert ignore per aligned tick) as "
        "real downstream SQL tables — the surface the syncpoint / "
        "ddl_only_block_related_table integration tests read. One feed "
        "(Engine + sqlite:// + enable_sync_point + a CREATE INDEX DDL "
        "barrier) must leave all three downstream artifacts correct at "
        "once: the LWW replica state, the ddl_ts watermark row for the "
        "barrier's table, and exactly the tick rows each micro-batch "
        "crossed (first writer wins — insert-ignore keyed "
        "(changefeed, primary_ts))",
)
def streaming_sqlite_bookkeeping_e2e(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from tigate_spark.engine import Engine
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import DDLEvent

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        norm = normalize_events(base)
        ddl_ts, _ = _ddl_anchor(norm, 1, 2)
        ddl = DDLEvent(
            commit_ts=int(ddl_ts), table_id=1,
            query="CREATE INDEX `idx_bk_vc` ON `app`.`t1` (`value_cents`)",
            schema_tag="v1", schema_name="app", table_name="t1",
        )
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        eng = Engine(spark, flat, work)
        cfg = ChangefeedConfig(
            changefeed_id="bk-e2e", sink_uri="sqlite://",
            enable_sync_point=True, sync_point_interval_s=3600,
        )
        cid = eng.create(cfg, ddl_events=[ddl])
        eng.run_to_completion(cid)
        sink = eng.changefeed(cid).sink
        ddl_tbl = sink.read_cdc(spark, "ddl_ts_v1")
        rows = ddl_tbl.collect()
        if (len(rows) != 1 or rows[0]["ticdc_cluster_id"] != "default"
                or rows[0]["changefeed"] != "bk-e2e"):
            raise RuntimeError(f"ddl_ts_v1 contents wrong: {rows}")
        sp_tbl = sink.read_cdc(spark, "syncpoint_v1")
        if sp_tbl.count() == 0:
            raise RuntimeError("syncpoint_v1 is empty")
        nil_b = F.lit(None).cast("bigint")
        nil_s = F.lit(None).cast("string")
        state = sink.read_state(spark).select(
            F.lit("state").alias("kind"), "table_id", "pk", "event_type",
            "value_cents", nil_b.alias("ts_a"), nil_b.alias("ts_b"))
        ddl_rows = ddl_tbl.select(
            F.lit("ddl_ts").alias("kind"), F.col("table_id"),
            nil_b.alias("pk"), nil_s.alias("event_type"),
            nil_b.alias("value_cents"),
            F.col("ddl_ts").cast("bigint").alias("ts_a"),
            nil_b.alias("ts_b"))
        sp_rows = sp_tbl.select(
            F.lit("syncpoint").alias("kind"), nil_b.alias("table_id"),
            nil_b.alias("pk"), nil_s.alias("event_type"),
            nil_b.alias("value_cents"),
            F.col("primary_ts").cast("bigint").alias("ts_a"),
            F.col("secondary_ts").cast("bigint").alias("ts_b"))
        return _materialize(state.unionAll(ddl_rows).unionAll(sp_rows))


@register(
    "streaming_replica_schema_evolution_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)""" + _ddl_anchor_oracle(9, 10, 400) + """
SELECT table_id, pk, event_type, value_cents,
       CAST(CASE WHEN table_id = 1
                  AND commit_ts >= (SELECT ddl_ts FROM anchor)
                 THEN abs(coalesce(value_cents, 0)) % 1000
       END AS BIGINT) AS extra_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="Schema evolution through the PARQUET replica (K1's Spark-native "
        "twin of the executable-sink DDL entry): the DDL barrier splits "
        "micro-batches, the registry appends the new version, and "
        "post-DDL sub-batches carry the evolved extra_cents payload "
        "column — the ReplicaSink's merge unions evolved and pre-DDL "
        "state by NAME (allowMissingColumns) and the state read takes "
        "each version dir's schema from the manifest and unions them by "
        "name, so the "
        "new column appears downstream with NULL for rows whose last "
        "writer predates the DDL (parquet ADD COLUMN semantics: no "
        "backfill, unlike the SQLite DEFAULT) and the mounted value for "
        "post-DDL winners. LWW oracle mirrors the anchor arithmetic; "
        "contrast with streaming_sqlite_ddl_apply_e2e where the same "
        "barrier DRIVES ALTER TABLE on a live SQL engine",
)
def streaming_replica_schema_evolution_e2e(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import (
        DDLEvent,
        SchemaRegistry,
        split_batch_at_ddl,
    )
    from tigate_spark.streaming.changefeed import PAYLOAD_COLS
    from tigate_spark.streaming.sinks import ReplicaSink

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        norm = normalize_events(base)
        ddl_ts, anchor_seq = _ddl_anchor(norm, 9, 10, max_tail=400)
        ddl = DDLEvent(
            commit_ts=int(ddl_ts), table_id=1,
            query="ALTER TABLE `app`.`t1` ADD COLUMN `extra_cents` BIGINT",
            schema_tag="v1",
        )
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        sink = ReplicaSink(
            os.path.join(work, "state"),
            [*PAYLOAD_COLS, "extra_cents"],
        )
        registry = SchemaRegistry(os.path.join(work, "registry"))
        evolved: set[int] = set()

        def run(batch_df: DataFrame, batch_id: int) -> None:
            has_anchor = (
                batch_df.filter(F.col("seq") == anchor_seq).count() > 0
            )

            def apply_dml(part_df: DataFrame, sub: int) -> None:
                if evolved:
                    part_df = part_df.withColumn(
                        "extra_cents",
                        F.expr(
                            "case when table_id = 1 then "
                            "abs(coalesce(value_cents, 0)) % 1000 end"
                        ).cast("bigint"),
                    )
                sink.process_batch(part_df, batch_id)

            def apply_ddl(d: DDLEvent) -> None:
                registry.append(spark, d, n_tables=4)
                evolved.add(1)

            split_batch_at_ddl(
                batch_df, [ddl] if has_anchor else [], apply_dml, apply_ddl
            )

        run_available_now(normalize_events(raw).writeStream.foreachBatch(run),
                          os.path.join(work, "ckpt"), min_batches=2)
        if registry.versions(spark).count() == 0:
            raise RuntimeError("registry did not record the DDL version")
        from tigate_spark.streaming.sinks import read_replica

        state = read_replica(spark, sink.state_dir).select(
            "table_id", "pk", "event_type", "value_cents", "extra_cents"
        )
        n_evolved = state.filter(
            "table_id = 1 and extra_cents is not null"
        ).count()
        n_pre = state.filter(
            "table_id = 1 and extra_cents is null"
        ).count()
        if n_evolved == 0 or n_pre == 0:
            raise RuntimeError(
                f"evolution signal trivial: {n_evolved} evolved / "
                f"{n_pre} pre-DDL winners"
            )
        return _materialize(state)


_MULTIFEED_ORACLE = ORACLE_CHANGES_CTE + """
, a_ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes WHERE table_name IN ('t0', 't1')
)
SELECT 'a' AS feed,
       CAST(table_id AS VARCHAR) || ':' || CAST(pk AS VARCHAR) AS k,
       CAST(commit_ts AS VARCHAR) || '|' || event_type || '|' ||
       coalesce(CAST(value_cents AS VARCHAR), 'null') AS v
FROM a_ordered WHERE rn = 1 AND op <> 'D'
UNION ALL
SELECT 'b' AS feed, CAST(seq AS VARCHAR) AS k,
       topic || '|' || CAST(partition AS VARCHAR) || '|' || message AS v
FROM (""" + _CHANGELOG_ORACLE + """
) WHERE topic IN ('app_t2', 'app_t3')
"""


@register(
    "engine_multifeed_e2e",
    _MULTIFEED_ORACLE,
    doc="Multi-changefeed coordinator twin (the reference runs MANY "
        "feeds per cluster — coordinator/coordinator.go:68, >1M-table "
        "goal; here the Spark driver IS the coordinator): TWO concurrent "
        "changefeeds off ONE source directory — feed a: replica:// with "
        "an F1 table filter (app.t0/t1); feed b: changelog:// (canal-"
        "json encode + topic/partition routing) filtered to app.t2/t3 — "
        "run through overlapping lifecycle: both started concurrently "
        "(two availableNow queries sharing the session), both paused, "
        "backlog lands while paused, both resumed together. Each feed's "
        "checkpoint replays NOTHING on resume (asserted: each resumed "
        "drain commits exactly the backlog's one micro-batch; the "
        "append-only changelog would double rows on any "
        "replay, so the hash match IS the exactly-once proof for b). "
        "Result = both downstream states as (feed, key, value) rows "
        "vs the filtered LWW + filtered changelog oracles",
)
def engine_multifeed_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from tigate_spark.config import FilterConfig
    from tigate_spark.engine import Engine
    from tigate_spark.streaming.sinks import read_replica

    def drain(*cids) -> list[int]:
        # one thread per feed: the availableNow queries share the session
        # and overlap, each committing through the engine's run path
        with ThreadPoolExecutor(len(cids)) as pool:
            return list(pool.map(eng.run_to_completion, cids))

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        flat, land = split_commit_order(spark, src, work, 2)
        land(0)
        eng = Engine(spark, flat, work)
        a = eng.create(ChangefeedConfig(
            changefeed_id="multi-a", sink_uri="replica://",
            filter=FilterConfig(rules=["app.t0", "app.t1"]),
        ))
        b = eng.create(ChangefeedConfig(
            changefeed_id="multi-b", sink_uri="changelog://",
            filter=FilterConfig(rules=["app.t2", "app.t3"]),
        ))
        drain(a, b)  # concurrent first drain
        eng.pause(a)
        eng.pause(b)
        land(1)  # backlog arrives while both are paused
        resumed = drain(a, b)  # overlapping resumed drain
        if resumed != [1, 1]:
            raise RuntimeError(
                f"resume committed {resumed} micro-batches (a, b), "
                "expected the backlog's 1 each")
        replica = read_replica(spark, eng.state_dir(a)).select(
            F.lit("a").alias("feed"),
            F.concat_ws(":", F.col("table_id"), F.col("pk")).alias("k"),
            F.concat(
                F.col("commit_ts").cast("string"), F.lit("|"),
                F.col("event_type"), F.lit("|"),
                F.coalesce(F.col("value_cents").cast("string"),
                           F.lit("null")),
            ).alias("v"),
        )
        log = spark.read.parquet(eng.state_dir(b)).select(
            F.lit("b").alias("feed"),
            F.col("seq").cast("string").alias("k"),
            F.concat(
                F.col("topic"), F.lit("|"),
                F.col("partition").cast("string"), F.lit("|"),
                F.col("message"),
            ).alias("v"),
        )
        out = _materialize(replica.unionByName(log))
        eng.remove(a, drop_state=True)
        eng.remove(b, drop_state=True)
        return out


# the oracle template and the streaming twin share the engine's constants
from tigate_spark.operators.txn import (  # noqa: E402
    FLUSH_LANES as _FLUSH_LANES,
    FLUSH_MAX_ROWS as _FLUSH_C,
)


_FLUSH_ORACLE = ORACLE_CHANGES_CTE + f"""
SELECT lane, batch_seq, n_txns, n_rows, first_commit_ts, last_commit_ts,
       n_start_ts
FROM (
  WITH RECURSIVE txn AS (
    SELECT table_id % {_FLUSH_LANES} AS lane, table_id, start_ts, commit_ts,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM changes GROUP BY 1, 2, 3, 4
  ), ord AS (
    SELECT lane, table_id, start_ts, commit_ts, n_rows,
           CAST(row_number() OVER (
             PARTITION BY lane ORDER BY commit_ts, start_ts, table_id)
             AS BIGINT) AS rn,
           CAST(sum(n_rows) OVER (
             PARTITION BY lane ORDER BY commit_ts, start_ts, table_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS ps
    FROM txn
  ), mx AS (SELECT lane, max(rn) AS max_rn FROM ord GROUP BY 1
  ), bnd AS (
    SELECT s.lane, s.rn AS start_rn,
           CAST(COALESCE(min(e.rn), m.max_rn) AS BIGINT) AS end_rn
    FROM ord s JOIN mx m ON m.lane = s.lane
    LEFT JOIN ord e ON e.lane = s.lane AND e.rn >= s.rn
         AND e.rn <= s.rn + {_FLUSH_C}
         AND e.ps - (s.ps - s.n_rows) > {_FLUSH_C}
    GROUP BY s.lane, s.rn, m.max_rn
  ), rec AS (
    SELECT lane, CAST(1 AS BIGINT) AS batch_seq, start_rn, end_rn
    FROM bnd WHERE start_rn = 1
    UNION ALL
    SELECT b.lane, r.batch_seq + 1, b.start_rn, b.end_rn
    FROM rec r JOIN bnd b ON b.lane = r.lane AND b.start_rn = r.end_rn + 1
  )
  SELECT r.lane, r.batch_seq,
         CAST(r.end_rn - r.start_rn + 1 AS BIGINT) AS n_txns,
         CAST(e.ps - (s.ps - s.n_rows) AS BIGINT) AS n_rows,
         s.commit_ts AS first_commit_ts,
         e.commit_ts AS last_commit_ts,
         (SELECT CAST(count(DISTINCT o.start_ts) AS BIGINT) FROM ord o
          WHERE o.lane = r.lane AND o.rn BETWEEN r.start_rn AND r.end_rn)
           AS n_start_ts
  FROM rec r
  JOIN ord s ON s.lane = r.lane AND s.rn = r.start_rn
  JOIN ord e ON e.lane = r.lane AND e.rn = r.end_rn
)
"""


@register(
    "sink_txn_flush_batches",
    _FLUSH_ORACLE,
    doc="K1 flush batching: the MySQL DML worker's accumulate-until-over-"
        "threshold loop (mysql_worker.go:90-135 — rows += event.Len(); "
        "rows > MaxTxnRow -> Flush, crossing txn included) over the txn-"
        "grouped changefeed, 4 worker lanes keyed table_id % lanes, "
        "MaxTxnRow scaled 256 -> 64 for small-SF corpora. Emits the per-"
        "flush accounting prepareDMLs keeps (mysql_writer.go:670-726): "
        "txn/row counts, commit span, distinct startTs count. Engine "
        "side: applyInPandas greedy walk per lane — a lane IS the "
        "reference's sequential worker, so parallelism = lane count by "
        "semantics. Oracle: exact greedy via minimal-prefix boundaries "
        "(banded self-join — each txn has >= 1 row, so a boundary lies "
        "within MaxTxnRow txns) chained by a recursive CTE",
)
def sink_txn_flush_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.txn import flush_batches, txn_group
    from tigate_spark.sources.changes import changes_stream

    txns = txn_group(changes_stream(spark, sf_dir)).select(
        "table_id", "start_ts", "commit_ts", "n_rows"
    )
    return flush_batches(txns, max_rows=_FLUSH_C, n_lanes=_FLUSH_LANES)


@register(
    "streaming_flush_batches_e2e",
    _FLUSH_ORACLE,
    doc="Streaming flush batching end-to-end — the scale-honest form of "
        "sink_txn_flush_batches: txns arrive as 4 commit-ordered micro-"
        "batches (pinned-mtime part files) plus a sentinel file playing "
        "the reference's 10 ms delay-timer flush; an "
        "applyInPandasWithState operator keyed by worker lane carries "
        "(cum, ntxn, commit span, batch_seq, open startTs set) across "
        "micro-batches, so state is bounded by the OPEN batch "
        "(<= MaxTxnRow+1 txns) — the worker loop's O(1) footprint, while "
        "the batch entry materializes whole lanes. The accumulated "
        "batch stream hash-matches the exact greedy oracle (same "
        "recursive-CTE oracle as the batch entry) because micro-batch "
        "boundaries are commit ranges and greedy state is carried, "
        "proving batch/stream equivalence for the K1 flush planner",
)
def streaming_flush_batches_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import time as _time

    from tigate_spark.operators.txn import txn_group
    from tigate_spark.sources.changes import changes_stream
    from tigate_spark.streaming.stateful import flush_batch_accounting

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        # one materialization feeds the split's count/write AND the
        # sentinel aggregates below (4 actions otherwise re-run the
        # event scan + txn shuffle each)
        txns = txn_group(changes_stream(spark, sf_dir)).select(
            (F.col("table_id") % F.lit(_FLUSH_LANES)).cast("bigint")
            .alias("lane"),
            "table_id", "start_ts", "commit_ts", "n_rows",
        ).localCheckpoint()
        flat, land = split_df_in_order(
            spark, txns, work, 4, "commit_ts, start_ts, table_id"
        )
        n = sum(land(k) for k in range(4))
        # sentinel part: one zero-row txn per lane at max commit — the
        # delay-timer flush that closes each lane's trailing batch
        mx = txns.agg(F.max("commit_ts").alias("m")).collect()[0]["m"] or 0
        sentinels = txns.select("lane").distinct().select(
            "lane", F.lit(-1).cast("bigint").alias("table_id"),
            F.lit(-1).cast("bigint").alias("start_ts"),
            F.lit(int(mx) + 1).cast("bigint").alias("commit_ts"),
            F.lit(0).cast("bigint").alias("n_rows"),
        )
        sent_dir = os.path.join(work, "sent")
        sentinels.coalesce(1).write.parquet(sent_dir)
        now = _time.time()
        sf = sorted(_glob.glob(os.path.join(sent_dir, "*.parquet")))
        for j, f in enumerate(sf):
            dst = os.path.join(flat, f"99-{j}.parquet")
            os.link(f, dst)
            os.utime(dst, (now + 9, now + 9))
        schema = sentinels.schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        out_dir = os.path.join(work, "out")
        run_available_now(
            flush_batch_accounting(raw, max_rows=_FLUSH_C)
            .writeStream.format("parquet").option("path", out_dir),
            os.path.join(work, "ckpt"),
            min_batches=2 if n > 4 else 0,
        )
        return _materialize(spark.read.parquet(out_dir))


@register(
    "streaming_jsonl_replica_e2e",
    _STREAM_ORACLE,
    doc="Source-format-agnostic streaming changefeed: the SAME replica "
        "run as streaming_replica_e2e but ingesting a JSON-lines export "
        "of the events table (readStream.json with the explicit flat "
        "schema — no inference on file streams; ts travels as epoch-us "
        "integers, rebuilt via timestamp_micros under the pinned UTC "
        "session) — identical LWW oracle, proving the streaming engine "
        "does not care what file format the changelog arrives in "
        "(sources/formats.py + config.source_format)",
)
def streaming_jsonl_replica_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text_format_replica_e2e(spark, sf_dir, "jsonl")


def _text_format_replica_e2e(spark: SparkSession, sf_dir: str,
                             fmt: str) -> DataFrame:
    from tigate_spark.sources.formats import export_events
    from tigate_spark.streaming.sinks import read_replica

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = export_events(spark, sf_dir, fmt)
        cfg = ChangefeedConfig(
            changefeed_id=f"{fmt}-e2e", sink_uri="replica://",
            source_format=fmt,
        )
        cf = Changefeed(spark, cfg, src, work)
        cf.run_to_completion()
        replica = read_replica(spark, cf.sink.state_dir).select(
            "table_id", "pk", F.col("commit_ts").alias("last_commit_ts"),
            "event_type", "value_cents",
        )
        return _materialize(replica)


@register(
    "streaming_csv_replica_e2e",
    _STREAM_ORACLE,
    doc="The changefeed's CSV branch end-to-end under the round-8 "
        "SPLITTABLE contract: the export escapes newlines/CRs out of "
        "free-form columns (sources/formats.csv_escape_text) so the "
        "streaming reader runs multiLine=false — each micro-batch's scan "
        "chunks by maxPartitionBytes instead of one task per file (the "
        "100 TB posture) — with pinned nullValue/emptyValue so null vs "
        "'' survives; csv_unescape_text restores exact bytes before "
        "normalize_events. Same LWW replica oracle as the parquet and "
        "JSONL runs — three source formats, one changefeed, one oracle",
)
def streaming_csv_replica_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text_format_replica_e2e(spark, sf_dir, "csv")


@register(
    "streaming_sqlite_ddl_matrix_e2e",
    ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)""" + _ddl_anchor_oracle(2, 3) + """
SELECT table_id, pk, event_type, value_cents
FROM ordered
WHERE rn = 1 AND op <> 'D'
  AND (table_id <> 2 OR commit_ts >= (SELECT ddl_ts FROM anchor))
""",
    doc="The r12 WIDENED executable-DDL statement matrix end to end "
        "(persist_storage.go:812-939 action classes on the live writer, "
        "mysql_writer.go:600-668 execDDL): in-stream barriers run ADD "
        "INDEX (replayed once - ErrDupKeyName analog ignored) and "
        "TRUNCATE TABLE on app.t2 (pre-barrier rows wiped downstream, "
        "post-barrier DML re-applies - the oracle keeps only t2 rows at/"
        "after the anchor); after the stream, MODIFY COLUMN rebuilds "
        "app.t0 (SQLite 12-step-lite: shadow table, copy, index "
        "re-create - state provably unchanged) and RENAME TABLE moves "
        "app.t2 to t2_archive with the _tables mapping following so the "
        "downstream read still resolves table_id 2 (replay skips via "
        "the shouldExecDDLByTs-style state check). r13 widens the "
        "matrix further: the lane index namespace follows the rename "
        "(DROP INDEX on the new name resolves), RENAME COLUMN executes "
        "natively with the ErrBadField replay class, and FK add/drop + "
        "partition ops (add/exchange) classify as recognized no-ops "
        "with _ddl_noops bookkeeping (replay = 'ignored'); a mysql "
        "dialect gets all of them verbatim (unit-gated). Every action's "
        "exec/replay outcome is asserted; final state hash-matches the "
        "LWW + truncation oracle",
)
def streaming_sqlite_ddl_matrix_e2e(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    import sqlite3

    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.streaming.ddl import DDLEvent, split_batch_at_ddl
    from tigate_spark.streaming.sqlite_apply import SqliteApplySink

    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        src = os.path.join(sf_dir, "events.parquet")
        base = spark.read.parquet(src)
        norm = normalize_events(base)
        idx_ts, idx_seq = _ddl_anchor(norm, 1, 3)
        trunc_ts, trunc_seq = _ddl_anchor(norm, 2, 3)
        ddls = [
            (idx_seq, DDLEvent(
                commit_ts=int(idx_ts), table_id=2,
                query="CREATE INDEX `by_et` ON `app`.`t2` (`event_type`)",
                schema_tag="v1")),
            (trunc_seq, DDLEvent(
                commit_ts=int(trunc_ts), table_id=2,
                query="TRUNCATE TABLE `app`.`t2`", schema_tag="v2")),
        ]
        flat, land = split_df_in_order(spark, base, work, 3, _LWW_SPLIT_ORDER)
        for k in range(3):
            land(k)
        raw = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(flat)
        )
        sink = SqliteApplySink(os.path.join(work, "db"))
        ddl_log: list[tuple[str, ...]] = []

        def run(batch_df: DataFrame, batch_id: int) -> None:
            due = [d for s, d in ddls
                   if batch_df.filter(F.col("seq") == s).count() > 0]

            def apply_dml(part_df: DataFrame, sub: int) -> None:
                sink.process_batch(part_df, batch_id,
                                   fence=f"b{batch_id}.s{sub}")

            def apply_ddl(d: DDLEvent) -> None:
                first = sink.exec_ddl(d.query, "app", "t2", 2)
                if "INDEX" in d.query:
                    # deliberate replay: ErrDupKeyName-analog ignored
                    ddl_log.append((first, sink.exec_ddl(
                        d.query, "app", "t2", 2)))
                else:
                    ddl_log.append((first,))

            split_batch_at_ddl(batch_df, due, apply_dml, apply_ddl)

        run_available_now(normalize_events(raw).writeStream.foreachBatch(run),
                          os.path.join(work, "ckpt"))
        if ddl_log != [("applied", "ignored"), ("applied",)]:
            raise RuntimeError(f"barrier DDL outcomes wrong: {ddl_log}")
        lane2 = os.path.join(work, "db", "lane-2.db")
        con = sqlite3.connect(lane2)
        idx = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='index'")}
        con.close()
        if "app__t2__by_et" not in idx:
            raise RuntimeError("barrier ADD INDEX not present downstream")
        # post-stream actions: MODIFY COLUMN rebuild on t0 (state must
        # not change), RENAME TABLE on t2 (mapping must follow)
        before_t0 = sorted(
            r[:4] for r in sink.read_state(spark)
            .filter("table_id = 0").collect())
        if sink.exec_ddl(
                "ALTER TABLE `app`.`t0` MODIFY COLUMN `value_cents` "
                "BIGINT UNSIGNED", "app", "t0", 0) != "applied":
            raise RuntimeError("MODIFY COLUMN did not apply")
        if sink.exec_ddl(
                "ALTER TABLE `app`.`t0` MODIFY COLUMN `value_cents` "
                "BIGINT UNSIGNED", "app", "t0", 0) != "applied":
            raise RuntimeError("MODIFY COLUMN rebuild not idempotent")
        out = sink.exec_ddl("RENAME TABLE `app`.`t2` TO `app`.`t2_archive`",
                            "app", "t2", 2)
        replay = sink.exec_ddl(
            "RENAME TABLE `app`.`t2` TO `app`.`t2_archive`", "app", "t2", 2)
        if (out, replay) != ("applied", "ignored"):
            raise RuntimeError(f"RENAME exec/replay wrong: {out}, {replay}")
        con = sqlite3.connect(lane2)
        tabs = dict(con.execute("SELECT name, table_id FROM _tables"))
        idx2 = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='index'")}
        con.close()
        if tabs.get("app__t2_archive") != 2 or "app__t2" in tabs:
            raise RuntimeError(f"rename mapping did not follow: {tabs}")
        # r13: the index namespace follows RENAME TABLE, so DROP INDEX
        # against the NEW table name resolves (previously missed and
        # was silently 'ignored')
        if "app__t2_archive__by_et" not in idx2:
            raise RuntimeError(f"index namespace did not follow: {idx2}")
        if sink.exec_ddl("DROP INDEX `by_et` ON `app`.`t2_archive`",
                         "app", "t2_archive", 2) != "applied":
            raise RuntimeError("post-rename DROP INDEX did not resolve")
        # r13 widened classes. rename-column: native execute + the
        # ErrBadField(1054)-analog replay, then renamed back so state
        # is untouched
        rc = "ALTER TABLE `app`.`t0` RENAME COLUMN `event_type` TO `etype`"
        outs = (sink.exec_ddl(rc, "app", "t0", 0),
                sink.exec_ddl(rc, "app", "t0", 0),
                sink.exec_ddl("ALTER TABLE `app`.`t0` RENAME COLUMN "
                              "`etype` TO `event_type`", "app", "t0", 0))
        if outs != ("applied", "ignored", "applied"):
            raise RuntimeError(f"rename-column outcomes wrong: {outs}")
        # FK + partition ops: recognized no-ops with bookkeeping on the
        # sqlite dialect (verbatim passthrough on mysql — unit-gated);
        # each applies once and replays 'ignored'
        for noop in (
            "ALTER TABLE `app`.`t0` ADD CONSTRAINT `fk_u` FOREIGN KEY "
            "(`user_id`) REFERENCES `app`.`users` (`id`)",
            "ALTER TABLE `app`.`t0` DROP FOREIGN KEY `fk_u`",
            "ALTER TABLE `app`.`t0` ADD PARTITION "
            "(PARTITION p2 VALUES LESS THAN (3000))",
            "ALTER TABLE `app`.`t0` EXCHANGE PARTITION p2 "
            "WITH TABLE `app`.`t0x`",
        ):
            pair = (sink.exec_ddl(noop, "app", "t0", 0),
                    sink.exec_ddl(noop, "app", "t0", 0))
            if pair != ("applied", "ignored"):
                raise RuntimeError(f"no-op class outcomes wrong: {pair} "
                                   f"for {noop}")
        state = sink.read_state(spark)
        after_t0 = sorted(
            r[:4] for r in state.filter("table_id = 0").collect())
        if before_t0 != after_t0:
            raise RuntimeError("MODIFY COLUMN rebuild changed t0 state")
        return _materialize(state)


# ---------------------------------------------------------------------------
# K1 full-width replication: the 45-type fixture schema through the LIVE
# executable sink — normalize → wide mounted projection (T3 typed view) →
# safe-mode SQL rendering with the widened column lists → execution on
# per-lane SQLite. Today's other streaming e2es ride the narrow canonical
# payload; this is the full-width path (sql_builder_test.go:169's 45-column
# fixture families; FormatColVal helper.go:19-80).
# ---------------------------------------------------------------------------
#: (name, spark_expr, duckdb_expr, sqlite_decl, spark_read_type) — the
#: type-family lanes of the reference's 45-column sink fixture, derived
#: deterministically from the canonical change row (the proven
#: projection_type_render spelling pairs, re-keyed onto change columns)
_WIDE_LANES = [
    ("ship_date_str",
     "date_format(timestamp_micros(commit_ts), 'yyyy-MM-dd')",
     "strftime(make_timestamp(commit_ts), '%Y-%m-%d')",
     "TEXT", "string"),
    ("ship_datetime_str",
     "date_format(timestamp_micros(commit_ts), 'yyyy-MM-dd HH:mm:ss')",
     "strftime(make_timestamp(commit_ts), '%Y-%m-%d %H:%M:%S')",
     "TEXT", "string"),
    ("quantity_str",
     # NB: a bare 100.0 literal parses as DECIMAL(3,1) in Spark SQL and
     # %.2f rejects Decimal — force the double division explicitly; the
     # NULL guard matters because Spark's format_string renders a null
     # arg as the text 'null' (then %.2f truncates it to 'nu') while
     # DuckDB's printf returns NULL
     "case when value_cents is null then null else "
     "format_string('%.2f', cast(value_cents as double) / 100) end",
     "printf('%.2f', CAST(value_cents AS DOUBLE) / 100)",
     "TEXT", "string"),
    ("returnflag_enum",
     "cast(case event_type when 'click' then 1 when 'error' then 2 "
     "when 'purchase' then 3 when 'signup' then 4 else 5 end as bigint)",
     "CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
     "WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END AS BIGINT)",
     "INTEGER", "bigint"),
    ("line_bit", "pk & 1", "CAST(pk & 1 AS BIGINT)", "INTEGER", "bigint"),
    ("ubig_dec20_str",
     "cast(cast(pk as decimal(20,0)) + 9223372036854775807 as string)",
     "CAST(CAST(pk AS DECIMAL(20,0)) + 9223372036854775807 AS VARCHAR)",
     "TEXT", "string"),
    ("ship_year",
     "cast(year(timestamp_micros(commit_ts)) as bigint)",
     "CAST(strftime(make_timestamp(commit_ts), '%Y') AS BIGINT)",
     "INTEGER", "bigint"),
    ("dur_time_str",
     "format_string('%02d:%02d:%02d', (seq % 86400) div 3600, "
     "((seq % 86400) % 3600) div 60, (seq % 86400) % 60)",
     "printf('%02d:%02d:%02d', (seq % 86400) // 3600, "
     "((seq % 86400) % 3600) // 60, (seq % 86400) % 60)",
     "TEXT", "string"),
    ("set_mask", "user_id % 8", "CAST(user_id % 8 AS BIGINT)",
     "INTEGER", "bigint"),
    ("set_names",
     "concat_ws(',', case when user_id % 2 = 1 then 'AIR' end, "
     "case when user_id % 4 >= 2 then 'MAIL' end, "
     "case when user_id % 8 >= 4 then 'SHIP' end)",
     "concat_ws(',', CASE WHEN user_id % 2 = 1 THEN 'AIR' END, "
     "CASE WHEN user_id % 4 >= 2 THEN 'MAIL' END, "
     "CASE WHEN user_id % 8 >= 4 THEN 'SHIP' END)",
     "TEXT", "string"),
    ("varbin_hex",
     "lower(hex(encode(event_type, 'UTF-8')))",
     "lower(hex(encode(event_type)))",
     "TEXT", "string"),
    ("bin8_hex",
     "rpad(lower(hex(encode(event_type, 'UTF-8'))), 16, '0')",
     "rpad(lower(hex(encode(event_type))), 16, '0')",
     "TEXT", "string"),
    ("uint_render", "4294967295 - pk", "CAST(4294967295 - pk AS BIGINT)",
     "INTEGER", "bigint"),
    ("price_dec15_2_str",
     "cast(cast(cast(value_cents as double) / 100 as decimal(15,2)) "
     "as string)",
     "CAST(CAST(CAST(value_cents AS DOUBLE) / 100 AS DECIMAL(15,2)) "
     "AS VARCHAR)",
     "TEXT", "string"),
    ("float_cents_sanitized",
     "case when isnan(case when pk % 13 = 7 then cast('NaN' as float) "
     "else cast(value_cents as float) end) then null else "
     "cast(round(cast(case when pk % 13 = 7 then cast('NaN' as float) "
     "else cast(value_cents as float) end as double) / 100) as bigint) end",
     "CASE WHEN isnan(CASE WHEN pk % 13 = 7 THEN CAST('nan' AS REAL) "
     "ELSE CAST(value_cents AS REAL) END) THEN NULL ELSE "
     "CAST(round(CAST(CASE WHEN pk % 13 = 7 THEN CAST('nan' AS REAL) "
     "ELSE CAST(value_cents AS REAL) END AS DOUBLE) / 100) AS BIGINT) END",
     "INTEGER", "bigint"),
    ("vector_literal",
     "case when pk % 11 = 6 then null else concat('[', "
     "cast(pk % 10 as string), ',', cast(user_id % 10 as string), ',', "
     "cast(table_id as string), ']') end",
     "CASE WHEN pk % 11 = 6 THEN NULL ELSE '[' || "
     "CAST(pk % 10 AS VARCHAR) || ',' || CAST(user_id % 10 AS VARCHAR) "
     "|| ',' || CAST(table_id AS VARCHAR) || ']' END",
     "TEXT", "string"),
]

_WIDE_ORACLE = ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
SELECT table_id, pk, event_type, value_cents,
""" + ",\n".join(f"  {duck} AS {name}"
                 for name, _, duck, _, _ in _WIDE_LANES) + """
FROM ordered WHERE rn = 1 AND op <> 'D'
"""


@register(
    "streaming_wide_replica_e2e",
    _WIDE_ORACLE,
    doc="K1 full-width streaming replication (the 45-column sink fixture "
        "families, sql_builder_test.go:169 / FormatColVal helper.go:19-80) "
        "through the LIVE executable sink: normalize → wide mounted "
        "projection (16 type-family lanes as pure column expressions: "
        "date/datetime/fixed-dp strings, enum ordinal, bit, unsigned "
        "DECIMAL(20,0) digits, year, duration HH:MM:SS, SET mask+names, "
        "varbinary/BINARY(8) hex, unsigned int, DECIMAL(15,2) string, "
        "float32-NaN-sanitized lane, VECTOR literal with a NULL lane) → "
        "safe-mode SQL rendered with the WIDENED column lists "
        "(encode_mysql_sql extra_cols — 19-column REPLACE) → executed on "
        "per-lane SQLite with the widened CREATE TABLE — the reference's "
        "writer always renders the full TableInfo schema. Oracle = LWW "
        "winner per key with the same renderings in DuckDB spellings.",
)
def streaming_wide_replica_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="tigate-stream-",
                                     ignore_cleanup_errors=True) as work:
        cfg = ChangefeedConfig(
            changefeed_id="wide-e2e", sink_uri="sqlite://",
            wide_payload=tuple(
                (n, spark_e, decl)
                for n, spark_e, _, decl, _ in _WIDE_LANES),
        )
        cf = Changefeed(
            spark, cfg, os.path.join(sf_dir, "events.parquet"), work
        )
        cf.run_to_completion()
        state = cf.sink.read_state(
            spark,
            extra_cols=tuple((n, rt) for n, _, _, _, rt in _WIDE_LANES),
        )
        return _materialize(state)
