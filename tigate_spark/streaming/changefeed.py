"""Changefeed runtime: compile a :class:`ChangefeedConfig` into a
Structured Streaming query (SURVEY §3.1-3.2 collapsed onto Spark).

Reference lifecycle parity (``api/v2/changefeed.go:51-120`` →
coordinator → maintainer → dispatchers, SURVEY §3.1): config validation
happens here; "coordinator/maintainer/dispatcher scheduling" is the Spark
driver + task scheduler; per-dispatcher seq/handshake recovery (T10,
``event_collector.go:469-496``) is subsumed by the file-source offset log
+ ``checkpointLocation`` WAL — a restarted query resumes exactly after the
last committed batch. :func:`run_available_now` is the package's one
run-to-completion lifecycle (start, drain, commit, terminate — or stop
and raise on timeout); it reports the batches each run committed.

Pipeline per micro-batch (the hot loop, §3.2):
  raw events → :func:`normalize_events` (S3) → table/event/expr/start-ts
  filters (F1-F4) → column selector (P1) → start_ts/target_ts range (T2)
  → ``sink.prepare`` (routing/encoding) → the per-table summary →
  ``sink.process_batch`` (K1/K2/K3/K7); then the changefeed, not the
  sink, appends the progress + syncpoint bookkeeping (T5/T7/T11) — the
  reference's dispatcher tracks table progress
  (``table_progress.go:24-44``) and its sinks only write.
  :meth:`Changefeed._foreach_batch` owns the order.

The changefeed knows no sink type. :data:`SINKS` maps each URI scheme to
a :class:`~tigate_spark.streaming.sinks.Sink` class, which reads its own
URI params and builds itself (``downstreamadapter/sink/sink.go:41-56``);
every sink is then called the same way, DDL barriers and syncpoint ticks
included, and a sink with nothing to do for them does nothing.

Everything before the sink write is one declarative DataFrame plan, so
Catalyst pushes the filters into the parquet scan of every micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from tigate_spark.config import ChangefeedConfig
from tigate_spark.operators import filters as f_ops
from tigate_spark.operators.projections import column_selectors
from tigate_spark.session import ensure_confs
from tigate_spark.sources.changes import normalize_events
from tigate_spark.streaming.ddl import SchemaRegistry, split_batch_at_ddl
from tigate_spark.streaming.sinks import (  # noqa: F401 (PAYLOAD_COLS)
    PAYLOAD_COLS,
    Bookkeeping,
    ChangelogSink,
    NoopSink,
    ReplicaSink,
    Sink,
    StorageSink,
    commit_range,
    uri_flag,
)
from tigate_spark.streaming.sqlite_apply import SqliteApplySink

#: the one scheme → sink class table (the reference's scheme dispatch,
#: ``downstreamadapter/sink/sink.go:41-56``): kafka:// is the changelog
#: sink's reference spelling, file/s3 the storage sink's, mysql/tidb bind
#: the executable writer to a MySQL DBAPI driver, blackhole is noop
SINKS: dict[str, type[Sink]] = {
    "replica": ReplicaSink,
    "changelog": ChangelogSink,
    "kafka": ChangelogSink,
    "file": StorageSink,
    "s3": StorageSink,
    "storage": StorageSink,
    "sqlite": SqliteApplySink,
    "mysql": SqliteApplySink,
    "tidb": SqliteApplySink,
    "noop": NoopSink,
    "blackhole": NoopSink,
}


def _sink_class(sink_uri: str) -> tuple[str, type[Sink]]:
    """The URI's scheme and the sink class the table maps it to."""
    scheme = sink_uri.split("://", 1)[0]
    if scheme not in SINKS:
        raise ValueError(f"unsupported sink scheme: {scheme}")  # sink.go:41-56
    return scheme, SINKS[scheme]


def _apply_sink_uri_options(cfg: ChangefeedConfig) -> dict:
    """Overlay sink-URI query parameters onto ``cfg`` and return them, as
    the reference configures sinks (kafka ``options.go:102-105``; storage
    ``sink.go:136,149``): URI params win over the config object, absent
    ones leave it untouched. The params every sink shares are read here;
    the sink class reads its own (:meth:`Sink.read_params`)."""
    from urllib.parse import parse_qs, urlparse

    _, sink_cls = _sink_class(cfg.sink_uri)
    q = parse_qs(urlparse(cfg.sink_uri).query)
    if not q:
        return q
    if "protocol" in q:
        cfg.sink.protocol = q["protocol"][0]
    if "time-zone" in q:
        # mysql sink URI spelling (config.go Timezone), validated at
        # create like the reference's changefeed timezone (changefeed.go:27)
        tz = q["time-zone"][0]
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(tz)
        except (zoneinfo.ZoneInfoNotFoundError, ValueError, KeyError):
            raise ValueError(
                f"invalid time-zone={tz!r} in sink-uri") from None
        cfg.timezone = tz
    # standalone sink option (pkg/config/sink.go:160; URI form in the mq
    # sink options): UPDATE old images carry only the changed columns
    cfg.sink.only_output_updated_columns = uri_flag(
        q, "only-output-updated-columns",
        cfg.sink.only_output_updated_columns)
    if "content-compatible" in q and cfg.sink.protocol == "canal-json":
        # canal-json adapter-compatibility rendering (common/config.go:
        # 65,262-265): the reference reads the flag only under
        # ProtocolCanalJSON (ignored elsewhere); enabling it forces
        # OnlyOutputUpdatedColumns (config.go:264)
        cfg.sink.content_compatible = uri_flag(q, "content-compatible")
        if cfg.sink.content_compatible:
            cfg.sink.only_output_updated_columns = True
    if "transaction-atomicity" in q:
        cfg.sink.txn_atomicity = q["transaction-atomicity"][0]
    if "compression" in q:
        # ENGINE DEVIATION, kept for catalog/back-compat: plain
        # `compression=` selects the CODEC-level value compression, whose
        # reference spelling (large_message.go:33) is the next param
        cfg.sink.compression = q["compression"][0]
    if "large-message-handle-compression" in q:
        cfg.sink.compression = q["large-message-handle-compression"][0]
    sink_cls.read_params(cfg, q)
    return q


def _committed_batches(checkpoint: str) -> int:
    """Micro-batches committed under ``checkpoint``: the digit-named
    files of its ``commits`` log (each batch also leaves a ``.N.crc``)."""
    d = os.path.join(checkpoint, "commits")
    return sum(f.isdigit() for f in os.listdir(d)) if os.path.isdir(d) else 0


def _summarize(batch: DataFrame) -> list:
    """The batch's per-table ``(table_id, min commit_ts, max commit_ts,
    count)`` rows, on the driver: O(touched tables)."""
    return batch.groupBy("table_id").agg(
        F.min("commit_ts"), F.max("commit_ts"), F.count(F.lit(1))).collect()


def run_available_now(writer: DataStreamWriter, checkpoint: str, *,
                      timeout_s: float = 300, min_batches: int = 0) -> int:
    """The run-to-completion lifecycle, spelled once: start ``writer``
    with ``checkpointLocation`` and the availableNow trigger, await it,
    and return how many micro-batches THIS run committed (a resumed
    query counts only its new ones). A query still running at
    ``timeout_s`` is stopped and raises :class:`TimeoutError`; a failed
    one raises its ``StreamingQueryException``; fewer than
    ``min_batches`` commits raise :class:`RuntimeError`."""
    before = _committed_batches(checkpoint)
    q = (writer.option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"query {q.name or q.id} still running after {timeout_s}s")
    finally:
        if q.isActive:
            q.stop()
    n = _committed_batches(checkpoint) - before
    if n < min_batches:
        raise RuntimeError(
            f"expected at least {min_batches} micro-batches, got {n}")
    return n


class Changefeed:
    """One replication job = one Structured Streaming query."""

    def __init__(self, spark: SparkSession, cfg: ChangefeedConfig,
                 source_dir: str, work_dir: str,
                 ddl_events: list | None = None):
        if not cfg.sink_uri:
            raise ValueError("sink_uri is required")  # changefeed.go:62 parity
        if cfg.target_ts and cfg.start_ts and cfg.target_ts <= cfg.start_ts:
            # ErrTargetTsBeforeStartTs (api/v2/changefeed.go:121-124)
            raise ValueError(
                f"invalid target-ts {cfg.target_ts}, target-ts must be "
                f"after start-ts {cfg.start_ts}")
        scheme, sink_cls = _sink_class(cfg.sink_uri)
        sink_query = _apply_sink_uri_options(cfg)
        cfg.sink.validate(scheme)
        self.spark = ensure_confs(spark)
        self.cfg = cfg
        self.source_dir = source_dir
        self.work_dir = work_dir
        self.checkpoint_dir = os.path.join(work_dir, "checkpoint", cfg.changefeed_id)
        self.bookkeeping = Bookkeeping(
            os.path.join(work_dir, "bookkeeping", cfg.changefeed_id),
            sync_point_us=cfg.sync_point_interval_s * 1_000_000
            if cfg.enable_sync_point else None,
            sync_point_retention_us=cfg.sync_point_retention_s * 1_000_000
            if cfg.enable_sync_point and cfg.sync_point_retention_s
            else None,
        )
        self.sink = sink_cls.from_config(cfg, scheme, sink_query, work_dir)
        #: first-class DDL barrier (T8): DDLEvents interleave with the
        #: change stream at their commit_ts; each micro-batch splits at
        #: the due barriers, the multi-version registry records the
        #: schema version, and the sink applies the DDL downstream.
        #: In BDR mode only PRIMARY-role DDLs replicate (events carry
        #: their cluster's bdr_role, persist_storage.go:808; the
        #: secondary's DDLs arrive via the primary's stream, so applying
        #: them here would double-apply) — gated once at config time.
        #: A role-less DDL under BDR is a misconfiguration, not a skip:
        #: silently dropping it would leave the downstream schema
        #: un-evolved with a clean run_to_completion
        if cfg.bdr_mode:
            bad = [d for d in (ddl_events or [])
                   if d.bdr_role not in ("primary", "secondary")]
            if bad:
                raise ValueError(
                    "bdr_mode requires every DDLEvent to declare "
                    "bdr_role='primary'|'secondary'; got role "
                    f"{bad[0].bdr_role!r} at commit_ts {bad[0].commit_ts}")
        self.ddl_events = [d for d in (ddl_events or [])
                           if not cfg.bdr_mode or d.bdr_role == "primary"]
        self._ddl_applied: set[int] = set()
        self.registry = SchemaRegistry(
            os.path.join(work_dir, "registry", cfg.changefeed_id))
        #: redo log (consistent replication, pkg/config/consistent.go):
        #: WAL every micro-batch before the sink applies it
        cfg.consistent.validate()
        if cfg.consistent.enabled():
            from tigate_spark.streaming.redo import RedoLog

            # epoch = start_ts: a rewind (resume overwrite_checkpoint_ts
            # rebuilds the feed with start_ts pinned) writes a fresh WAL
            # namespace instead of clobbering the first life's batch dirs
            self.redo = RedoLog(cfg.consistent.storage,
                                compression=cfg.consistent.compression,
                                epoch=cfg.start_ts)
        else:
            self.redo = None

    def feed_dirs(self) -> list[str]:
        """Every per-feed directory under ``work_dir``: the feed's own and
        the ones its sink declares. The redo storage and a ``broker-dir``
        given in the sink URI are the operator's."""
        return [self.checkpoint_dir, self.bookkeeping.base_dir,
                self.registry.path, *self.sink.dirs()]

    # -- source ------------------------------------------------------------
    def _source(self) -> tuple[str, str | None]:
        """File-stream sources need a directory; a single-file source
        becomes (parent_dir, glob_filter)."""
        if os.path.isfile(self.source_dir):
            return os.path.dirname(self.source_dir), os.path.basename(self.source_dir)
        return self.source_dir, None

    def _events_schema(self):
        if self.cfg.source_format != "parquet":
            # text formats carry no embedded schema — the explicit flat
            # contract is the schema (sources/formats.py)
            from tigate_spark.sources.formats import EVENTS_FLAT_SCHEMA

            return EVENTS_FLAT_SCHEMA
        # one driver-side footer read; the streaming source needs an
        # explicit schema (no inference on file streams)
        return self.spark.read.parquet(self.source_dir).schema

    def read_stream(self) -> DataFrame:
        path, glob_filter = self._source()
        reader = (
            self.spark.readStream.schema(self._events_schema())
            # backpressure: bound micro-batch size at the source (the
            # MemoryQuota equivalent); default 1 file = 1 micro-batch
            .option("maxFilesPerTrigger", str(self.cfg.max_files_per_trigger))
        )
        if glob_filter:
            reader = reader.option("pathGlobFilter", glob_filter)
        fmt = self.cfg.source_format
        if fmt == "parquet":
            return reader.parquet(path)
        if fmt == "jsonl":
            raw = reader.json(path)
        elif fmt == "csv":
            # splittable by the export contract (no physical newline in a
            # record — sources/formats.csv_escape_text); multiLine stays
            # false so big files chunk by maxPartitionBytes
            from tigate_spark.sources.formats import (
                CSV_READ_OPTIONS,
                decode_csv_events,
            )

            for k, v in CSV_READ_OPTIONS.items():
                reader = reader.option(k, v)
            return decode_csv_events(reader.csv(path))
        else:
            raise ValueError(f"unsupported source_format: {fmt}")
        # rebuild the events shape (ts from epoch-us) — identical plan to
        # the batch readers in sources/formats.read_events
        return raw.select(
            "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )

    # -- transform (F1-F4, P1, T2) ----------------------------------------
    def transform(self, raw: DataFrame) -> DataFrame:
        ch = normalize_events(raw, with_images=self.sink.with_images)
        if self.cfg.partition_mappings:
            # partition-table routing (DMLEvent.PhysicalTableID,
            # dml_event.go:20-61; scenario partition_table/): N physical
            # partitions fan into their logical table before filtering/
            # routing — a broadcast interval join against the versioned
            # registry, zero event-side shuffle
            from tigate_spark.operators.partitions import (
                partition_registry,
                resolve_logical,
            )

            reg = partition_registry(self.spark,
                                     list(self.cfg.partition_mappings))
            ch = resolve_logical(ch, reg)
        if self.cfg.bdr_mode and "source_id" in ch.columns:
            # BDR loop prevention (replica_config.go:148): replicate only
            # application writes — txns another CDC applied carry its
            # nonzero write source (the tidb_cdc_write_source tag,
            # helper.go:334-343) and must not ping-pong back
            ch = ch.filter(F.col("source_id") == 0)
        if self.cfg.start_ts:
            ch = ch.filter(F.col("commit_ts") > self.cfg.start_ts)
        if self.cfg.target_ts:
            ch = ch.filter(F.col("commit_ts") <= self.cfg.target_ts)
        ch = f_ops.apply_filter_config(ch, self.cfg.filter)
        if self.cfg.sink.column_selectors:
            # first-matching-rule dispatch (column_selector.go:74-101
            # ColumnSelectors.GetSelector) — NOT cumulative per-rule
            # application, which would intersect rules when a config
            # carries several selector rules
            ch = column_selectors(ch, self.cfg.sink.column_selectors)
        for name, expr, _decl in (self.cfg.wide_payload or ()):
            # full-width mounted projection (T3 typed view): every
            # schema column of the replicated table, derived from the
            # change row — pure column expressions, stays in the scan
            # stage's whole-stage codegen
            ch = ch.withColumn(name, F.expr(expr))
        return ch

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The one per-micro-batch path. It owns every side effect of the
        batch, in this order: per-table summary, redo WAL, sink write
        (split at due DDL barriers), bookkeeping, redo checkpoint. The
        sinks only write.

        One cache serves every action: the summary, the WAL, the barrier
        sub-batch filters and the sink's own actions. The summary — one
        ``groupBy(table_id)`` of min/max commit_ts and count, collected to
        the driver — always runs first, so it is the action that fills
        the cache, and it is the batch's only driver-side aggregate: the
        commit range (redo, the DDL due-check, syncpoint ticks), the
        progress rows and what a sink reads from ``summary=`` (the
        replica's touched tables, the storage sink's checkpoint-ts) all
        come from it. A barrier sub-batch may touch fewer tables than the
        whole batch, so it gets no summary and its sink works out its own."""
        pending = [d for d in self.ddl_events
                   if d.commit_ts not in self._ddl_applied]
        prepared = self.sink.prepare(batch_df).persist()
        try:
            summary = _summarize(prepared)
            lo, hi = commit_range(summary)
            # a configured DDL is due in the first micro-batch whose
            # commit range reaches its ts
            due = sorted((d for d in pending
                          if hi is not None and d.commit_ts <= hi),
                         key=lambda d: d.commit_ts)
            if self.redo is not None:
                # consistent replication: WAL the batch BEFORE any sink
                # action (log-flush-then-apply — 'nothing is resolved that
                # is not durably logged'); the per-batch log dir is
                # overwrite-mode, so a replayed micro-batch rewrites its
                # own logs idempotently. Due DDL barriers are logged
                # BEFORE resolved_ts advances past them — a crash in
                # between must leave a redo log whose DDL pass covers
                # everything below resolved_ts (consistent_replicate_ddl).
                for d in due:
                    self.redo.log_ddl(d)
                self.redo.log_batch(prepared.select(*batch_df.columns),
                                    batch_id, hi=hi, lo=lo)
            if not due:
                self.sink.process_batch(prepared, batch_id, summary=summary)
            else:
                # first-class DDL barrier (T8): the batch splits at each
                # due barrier, the schema registry records the version
                # between sub-batches, and the sink applies the DDL
                # downstream. Each sub-batch carries its own fence, so a
                # sink that fences replays converges per sub-batch, and
                # no summary: the whole batch's would name tables the
                # sub-batch does not touch.
                # Exactly-once across restart: the in-memory applied-set
                # is lost, but a replayed barrier converges — the
                # registry append is idempotent and an executing sink
                # treats the duplicate-DDL error class as
                # already-applied (pkg/apperror/util.go:36-55), the
                # reference's own replay story.
                def apply_dml(part: DataFrame, sub: int) -> None:
                    self.sink.process_batch(part, batch_id,
                                            fence=f"b{batch_id}.s{sub}")

                def apply_ddl(d) -> None:
                    self.registry.append(self.spark, d, idempotent=True)
                    self.sink.apply_ddl(d)
                    self._ddl_applied.add(d.commit_ts)

                # prepared is persisted here, so the split owns no cache
                split_batch_at_ddl(prepared, due, apply_dml, apply_ddl)
            # K4 progress + K5 syncpoint ticks: once per micro-batch,
            # after the sink committed, however the barriers split it
            ticks = self.bookkeeping.record(summary, batch_id)
            if ticks:
                # the downstream ts-map rows a MySQL-sink consumer reads
                self.sink.mirror_syncpoint(ticks, hi)
            if self.redo is not None and hi is not None:
                # checkpoint_ts advances only after the sink committed
                self.redo.mark_applied(batch_id, int(hi))
        finally:
            prepared.unpersist()

    # -- lifecycle ---------------------------------------------------------
    def _writer(self) -> DataStreamWriter:
        return (self.transform(self.read_stream()).writeStream
                .foreachBatch(self._foreach_batch)
                .queryName(self.cfg.changefeed_id))

    def start(self, available_now: bool = True) -> StreamingQuery:
        """Start the feed without waiting (the engine's start/resume)."""
        writer = self._writer().option("checkpointLocation",
                                       self.checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, timeout_s: int = 300) -> int:
        """Drain everything available; returns the micro-batches this run
        committed (see :func:`run_available_now`)."""
        return run_available_now(self._writer(), self.checkpoint_dir,
                                 timeout_s=timeout_s)
