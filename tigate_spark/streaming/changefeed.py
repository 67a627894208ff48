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
  → sink (K1/K2/K3); then the changefeed, not the sink, appends the
  progress + syncpoint bookkeeping (T5/T7/T11) — the reference's
  dispatcher tracks table progress (``table_progress.go:24-44``) and its
  sinks only write. :meth:`Changefeed._foreach_batch` owns all of it.

Everything before the sink is one declarative DataFrame plan, so Catalyst
pushes the filters into the parquet scan of every micro-batch.
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
from tigate_spark.streaming.sinks import (
    Bookkeeping,
    ChangelogSink,
    NoopSink,
    ReplicaSink,
    StorageSink,
    commit_range,
)
from tigate_spark.streaming.sqlite_apply import SqliteApplySink

#: payload columns the canonical change rows carry into sinks
PAYLOAD_COLS = ["event_type", "value_cents", "user_id"]


def _apply_sink_uri_options(cfg: ChangefeedConfig) -> dict:
    """Overlay sink-URI query parameters onto ``cfg.sink`` — the
    reference configures sinks through the URI exactly like this
    (kafka ``options.go:102-105`` ``partition-num``/``max-message-bytes``
    form tags; storage/config ``sink.go:136,149`` ``protocol``/
    ``date-separator``). URI params take precedence over the config
    object, matching the reference's URI-first merge; absent params
    leave the config untouched, so programmatic configs are unaffected.
    (The sqlite scheme's writer-loop tuning — worker-count/max-txn-row/
    max-packet, mysql ``config.go:37-55`` — is parsed in
    ``_build_sink`` where the writer is constructed.)"""
    from urllib.parse import parse_qs, urlparse

    q = parse_qs(urlparse(cfg.sink_uri).query)
    if not q:
        return q
    if "protocol" in q:
        cfg.sink.protocol = q["protocol"][0]
    if "encoding-format" in q:
        # simple-protocol marshaller dispatch (marshaller.go:50-56)
        cfg.sink.encoding_format = q["encoding-format"][0]
    if "partition-num" in q:
        n = int(q["partition-num"][0])
        if n <= 0:
            raise ValueError(
                f"invalid partition-num={q['partition-num'][0]!r} "
                "in sink-uri")  # options.go:200-207 parity
        cfg.sink.num_partitions = n
    if "max-message-bytes" in q:
        n = int(q["max-message-bytes"][0])
        if n <= 0:
            raise ValueError(
                f"invalid max-message-bytes={q['max-message-bytes'][0]!r} "
                "in sink-uri")
        # the frame limit claim-check/handle-key-only triggers on
        # (large_message.go: a message is "large" past max-message-bytes)
        cfg.sink.large_message_threshold = n
    if "date-separator" in q:
        sep = q["date-separator"][0]
        if sep not in ("none", "year", "month", "day"):
            raise ValueError(
                f"invalid date-separator={sep!r} in sink-uri")
        cfg.sink.date_separator = sep
    if "file-expiration-days" in q:
        n = int(q["file-expiration-days"][0])
        if n <= 0:
            raise ValueError(
                f"invalid file-expiration-days="
                f"{q['file-expiration-days'][0]!r} in sink-uri")
        cfg.sink.file_expiration_days = n
    if "large-message-handle" in q:
        cfg.sink.large_message_handle = q["large-message-handle"][0]
    if "time-zone" in q:
        # mysql sink URI spelling (config.go Timezone). Validate eagerly
        # like the neighboring params — the reference validates the
        # changefeed timezone at creation (changefeed.go:27), and a typo
        # failing mid-stream on the first dated render is much harder to
        # diagnose than a create-time error
        tz = q["time-zone"][0]
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(tz)
        except (zoneinfo.ZoneInfoNotFoundError, ValueError, KeyError):
            raise ValueError(
                f"invalid time-zone={tz!r} in sink-uri") from None
        cfg.timezone = tz
    if "safe-mode" in q:
        cfg.sink.safe_mode = q["safe-mode"][0].lower() in ("true", "1")
    if "only-output-updated-columns" in q:
        # standalone sink option (pkg/config/sink.go:160; URI form in
        # the mq sink options): UPDATE old images carry only the
        # changed columns
        cfg.sink.only_output_updated_columns = (
            q["only-output-updated-columns"][0].lower() in ("true", "1"))
    if "content-compatible" in q:
        # canal-json adapter-compatibility rendering (common/config.go:
        # 65,262-265): the reference reads the flag only under
        # ProtocolCanalJSON (ignored elsewhere); enabling it forces
        # OnlyOutputUpdatedColumns (config.go:264)
        if cfg.sink.protocol == "canal-json":
            cc = q["content-compatible"][0].lower() in ("true", "1")
            cfg.sink.content_compatible = cc
            if cc:
                cfg.sink.only_output_updated_columns = True
    if "transaction-atomicity" in q:
        cfg.sink.txn_atomicity = q["transaction-atomicity"][0]
    if "compression" in q:
        # ENGINE DEVIATION, kept for catalog/back-compat: plain
        # `compression=` selects the CODEC-level value compression here,
        # whereas the reference's kafka URI `compression` param is
        # PRODUCER transport compression (options.go:106). The canonical
        # reference spellings below are both accepted.
        if urlparse(cfg.sink_uri).scheme.startswith("kafka"):
            # a reference-written kafka URI lands here expecting
            # transport compression — warn so the trap is visible
            import warnings

            warnings.warn(
                "'compression=' on a kafka sink URI selects CODEC-level "
                "(per-value) compression in this engine; the reference's "
                "kafka 'compression' param is producer TRANSPORT "
                "compression. Use 'kafka-compression=' for transport or "
                "'large-message-handle-compression=' for codec-level.",
                stacklevel=2)
        cfg.sink.compression = q["compression"][0]
    if "large-message-handle-compression" in q:
        # the reference's canonical spelling for the codec-level value
        # compression (large_message.go:33)
        cfg.sink.compression = q["large-message-handle-compression"][0]
    if "kafka-compression" in q:
        # producer TRANSPORT compression (the reference kafka URI's own
        # `compression` param, renamed here to avoid colliding with the
        # codec-level alias above). sarama.go:79-94 semantics: known
        # codecs apply; an unknown value WARNS and falls back to none
        # instead of failing the changefeed
        cc = q["kafka-compression"][0].strip().lower()
        if cc in ("none", "gzip", "snappy", "lz4", "zstd"):
            cfg.sink.kafka_compression = cc
        else:
            import warnings

            warnings.warn(
                f"Unsupported compression algorithm {cc!r}; kafka "
                f"producer compression falls back to none "
                f"(sarama.go:91-93)", stacklevel=2)
            cfg.sink.kafka_compression = "none"
    if "auto-create-topic" in q:
        # options.go:108 (default true): false = never create, only
        # query; a missing topic then errors at produce/admin time
        cfg.sink.auto_create_topic = (
            q["auto-create-topic"][0].lower() in ("true", "1"))
    _CLIENT_PARAMS = (
        "kafka-client-id", "kafka-version", "dial-timeout",
        "read-timeout", "write-timeout", "sasl-user", "sasl-password",
        "sasl-mechanism", "sasl-gssapi-auth-type",
        "sasl-gssapi-keytab-path", "sasl-gssapi-kerberos-config-path",
        "sasl-gssapi-service-name", "sasl-gssapi-user",
        "sasl-gssapi-password", "sasl-gssapi-realm",
        "sasl-gssapi-disable-pafxfast", "enable-tls", "ca", "cert",
        "key", "insecure-skip-verify")
    for p in _CLIENT_PARAMS:
        if p in q:
            cfg.sink.kafka_client_params[p] = q[p][0]
    if cfg.sink.kafka_client_params:
        # validate at create (malformed durations / unknown mechanisms
        # fail the changefeed now, not at first produce)
        from tigate_spark.streaming.kafka_clients import (
            client_config_from_params,
        )

        client_config_from_params(cfg.sink.kafka_client_params)
    if "replication-factor" in q:
        # options.go:103 (default 1, options.go:169) — applied at topic
        # create by the admin client
        rf = int(q["replication-factor"][0])
        if rf < 1:
            raise ValueError(
                f"invalid replication-factor {rf}, must be >= 1")
        cfg.sink.replication_factor = rf
    if "required-acks" in q:
        # options.go:88-98 requireAcksFromString: only -1/0/1 exist;
        # anything else is ErrKafkaInvalidRequiredAcks (create-time)
        raw = q["required-acks"][0]
        try:
            acks = int(raw)
        except ValueError:
            acks = None
        if acks not in (-1, 0, 1):
            raise ValueError(
                f"invalid required acks {raw}"
                f" (expected -1 WaitForAll, 1 WaitForLocal,"
                f" 0 NoResponse)")
        cfg.sink.required_acks = acks
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
        from urllib.parse import urlparse

        #: parsed ONCE: the query overlay, the sqlite writer options in
        #: _build_sink, and the per-batch default topic all read these
        self._sink_query = _apply_sink_uri_options(cfg)
        self._default_topic = urlparse(cfg.sink_uri).path.strip("/") or None
        scheme = cfg.sink_uri.split("://", 1)[0]
        if cfg.sink.txn_atomicity not in ("", "none", "table"):
            # AtomicityLevel.validate (pkg/config/sink.go:114-129)
            raise ValueError(
                f"{cfg.sink.txn_atomicity} level atomicity is not "
                f"supported by {scheme} scheme")
        if (cfg.sink.txn_atomicity == "table"
                and scheme in ("kafka", "changelog")):
            # MQ sinks only support noneTxnAtomicity (sink.go:118-123):
            # messages fan out across topic partitions, so a downstream
            # txn boundary doesn't exist to preserve
            raise ValueError(
                f"table level atomicity is not supported by "
                f"{scheme} scheme")
        if (cfg.sink.large_message_handle
                and cfg.sink.large_message_handle != "none"
                and cfg.sink.protocol not in
                ("canal-json", "open-protocol", "simple")):
            # pkg/config/large_message.go:61-77 AdjustAndValidate parity:
            # '' / 'none' (LargeMessageHandleOptionNone, large_message.go:
            # 48-61) means DISABLED and validates for every protocol;
            # an enabled handle is only defined for the open/simple/canal
            # families — avro's Confluent framing has no `message` column
            # for claim-check/handle-key-only to operate on
            raise ValueError(
                f"large message handle is set to "
                f"{cfg.sink.large_message_handle}, protocol is "
                f"{cfg.sink.protocol}, it's not supported")
        if cfg.sink.encoding_format not in ("", "json", "avro"):
            # marshaller.go:50-56: the simple codec dispatches on
            # EncodingFormat json|avro only
            raise ValueError(
                f"unknown encoding-format {cfg.sink.encoding_format!r}, "
                "only json and avro are supported")
        if (cfg.sink.encoding_format == "avro"
                and cfg.sink.protocol != "simple"):
            # the option belongs to the simple codec; another protocol
            # would silently ignore it — reject like the per-protocol
            # option validation above
            raise ValueError(
                f"encoding-format avro is not supported by protocol "
                f"{cfg.sink.protocol}")
        if cfg.sink.compression not in ("", "none"):
            # compression.Supported (large_message.go:57-59) — create-time
            from tigate_spark.functions.compress import ensure_supported

            ensure_supported(cfg.sink.compression)
            if cfg.sink.protocol != "open-protocol":
                # only the open codec applies value compression
                # (open/codec.go:85,120); other protocols would silently
                # ignore the setting — reject like the reference's
                # per-protocol option validation
                raise ValueError(
                    f"compression {cfg.sink.compression} is not "
                    f"supported by protocol {cfg.sink.protocol}")
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
        self.sink = self._build_sink()
        #: first-class DDL barrier (T8): DDLEvents interleave with the
        #: change stream at their commit_ts; each micro-batch splits at
        #: the due barriers, the multi-version registry records the
        #: schema version, and an executing sink runs the DDL live.
        #: In BDR mode only PRIMARY-role DDLs replicate (events carry
        #: their cluster's bdr_role, persist_storage.go:808; the
        #: secondary's DDLs arrive via the primary's stream, so applying
        #: them here would double-apply) — gated once at config time.
        #: A role-less DDL under BDR is a misconfiguration, not a skip:
        #: silently dropping it would leave the downstream schema
        #: un-evolved with a clean run_to_completion
        if cfg.bdr_mode:
            bad = [d for d in (ddl_events or [])
                   if getattr(d, "bdr_role", "")
                   not in ("primary", "secondary")]
            if bad:
                raise ValueError(
                    "bdr_mode requires every DDLEvent to declare "
                    "bdr_role='primary'|'secondary'; got role "
                    f"{getattr(bad[0], 'bdr_role', '')!r} at commit_ts "
                    f"{bad[0].commit_ts}")
        self.ddl_events = [
            d for d in (ddl_events or [])
            if not cfg.bdr_mode or getattr(d, "bdr_role", "") == "primary"
        ]
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
        """Every per-feed directory under ``work_dir``. The redo storage
        and a ``broker-dir`` given in the sink URI are the operator's."""
        dirs = [self.checkpoint_dir, self.bookkeeping.base_dir,
                self.registry.path]
        dirs += [getattr(self.sink, a)
                 for a in ("state_dir", "out_dir", "checkpoint_dir", "db_dir")
                 if hasattr(self.sink, a)]
        if "broker-dir" not in self._sink_query:
            dirs.append(os.path.join(self.work_dir, "broker",
                                     self.cfg.changefeed_id))
        return dirs

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
        scheme = self.cfg.sink_uri.split("://", 1)[0]
        with_images = scheme in ("kafka", "changelog") or (
            scheme in ("file", "s3", "storage")
            and self.cfg.sink.protocol == "canal-json"
        )
        ch = normalize_events(raw, with_images=with_images)
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

    # -- sink --------------------------------------------------------------
    def _build_sink(self):
        scheme = self.cfg.sink_uri.split("://", 1)[0]
        if scheme == "replica":
            return ReplicaSink(
                os.path.join(self.work_dir, "replica", self.cfg.changefeed_id),
                PAYLOAD_COLS + [n for n, _, _ in (self.cfg.wide_payload or ())],
            )
        if scheme in ("kafka", "changelog"):
            # transport selection on the sink URI (r12) — the production
            # swap is literally a URI change:
            #   (none)               parquet-backed stand-in (default)
            #   transport=wire       FakeWireProducer on broker-dir (the
            #                        flock-serialized jsonl fake broker
            #                        with idempotent sequence dedup)
            #   transport=confluent  ConfluentKafkaProducer bound to the
            #                        URI authority (kafka://host:9092/t)
            #                        — requires confluent-kafka installed
            q = self._sink_query
            transport = (q.get("transport", [None])[0] or "").lower()
            producer = None
            if transport == "wire":
                from tigate_spark.streaming.kafka import FakeWireProducer

                kc = self.cfg.sink.kafka_compression
                if kc not in ("", "none"):
                    # the fake broker EXECUTES the codec locally (a real
                    # broker-side decompress twin), so it needs the seam
                    # codec present — create-time, like every misconfig
                    from tigate_spark.functions.compress import (
                        ensure_supported,
                    )

                    ensure_supported(kc)
                broker_dir = q.get("broker-dir", [None])[0] or os.path.join(
                    self.work_dir, "broker", self.cfg.changefeed_id)
                producer = FakeWireProducer(
                    broker_dir, compression=kc,
                    auto_create=self.cfg.sink.auto_create_topic)
            elif transport == "confluent":
                try:
                    import confluent_kafka  # type: ignore # noqa: F401
                except ImportError:
                    # create-time validation, like every other sink
                    # misconfiguration — not a mid-stream surprise
                    raise ValueError(
                        "transport=confluent requires the "
                        "confluent-kafka client library; install it or "
                        "use transport=wire for the fake broker")
                from urllib.parse import urlparse as _up

                from tigate_spark.streaming.kafka_clients import (
                    ConfluentKafkaProducer,
                )

                conf = {}
                if self.cfg.sink.kafka_compression not in ("", "none"):
                    # producer transport compression rides the client
                    # config (librdkafka compression.type = the sarama
                    # Producer.Compression twin); the real client
                    # executes the codec itself, no local seam needed
                    conf["compression.type"] = (
                        self.cfg.sink.kafka_compression)
                if self.cfg.sink.required_acks != -1:
                    # sarama RequiredAcks twin; librdkafka spells them
                    # "0"/"1"/"all", and idempotence REQUIRES acks=all,
                    # so a weaker setting turns it off (the app-level
                    # failed-only retry in produce_partition remains)
                    conf["acks"] = str(self.cfg.sink.required_acks)
                    conf["enable.idempotence"] = False
                if self.cfg.sink.kafka_client_params:
                    from tigate_spark.streaming.kafka_clients import (
                        client_config_from_params,
                    )

                    conf.update(client_config_from_params(
                        self.cfg.sink.kafka_client_params))
                producer = ConfluentKafkaProducer(
                    _up(self.cfg.sink_uri).netloc or "localhost:9092",
                    config=conf or None,
                    replication_factor=self.cfg.sink.replication_factor,
                    auto_create=self.cfg.sink.auto_create_topic)
            elif transport:
                raise ValueError(
                    f"unsupported kafka transport {transport!r} "
                    f"(expected wire or confluent)")
            return ChangelogSink(
                os.path.join(self.work_dir, "changelog", self.cfg.changefeed_id),
                producer=producer,
                num_partitions=self.cfg.sink.num_partitions,
            )
        if scheme in ("file", "s3", "storage"):
            # K7 cloud-storage sink (csv_storage_basic/run.sh:23 —
            # file:// URI; s3:// in the broader product)
            # unsupported protocols raise (StorageSink validates), like every
            # other sink scheme — a silent csv fallback would mask misconfig
            return StorageSink(
                os.path.join(self.work_dir, "storage", self.cfg.changefeed_id),
                protocol=self.cfg.sink.protocol,
                date_separator=self.cfg.sink.date_separator,
                timezone=self.cfg.timezone,
                file_expiration_days=self.cfg.sink.file_expiration_days,
                csv_config=self.cfg.sink.csv,
                only_updated_old=self.cfg.sink.only_output_updated_columns,
                content_compatible=self.cfg.sink.content_compatible,
            )
        if scheme in ("sqlite", "mysql", "tidb"):
            # the executable writer loop (K1's live-SQL form): renders
            # safe-mode statements and EXECUTES them through a DBAPI
            # driver (streaming/dbapi.py) — sqlite:// on per-lane SQLite
            # files (the sandbox's live engine), mysql://tidb:// through
            # a registered MySQL DBAPI driver classifying by server
            # error CODE (mysql_writer.go:727-755, apperror/util.go).
            # Tuning rides on the sink-URI query string exactly like the
            # reference's MySQL sink (pkg/sink/mysql/config.go:37-55:
            # worker-count default 16 cap 1024, max-txn-row default 256
            # cap 2048); lanes here default to the sink's own 4 — a
            # single-host SQLite file set saturates earlier than a MySQL
            # server, and the knob exists for parity + measurement.
            # Dispatch is table-granular BY REFERENCE DESIGN: the MySQL
            # sink routes each event by PhysicalTableID % prime %
            # workerCount (downstreamadapter/sink/mysql_sink.go:147), so
            # effective parallelism is min(worker-count, distinct
            # tables) — measured flat 4->16 lanes on the 4-table
            # testdata stream, exactly as that dispatch predicts.
            q = self._sink_query

            def _opt(name: str, default: int, cap: int) -> int:
                raw = q.get(name, [None])[0]
                if raw is None:
                    return default
                v = int(raw)
                if v <= 0:
                    raise ValueError(
                        f"invalid {name}={raw!r} in sink-uri")
                return min(v, cap)

            from tigate_spark.streaming.dbapi import get_driver

            return SqliteApplySink(
                os.path.join(self.work_dir, "sqlite", self.cfg.changefeed_id),
                n_lanes=_opt("worker-count", 4, 1024),
                txn_rows=_opt("max-txn-row", 256, 2048),
                max_packet=_opt("max-packet", 64 * 1024, 1 << 30),
                write_source=self.cfg.source_id,
                driver=get_driver(scheme, self.cfg.sink_uri),
                split_txn=self.cfg.sink.txn_atomicity != "table",
                changefeed=self.cfg.changefeed_id,
                # batch-dml-enable (mysql/config.go:70, default true)
                batch_dml=(q.get("batch-dml-enable", ["true"])[0]
                           .lower() in ("true", "1")),
                # batch-dml-multirow (default false): render batch-dml's
                # multi-row VALUES form explicitly — the MySQL driver's
                # rewriteBatchedStatements shape, one statement per
                # adjacent same-table REPLACE run bounded by
                # max-txn-row/max-packet — instead of the executemany
                # coalescing twin
                multirow_dml=(q.get("batch-dml-multirow", ["false"])[0]
                              .lower() in ("true", "1")),
                wide_cols=tuple(
                    (n, decl)
                    for n, _, decl in (self.cfg.wide_payload or ())),
            )
        if scheme in ("noop", "blackhole"):
            return NoopSink()
        raise ValueError(f"unsupported sink scheme: {scheme}")  # sink.go:41-56

    def _prepare_for_sink(self, batch: DataFrame) -> DataFrame:
        if isinstance(self.sink, ReplicaSink):
            # the replica merge keys on (table_id, pk): pre-clustering the
            # cached batch on the same key gives the cache full-width
            # parallelism (a 1-file micro-batch otherwise materializes on
            # one task) and lets the merge agg reuse the partitioning
            # instead of re-exchanging the incoming side
            return batch.repartition(F.col("table_id"), F.col("pk"))
        if isinstance(self.sink, ChangelogSink):
            from tigate_spark.functions.encoders import (
                encode_canal_json,
                encode_open_protocol,
            )
            from tigate_spark.operators.routing import route

            rules = self.cfg.sink.dispatch_rules or []
            # the Kafka sink-URI path is the default topic for rows no
            # dispatch rule claims (eventrouter/event_router.go:36,72,89
            # threads the URI topic into every generator); no path keeps
            # the {schema}_{table} convention
            default_topic = self._default_topic
            if rules:
                batch = route(batch, rules, self.cfg.sink.num_partitions,
                              default_topic=default_topic)
            else:
                from tigate_spark.operators.routing import (
                    partition_by_index_value,
                    topic_expr,
                )
                batch = batch.withColumn(
                    "topic", topic_expr(default_topic or "{schema}_{table}")
                ).withColumn(
                    "partition",
                    partition_by_index_value(self.cfg.sink.num_partitions).cast("bigint"),
                )
            if self.cfg.sink.large_message_handle == "handle-key-only":
                # P3: oversized payload images reduced to the handle key
                # before encoding (open/codec.go:43-48)
                from tigate_spark.operators.projections import handle_key_only

                batch = handle_key_only(
                    batch, self.cfg.sink.large_message_threshold, payload_col="after"
                )
            # Shuffle BEFORE the encode: a 1-file micro-batch arrives on
            # one source-read task, and everything below the exchange —
            # including the per-row protocol encode and the cache
            # materialization in _foreach_batch — would run there
            # single-threaded. Clustering by (topic, partition) also
            # bounds output files per batch to the lane count.
            batch = batch.repartition(F.col("topic"), F.col("partition"))
            if self.cfg.sink.protocol == "open-protocol":
                batch = encode_open_protocol(batch)
                if self.cfg.sink.compression not in ("", "none"):
                    # VALUE compressed before framing/size checks
                    # (open/codec.go:85: the wire length counts
                    # compressed bytes); rides as hex like the avro
                    # Confluent framing — key stays plain JSON
                    from tigate_spark.functions.compress import compress_col

                    batch = batch.withColumn(
                        "value",
                        F.hex(compress_col(
                            F.encode(F.col("value"), "UTF-8"),
                            self.cfg.sink.compression)))
            elif self.cfg.sink.protocol == "avro":
                # Confluent wire framing (magic + schema id + Avro binary)
                # as hex key/value — byte-exact vs the batch encoder entry
                from tigate_spark.functions.avro_wire import (
                    encode_avro_confluent,
                )

                batch = (
                    encode_avro_confluent(batch)
                    .withColumn("key", F.col("key_hex"))
                    .withColumn("value", F.col("value_hex"))
                )
            elif (self.cfg.sink.protocol == "simple"
                  and self.cfg.sink.encoding_format == "avro"):
                # simple protocol, Avro encoding format (marshaller.go:
                # 50-56 dispatch): the com.pingcap.simple.avro binary
                # wire rides as a hex VALUE (simple messages are
                # value-only — no key), byte-exact vs the batch encoder
                # entry; pure column expressions, zero Python
                from tigate_spark.functions.simple_avro import (
                    encode_simple_avro,
                )

                batch = encode_simple_avro(batch, out_col="value")
            elif self.cfg.sink.protocol == "simple":
                # simple protocol, JSON encoding format
                from tigate_spark.functions.encoders import (
                    encode_simple_protocol,
                )

                batch = encode_simple_protocol(batch)
            elif self.cfg.sink.content_compatible:
                # adapter-compatibility wire: full mysqlType descriptors
                # + only-updated old columns (canal/encoder.go:260,321)
                from tigate_spark.functions.encoders import (
                    encode_canal_json_typed,
                )

                batch = encode_canal_json_typed(batch,
                                                content_compatible=True)
            else:
                batch = encode_canal_json(
                    batch,
                    only_updated_old=self.cfg.sink
                    .only_output_updated_columns)
            if self.cfg.sink.large_message_handle == "claim-check":
                # E5: oversized encoded messages become object-store pointers
                from tigate_spark.functions.encoders import claim_check

                if "message" in batch.columns:  # canal-json
                    batch = claim_check(
                        batch, self.cfg.sink.large_message_threshold
                    ).withColumn("message", F.col("wire_value"))
                else:
                    # open-protocol (key/value pair): a compressed value
                    # rides as hex — size the WIRE bytes (hex chars / 2,
                    # open/codec.go:85 counts compressed bytes), exactly
                    # like the ErrMessageTooLarge guard below; otherwise
                    # offload would trigger at ~half the threshold
                    # ... and the simple-Avro binary wire also rides hex
                    is_hex = (
                        self.cfg.sink.compression not in ("", "none")
                        or (self.cfg.sink.protocol == "simple"
                            and self.cfg.sink.encoding_format == "avro"))
                    batch = claim_check(
                        batch, self.cfg.sink.large_message_threshold,
                        msg_col="value", value_is_hex=is_hex,
                    ).withColumn("value", F.col("wire_value"))
            else:
                # ErrMessageTooLarge (open/encoder.go:43-52, canal
                # equivalent): a single encoded message over
                # max-message-bytes with no claim-check offload cannot be
                # produced — fail the feed (deterministic, so the engine
                # classifies it unretryable). handle-key-only already
                # reduced the payload; if the reduced form STILL exceeds,
                # the reference errors too (encoder.go:70-76). Zero extra
                # jobs: the check is a per-row conditional inside the
                # existing encode projection.
                limit = self.cfg.sink.large_message_threshold
                if "message" in batch.columns:  # canal-json
                    guards = [("message", F.octet_length(F.col("message")))]
                elif self.cfg.sink.protocol == "avro" or (
                        self.cfg.sink.protocol == "simple"
                        and self.cfg.sink.encoding_format == "avro"):
                    # Avro binary wires ride as HEX strings: 2 chars/byte
                    guards = [("value",
                               F.octet_length(F.col("value")) / 2)]
                elif self.cfg.sink.protocol == "open-protocol":
                    # a compressed value rides as hex: 2 chars/byte, and
                    # the reference sizes the COMPRESSED wire
                    if self.cfg.sink.compression not in ("", "none"):
                        guards = [("value",
                                   F.octet_length(F.col("value")) / 2)]
                    else:
                        guards = [("value", F.octet_length(F.col("value")))]
                else:
                    guards = []
                for c, size in guards:
                    batch = batch.withColumn(c, F.when(
                        size > limit,
                        F.raise_error(F.format_string(
                            "ErrMessageTooLarge: single message of %s "
                            "bytes is larger than max-message-bytes="
                            f"{limit}, unsupported without "
                            "large-message-handle",
                            size.cast("bigint").cast("string"),
                        ))).otherwise(F.col(c)))
        return batch

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The one per-micro-batch path. It owns every side effect of the
        batch, in this order: redo WAL, sink write (split at due DDL
        barriers), bookkeeping, redo checkpoint. The sinks only write.

        One cache serves every action: the per-table summary, the WAL,
        the barrier sub-batch filters and the sink's own actions. The
        summary — one ``groupBy(table_id)`` of min/max commit_ts and count,
        collected to the driver — is the batch's only bookkeeping
        aggregate: the commit range (redo, the DDL due-check, syncpoint
        ticks) and the progress rows are derived from it on the driver.
        It runs before the sink only when the redo log or a pending DDL
        needs the range there; otherwise after it, so the sink's first
        action, not an extra job, fills the cache."""
        pending = [d for d in self.ddl_events
                   if d.commit_ts not in self._ddl_applied]
        prepared = self._prepare_for_sink(batch_df).persist()
        try:
            summary = None
            if self.redo is not None or pending:
                summary = _summarize(prepared)
            lo, hi = commit_range(summary or [])
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
                self.sink.process_batch(prepared, batch_id)
            else:
                # first-class DDL barrier (T8): the batch splits at each
                # due barrier, the schema registry records the version
                # between sub-batches, and a sink that can EXECUTE DDL
                # (the SQLite writer loop) runs it on the owning lane.
                # Exactly-once across restart: the in-memory applied-set
                # is lost, but a replayed barrier converges — the
                # registry append is idempotent and the executing sink
                # treats the duplicate-DDL error class as
                # already-applied (pkg/apperror/util.go:36-55), the
                # reference's own replay story.
                executes_sql = isinstance(self.sink, SqliteApplySink)

                def apply_dml(part: DataFrame, sub: int) -> None:
                    # an executing sink fences each sub-batch on its own,
                    # so a replayed barrier converges per sub-batch
                    kw = {"fence": f"b{batch_id}.s{sub}"} if executes_sql \
                        else {}
                    self.sink.process_batch(part, batch_id, **kw)

                def apply_ddl(d) -> None:
                    self.registry.append(self.spark, d, idempotent=True)
                    if (executes_sql and d.schema_name and d.table_name
                            and d.table_id is not None):
                        self.sink.exec_ddl(
                            d.query, d.schema_name, d.table_name, d.table_id)
                        # downstream ddl_ts_v1 watermark (mysql_writer.go:
                        # 280-340): dropped tables lose their row, every
                        # other DDL upserts it
                        if d.query.strip().upper().startswith("DROP TABLE"):
                            self.sink.record_ddl_ts(
                                d.commit_ts, [], drop_table_ids=[d.table_id])
                        else:
                            self.sink.record_ddl_ts(d.commit_ts, [d.table_id])
                    self._ddl_applied.add(d.commit_ts)

                # prepared is persisted here, so the split owns no cache
                split_batch_at_ddl(prepared, due, apply_dml, apply_ddl)
            if summary is None:
                summary = _summarize(prepared)
                lo, hi = commit_range(summary)
            # K4 progress + K5 syncpoint ticks: once per micro-batch,
            # after the sink committed, however the barriers split it
            ticks = self.bookkeeping.record(prepared.sparkSession, summary,
                                            batch_id)
            if ticks and isinstance(self.sink, SqliteApplySink):
                # the downstream tidb_cdc syncpoint_v1 rows a real
                # MySQL-sink consumer reads (K5 on the executable sink)
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
