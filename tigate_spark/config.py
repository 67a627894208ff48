"""Changefeed configuration — the engine's "query language".

Reference parity: ``ChangefeedConfig`` (``pkg/config/changefeed.go:21-38``)
+ filter config (``pkg/config/filter.go:21-46``) + sink config column
selectors / dispatch rules (``pkg/config/sink.go``). A changefeed here is a
declarative pipeline spec compiled to a DataFrame plan (batch) or a
Structured Streaming query (stream).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EventFilterRule:
    """Per-table-matcher event filter (``pkg/config/filter.go:36-46``)."""

    matcher: list[str] = field(default_factory=lambda: ["*.*"])
    ignore_event: list[str] = field(default_factory=list)  # {"insert","update","delete"} or DDL classes
    ignore_sql: list[str] = field(default_factory=list)  # regex on DDL query text
    ignore_insert_value_expr: str | None = None
    ignore_update_new_value_expr: str | None = None
    ignore_update_old_value_expr: str | None = None
    ignore_delete_value_expr: str | None = None


@dataclass
class FilterConfig:
    """``pkg/config/filter.go:21-25``: rules + ignore-txn-start-ts + event filters."""

    rules: list[str] = field(default_factory=lambda: ["*.*"])
    ignore_txn_start_ts: list[int] = field(default_factory=list)
    event_filters: list[EventFilterRule] = field(default_factory=list)


@dataclass
class ColumnSelector:
    """``pkg/common/columnselector/column_selector.go:23-101``.

    An empty ``columns`` rule list is rejected here (it would select
    nothing — ParseColumnFilter matches nothing on zero rules — which
    can only be a config mistake; the reference's selector is always
    built from at least one rule string)."""

    matcher: list[str] = field(default_factory=lambda: ["*.*"])
    columns: list[str] = field(default_factory=lambda: ["*"])

    def __post_init__(self) -> None:
        if not self.columns:
            raise ValueError(
                "ColumnSelector.columns must list at least one rule "
                "(empty rules would select no columns)")


@dataclass
class DispatchRule:
    """Event-router rule (``eventrouter/event_router.go:27-66``)."""

    matcher: list[str] = field(default_factory=lambda: ["*.*"])
    topic: str = "{schema}_{table}"
    partition: str = "index-value"  # default | table | ts | index-value | columns | key
    partition_columns: list[str] = field(default_factory=list)
    key: str | None = None


@dataclass
class CSVConfig:
    """CSV codec config for the storage sink (``pkg/config/sink.go:
    250-268`` CSVConfig; validation mirror of ``validateAndAdjust``
    :270-325). The line layout is the fixed storage-row shape (op,
    schema, table, [commit_ts,] cols...)."""

    delimiter: str = ","
    quote: str = '"'
    null_string: str = "\\N"
    include_commit_ts: bool = True
    binary_encoding_method: str = "hex"  # hex | base64

    def validate(self) -> None:
        cr, lf = "\r", "\n"
        if len(self.quote) > 1:
            raise ValueError(
                "csv config quote contains more than one character")
        if self.quote and self.quote in (cr, lf):
            raise ValueError(
                "csv config quote cannot be line break character")
        if not self.delimiter:
            raise ValueError("csv config delimiter cannot be empty")
        if len(self.delimiter) > 3:
            raise ValueError(
                "csv config delimiter contains more than three characters")
        if cr in self.delimiter or lf in self.delimiter:
            raise ValueError(
                "csv config delimiter contains line break characters")
        if self.quote and any(ch in self.quote for ch in self.delimiter):
            raise ValueError(
                "csv config quote and delimiter has common characters "
                "which is not allowed")
        if self.binary_encoding_method not in ("hex", "base64"):
            raise ValueError(
                "csv config binary-encoding-method can only be hex "
                "or base64")


@dataclass
class SinkConfig:
    protocol: str = "canal-json"  # canal-json | open-protocol | avro (changelog) | csv (storage)
    #: storage-sink directory date layer: none | year | month | day
    #: (`csv_storage_basic/conf/changefeed.toml:6`)
    date_separator: str = "day"
    only_output_updated_columns: bool = False
    #: canal-json adapter-compatibility rendering (sink URI
    #: ``content-compatible=true``; common/config.go:65,262-265): full
    #: mysqlType descriptors + forces only_output_updated_columns
    content_compatible: bool = False
    large_message_handle: str | None = None  # None | handle-key-only | claim-check
    #: max-message-bytes twin — default matches the reference's
    #: DefaultMaxMessageBytes = 10 MiB (pkg/config/sink.go:35), so a
    #: default-config feed delivers the same 1-10 MiB messages the
    #: reference would rather than failing the ErrMessageTooLarge guard
    large_message_threshold: int = 10 * 1024 * 1024
    column_selectors: list[ColumnSelector] = field(default_factory=list)
    dispatch_rules: list[DispatchRule] = field(default_factory=list)
    num_partitions: int = 16
    #: storage-sink dated-file retention (sink.go:694
    #: `file-expiration-days`): dt= partitions older than this many days
    #: behind the newest are pruned; None keeps everything
    file_expiration_days: int | None = None
    #: transaction-atomicity (pkg/config/sink.go:39-49): 'none' (default,
    #: ShouldSplitTxn=true) | 'table' (single-table upstream txns apply
    #: atomically downstream; rejected on MQ schemes, sink.go:114-123)
    txn_atomicity: str = "none"
    #: csv codec tuning for the storage sink ([sink.csv] in the
    #: reference's changefeed.toml); None keeps the default line format
    csv: CSVConfig | None = None
    #: per-message VALUE compression, applied by the open codec before
    #: framing (open/codec.go:85,120 via common/compress.go; configured
    #: as large-message-handle-compression, large_message.go:33).
    #: none|gzip|zlib|lz4|snappy executable here (lz4/snappy via the
    #: from-spec twins when the native libs are absent)
    compression: str = "none"
    #: PRODUCER transport compression — the kafka sink URI's own
    #: `compression` param (options.go:106,246), applied by the client
    #: to record batches in flight and transparent to consumers
    #: (sarama.go:79-94: none|gzip|snappy|lz4|zstd, unknown values WARN
    #: and fall back to none rather than failing the changefeed)
    kafka_compression: str = "none"
    #: producer required-acks (options.go:68-98 + URI form
    #: `required-acks`): -1 WaitForAll (default), 1 WaitForLocal,
    #: 0 NoResponse; anything else is ErrKafkaInvalidRequiredAcks at
    #: create time
    required_acks: int = -1
    #: topic replication factor at create (options.go:103, default 1)
    replication_factor: int = 1
    #: auto-create-topic (options.go:108, default true): when false the
    #: producer only queries the existing topic and errors if absent
    auto_create_topic: bool = True
    #: raw client params from the kafka URI (options.go:104-128:
    #: kafka-client-id, dial/read/write timeouts, SASL + TLS families,
    #: kafka-version) — translated to librdkafka keys by
    #: streaming.kafka_clients.client_config_from_params
    kafka_client_params: dict = field(default_factory=dict)
    #: simple-protocol marshaller dispatch (``pkg/sink/codec/simple/
    #: marshaller.go:50-56`` EncodingFormat): 'json' (the default) or
    #: 'avro' (the embedded com.pingcap.simple.avro binary wire). Only
    #: meaningful for protocol='simple' — validated at create
    encoding_format: str = "json"

    def validate(self, scheme: str) -> None:
        """Create-time checks of the options every sink scheme shares
        (pkg/config/sink.go AdjustAndValidate): an option a protocol
        would silently ignore is rejected, like the reference's
        per-protocol validation."""
        if self.txn_atomicity not in ("", "none", "table"):
            # AtomicityLevel.validate (pkg/config/sink.go:114-129)
            raise ValueError(
                f"{self.txn_atomicity} level atomicity is not "
                f"supported by {scheme} scheme")
        if (self.large_message_handle not in (None, "", "none")
                and self.protocol not in
                ("canal-json", "open-protocol", "simple")):
            # large_message.go:61-77: '' / 'none' means disabled; an
            # enabled handle is only defined for the open/simple/canal
            # families — avro's Confluent framing has no `message`
            # column for claim-check/handle-key-only to operate on
            raise ValueError(
                f"large message handle is set to "
                f"{self.large_message_handle}, protocol is "
                f"{self.protocol}, it's not supported")
        if self.encoding_format not in ("", "json", "avro"):
            # marshaller.go:50-56: the simple codec dispatches on
            # EncodingFormat json|avro only
            raise ValueError(
                f"unknown encoding-format {self.encoding_format!r}, "
                "only json and avro are supported")
        if self.encoding_format == "avro" and self.protocol != "simple":
            raise ValueError(
                f"encoding-format avro is not supported by protocol "
                f"{self.protocol}")
        if self.compression not in ("", "none"):
            # compression.Supported (large_message.go:57-59); only the
            # open codec applies value compression (open/codec.go:85,120)
            from tigate_spark.functions.compress import ensure_supported

            ensure_supported(self.compression)
            if self.protocol != "open-protocol":
                raise ValueError(
                    f"compression {self.compression} is not "
                    f"supported by protocol {self.protocol}")


@dataclass
class ConsistentConfig:
    """Redo-log / consistent-replication config
    (``pkg/config/consistent.go:28-67``): ``level='eventual'`` enables
    the write-ahead redo log so a lost downstream can be restored to a
    consistent resolved-ts point (``cdc redo apply``)."""

    level: str = "none"  # none | eventual
    storage: str = ""  # redo storage path (the storage URI)
    compression: str = ""  # '' | none | lz4 (consistent.go:56-59)

    def enabled(self) -> bool:
        return self.level == "eventual"

    def validate(self) -> None:
        """ValidateAndAdjust parity (consistent.go:77-120)."""
        if self.level not in ("none", "eventual"):
            raise ValueError(
                f"consistent.level must be none|eventual, got {self.level!r}")
        if not self.enabled():
            return
        if self.compression not in ("", "none", "lz4"):
            raise ValueError(
                f"consistent.compression must be 'none' or 'lz4', got "
                f"{self.compression!r}")
        if not self.storage:
            raise ValueError("consistent.storage is required when "
                             "level='eventual'")


@dataclass
class ChangefeedConfig:
    """``pkg/config/changefeed.go:21-38`` equivalent."""

    changefeed_id: str = "default"
    sink_uri: str = "noop://"
    start_ts: int = 0
    target_ts: int | None = None
    filter: FilterConfig = field(default_factory=FilterConfig)
    sink: SinkConfig = field(default_factory=SinkConfig)
    #: dated-path / render timezone (changefeed.go:27 `timezone`,
    #: default "system"; mysql sink URI `time-zone`). None = the
    #: engine's UTC time base
    timezone: str | None = None
    #: redo log (consistent replication, pkg/config/consistent.go):
    #: level='eventual' write-ahead-logs every micro-batch before the
    #: sink applies it, so redo_apply can restore a lost downstream
    consistent: ConsistentConfig = field(default_factory=ConsistentConfig)
    #: bidirectional-replication mode (replica_config.go:148 `bdr-mode`):
    #: a BDR feed replicates only application writes (source_id == 0 —
    #: rows written by any CDC carry a nonzero write source, the
    #: tidb_cdc_write_source tag) and only PRIMARY-role DDLs
    bdr_mode: bool = False
    #: this feed's write-source id, tagged onto every executable-sink
    #: txn (mysql helper.go:334-343 SetWriteSource; default SourceID 1)
    source_id: int = 1
    enable_sync_point: bool = False
    sync_point_interval_s: int = 3600
    #: ts-map retention (changefeed.go:36 SyncPointRetention, reference
    #: default 24h): expired ticks are pruned bucket-wise (sinks.py
    #: Bookkeeping). None keeps every tick — safe here because the
    #: ts-map is replayable parquet, not a shared downstream table
    sync_point_retention_s: int | None = None
    #: source rate limit per micro-batch — the engine's backpressure knob
    #: (reference: MemoryQuota ``changefeed.go:21-38`` + dynstream pause/
    #: resume; Spark-native form is bounding batch size at the source)
    max_files_per_trigger: int = 1
    #: source file format: parquet (default) | jsonl | csv — the text
    #: formats read with the explicit flat-events schema
    #: (sources/formats.py), proving the changefeed is source-format
    #: agnostic end to end
    source_format: str = "parquet"
    #: partition-table routing (DMLEvent.PhysicalTableID fan-in,
    #: dml_event.go:20-61; scenario partition_table/): versioned
    #: physical→logical rows ``(physical_table_id, valid_from_ts,
    #: table_id, schema_name, table_name)`` — see
    #: operators/partitions.py. None/empty = no partitioned upstream
    #: tables; sources tag partitions via a ``_physical_table_id``
    #: column
    partition_mappings: list | None = None
    #: full-width replicated schema beyond the canonical payload:
    #: ``(column, spark_sql_expr, sqlite_decl)`` triples — the mounted
    #: per-version typed projection of the table's full TableInfo (T3;
    #: the reference's writer always renders/applies every schema
    #: column, sql_builder.go getColumnList). Each expr evaluates over
    #: the canonical change row after normalize; executable sinks
    #: create lane tables with the widened DDL and render the widened
    #: statements, the replica sink extends its payload columns
    wide_payload: tuple = ()

    def __post_init__(self) -> None:
        # JSON round-trips render tuples as lists — normalize so a
        # config rebuilt from its dict form compares equal
        self.wide_payload = tuple(
            tuple(t) for t in (self.wide_payload or ()))


def _build(cls, data: dict):
    """Construct a config dataclass from a plain dict, ignoring unknown
    keys (forward compatibility, like the reference's JSON binding)."""
    import dataclasses

    kwargs = {}
    for f in dataclasses.fields(cls):
        if f.name not in data:
            continue
        v = data[f.name]
        if f.name == "filter" and isinstance(v, dict):
            v = _build(FilterConfig, v)
        elif f.name == "sink" and isinstance(v, dict):
            v = _build(SinkConfig, v)
        elif f.name == "consistent" and isinstance(v, dict):
            v = _build(ConsistentConfig, v)
        elif f.name == "csv" and isinstance(v, dict):
            v = _build(CSVConfig, v)
        elif f.name == "event_filters":
            v = [_build(EventFilterRule, x) if isinstance(x, dict) else x for x in v]
        elif f.name == "column_selectors":
            v = [_build(ColumnSelector, x) if isinstance(x, dict) else x for x in v]
        elif f.name == "dispatch_rules":
            v = [_build(DispatchRule, x) if isinstance(x, dict) else x for x in v]
        kwargs[f.name] = v
    return cls(**kwargs)


def changefeed_config_from_dict(data: dict) -> ChangefeedConfig:
    """The POST /api/v2/changefeeds request body → ChangefeedConfig
    (``api/v2/changefeed.go:51-120`` JSON binding equivalent)."""
    return _build(ChangefeedConfig, data)


def changefeed_config_to_dict(cfg: ChangefeedConfig) -> dict:
    import dataclasses

    return dataclasses.asdict(cfg)
