"""foreachBatch sinks K1–K6 (SURVEY §2.7) for the streaming changefeed.

Reference parity:
- K1 MySQL/TiDB sink: txn-batched ordered apply, safe-mode REPLACE +
  delete-by-pk idempotent replay (``pkg/sink/mysql/mysql_writer.go:727-755``,
  ``:686-691``; SQL shapes ``pkg/sink/mysql/sql_builder.go:56-205``).
  Here: :class:`ReplicaSink` — last-writer-wins MERGE of each micro-batch
  into a parquet replica. At lake scale the same ``process_batch`` body is
  a Delta/Iceberg ``MERGE INTO``; the union+max_by merge below is the
  engine-neutral formulation (one shuffle on the key, map-side combinable).
  Its commit metadata is small and lives on the driver, as a sink's
  commit log does in Structured Streaming: each sink instance loads the
  manifest (every table's current version, and each version's state
  schema) once and advances it after every commit, so a batch reads only
  its touched tables' version dirs, never the manifest or the whole data
  tree.
- K2 Kafka sink (``downstreamadapter/sink/kafka_sink.go``; DML worker
  ``kafka_dml_worker.go:107-369``): :class:`ChangelogSink` — router columns
  (topic, partition, key) + protocol encoding appended to a partitioned
  parquet changelog (Kafka stand-in; the container has no broker). Same
  at-least-once contract as the reference MQ sink.
- K3 blackhole (``downstreamadapter/sink/blackhole.go``): :class:`NoopSink`.
- K4 ddl-ts bookkeeping (``mysql_writer.go:280-330``) and
  T5/T11 progress: the changefeed appends per-batch checkpoint rows
  (batch_id, table_id, resolved_ts, n_events) to a bookkeeping table
  through :class:`Bookkeeping`, once per micro-batch after the sink
  wrote it, from the batch's one driver-side per-table summary — the
  sinks only write, as the reference's sinks do while its dispatcher
  tracks table progress (``table_progress.go:24-44``).
- K5 syncpoint ts-map (``mysql_writer.go:154-200,525-545``): aligned ticks
  appended per batch when sync point is enabled (T7,
  ``downstreamadapter/syncpoint/syncpoint.go:15-22``), derived on the
  driver from the batch's commit range.

Deletes are kept as tombstones in the replica state so a late/replayed
older change cannot resurrect a deleted key (the stale-drop guarantee T9,
``dispatcher.go:271-279``, falls out of max_by on the total order).
:func:`read_replica` exposes the live view; tombstones below the global
checkpoint are GC-able (T12, ``logservice/eventstore/gc.go`` equivalent —
here a ``VACUUM``-style rewrite, left to the store).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tigate_spark.operators.ordering import op_rank_col

#: replica state layout (manifest-versioned, Delta-log-style)
_MANIFEST = "_manifest"
_DATA = "data"
#: manifest file footer key holding the version's state schema (Spark JSON)
_SCHEMA_KEY = b"tigate.state_schema"
#: one manifest file per committed version; compactions write checkpoints
_MANIFEST_NAME = re.compile(r"^(\d+)(\.checkpoint)?\.parquet$")


def _manifest_file(state_dir: str, version: int,
                   checkpoint: bool = False) -> str:
    kind = ".checkpoint" if checkpoint else ""
    return os.path.join(state_dir, _MANIFEST, f"{version:020d}{kind}.parquet")


def _version_dir(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, _DATA, f"v={version}")


def _write_parquet_atomic(table: pa.Table, path: str) -> None:
    """Write a small driver-side table as one parquet file. Readers skip
    the dot-prefixed temp name, so the file appears whole or not at all."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.{uuid.uuid4().hex[:8]}")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _write_manifest(state_dir: str, version: int, tables: list[int],
                    schema: StructType, checkpoint: bool = False) -> None:
    """The commit point of a version: its (table_id, version) rows, with
    the version's state schema in the file footer."""
    rows = pa.table({
        "table_id": pa.array(tables, pa.int64()),
        "version": pa.array([version] * len(tables), pa.int64()),
    }).replace_schema_metadata({_SCHEMA_KEY: schema.json().encode()})
    _write_parquet_atomic(rows, _manifest_file(state_dir, version, checkpoint))


@dataclass
class _Manifest:
    """Driver-side snapshot of a replica's manifest: each table's current
    version, each live version's state schema and table count, the newest
    version and the newest checkpoint (a compaction's full snapshot; the
    versions before it are dead). Small: O(tables) ints plus at most
    ``compact_every`` + 1 schemas."""

    current: dict[int, int] = field(default_factory=dict)
    schemas: dict[int, StructType] = field(default_factory=dict)
    sizes: dict[int, int] = field(default_factory=dict)
    newest: int = 0
    checkpoint: int = 0

    @classmethod
    def load(cls, state_dir: str, as_of: int | None = None) -> _Manifest:
        """Read the manifest files (at most versions ≤ ``as_of``) from
        the newest checkpoint on. One listing of ``_manifest``, which
        compaction keeps at ``compact_every`` + 1 files."""
        mdir = os.path.join(state_dir, _MANIFEST)
        files: dict[int, tuple[str, bool]] = {}
        for name in os.listdir(mdir) if os.path.isdir(mdir) else ():
            m = _MANIFEST_NAME.match(name)
            if m is None or (as_of is not None and int(m[1]) > as_of):
                continue
            v, cp = int(m[1]), m[2] is not None
            if cp or v not in files:
                files[v] = (os.path.join(mdir, name), cp)
        snap = cls()
        base = max((v for v, (_, cp) in files.items() if cp), default=0)
        for v in sorted(files):
            if v >= base:
                path, cp = files[v]
                t = pq.read_table(path)
                schema = StructType.fromJson(
                    json.loads(t.schema.metadata[_SCHEMA_KEY]))
                snap.advance(v, t.column("table_id").to_pylist(), schema, cp)
        return snap

    def advance(self, version: int, tables: list[int], schema: StructType,
                checkpoint: bool = False) -> None:
        """Apply one committed version (a checkpoint replaces everything)."""
        if checkpoint:
            self.current, self.schemas, self.sizes = {}, {}, {}
            self.checkpoint = version
        for t in tables:
            self.current[t] = version
        self.schemas[version] = schema
        self.sizes[version] = len(tables)
        self.newest = version

    @property
    def n_versions(self) -> int:
        return len(self.schemas)

    def stale(self, state_dir: str) -> bool:
        """Whether another writer (a second sink, :func:`vacuum_tombstones`)
        committed past this snapshot: the next version's manifest file
        exists, or the newest one is gone (a compaction removed it —
        in ascending version order, so while it is there every later file
        is too). At most three existence checks, no listing."""
        if not self.newest:
            return os.path.isdir(os.path.join(state_dir, _MANIFEST))
        if not os.path.exists(_manifest_file(
                state_dir, self.newest, self.newest == self.checkpoint)):
            return True
        return any(os.path.exists(_manifest_file(state_dir, self.newest + 1, cp))
                   for cp in (False, True))


def _scan(spark: SparkSession, state_dir: str, snap: _Manifest,
          tables: list[int] | None = None) -> DataFrame | None:
    """The one reader of the layout: the state rows (tombstones included)
    of ``tables`` — every table when None — at their version in ``snap``,
    or None if none of them has state.

    Each version dir is read with its own ``basePath`` and its schema
    from the manifest, so ``v=`` never becomes a column and no column is
    joined in: a payload column may carry any name. Named tables read
    their ``table_id=`` dirs only. A full read takes a version dir whole
    when every table it wrote is still current there, and semi-joins it
    against its current tables otherwise; a version dir a crash left
    without a manifest file is never read."""
    by_version: dict[int, list[int]] = {}
    for t in snap.current if tables is None else tables:
        if t in snap.current:
            by_version.setdefault(snap.current[t], []).append(t)
    parts = []
    for v, ts in sorted(by_version.items()):
        vdir = _version_dir(state_dir, v)
        reader = spark.read.schema(snap.schemas[v]).option("basePath", vdir)
        if tables is not None:
            df = reader.parquet(*[os.path.join(vdir, f"table_id={t}")
                                  for t in ts])
        elif len(ts) == snap.sizes[v]:
            df = reader.parquet(vdir)
        else:
            keep = spark.createDataFrame([(t,) for t in ts], "table_id bigint")
            df = reader.parquet(vdir).join(F.broadcast(keep), "table_id",
                                           "left_semi")
        parts.append(df.withColumn("table_id", F.col("table_id").cast("bigint")))
    if not parts:
        return None
    # schema evolution: a version written before a DDL lacks the evolved
    # payload columns — the union by name NULL-fills them (the parquet
    # replica's ALTER ... ADD COLUMN semantics)
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _full_state(spark: SparkSession, state_dir: str,
                snap: _Manifest) -> DataFrame | None:
    """Every table's current state, or None before the first commit."""
    if not snap.newest:
        return None
    state = _scan(spark, state_dir, snap)
    if state is None:  # every table vacuumed away
        return spark.createDataFrame([], snap.schemas[snap.newest])
    return state


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Full current replica state (tombstones included), or None if no
    batch has committed yet."""
    return _full_state(spark, state_dir, _Manifest.load(state_dir))


def read_state_as_of(spark: SparkSession, state_dir: str,
                     version: int) -> DataFrame | None:
    """Time travel: the replica state as of manifest ``version`` —
    every table resolved at its largest version ≤ ``version`` (a table
    untouched since an earlier batch reads its older version dir). The
    manifest-versioned layout gives this for free, exactly like Delta's
    ``VERSION AS OF``; retention lasts until :meth:`ReplicaSink.compact`
    reclaims superseded versions (the VACUUM analogue — after a compact,
    only versions at/after the snapshot remain addressable). Returns
    None if no manifest row is ≤ ``version``."""
    return _full_state(spark, state_dir,
                       _Manifest.load(state_dir, as_of=version))


def commit_range(summary: list) -> tuple[int | None, int | None]:
    """A batch's (min, max) commit_ts from its per-table summary rows
    ``(table_id, min commit_ts, max commit_ts, count)``; (None, None)
    for an empty batch."""
    return (min((r[1] for r in summary), default=None),
            max((r[2] for r in summary), default=None))


class Bookkeeping:
    """K4/K5/T11 side tables appended per micro-batch.

    ``sync_point_retention_us`` enables the reference's ts-map cleanup
    (``mysql_writer.go:215-238``: DELETE rows older than
    SyncPointRetention, default 24h, throttled to once per interval).
    The Spark-native form keeps the pruning O(live buckets), never
    O(accumulated ticks): ticks land under a coarse ``sp_epoch=<n>``
    partition dir (bucket = retention/4 of EVENT time — the stream's
    clock here, where the reference uses the downstream wall clock) and
    expired buckets are dropped driver-side by directory name alone —
    a listdir of the ~5 live buckets, zero Spark jobs, no rewrite of
    surviving rows. Default None keeps every tick: the engine's ts-map
    is replayable parquet, not a shared downstream table, so unbounded
    retention is safe where the reference's MySQL table is not — set it
    to get the reference behavior."""

    def __init__(self, base_dir: str, sync_point_us: int | None = None,
                 sync_point_retention_us: int | None = None):
        self.base_dir = base_dir
        self.progress_dir = os.path.join(base_dir, "table_progress")
        self.syncpoint_dir = os.path.join(base_dir, "syncpoint")
        self.sync_point_us = sync_point_us
        self.sync_point_retention_us = sync_point_retention_us

    def _prune_syncpoint(self) -> None:
        """Drop sp_epoch buckets entirely below newest - retention."""
        try:
            buckets = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(self.syncpoint_dir)
                if d.startswith("sp_epoch=")
            )
        except FileNotFoundError:
            return
        if not buckets:
            return
        # bucket = retention/4: a bucket is expired once 4 newer buckets
        # exist (every tick in it is > retention older than the newest)
        for b in buckets:
            if b < buckets[-1] - 4:
                shutil.rmtree(
                    os.path.join(self.syncpoint_dir, f"sp_epoch={b}"),
                    ignore_errors=True,
                )

    def record(self, spark: SparkSession, summary: list,
               batch_id: int) -> list[int]:
        """Append the batch's per-table progress rows and, with sync point
        on, its syncpoint ticks; return the ticks. ``summary`` is the
        batch's driver-side ``(table_id, min commit_ts, max commit_ts,
        count)`` rows, which the changefeed collects once per batch; the
        progress rows are written from it with no Spark job."""
        _write_parquet_atomic(pa.table({
            "table_id": pa.array([r[0] for r in summary], pa.int64()),
            "resolved_ts": pa.array([r[2] for r in summary], pa.int64()),
            "n_events": pa.array([r[3] for r in summary], pa.int64()),
            "batch_id": pa.array([batch_id] * len(summary), pa.int32()),
        }), os.path.join(self.progress_dir,
                         f"part-{batch_id:05d}-{uuid.uuid4().hex}.parquet"))
        if not self.sync_point_us:
            return []
        iv = self.sync_point_us
        lo, hi = commit_range(summary)
        # aligned ticks covered by this batch: CalculateStartSyncPointTs
        # rounds up to the next interval boundary (syncpoint.go:15-22); a
        # batch inside one interval crosses none. K5 ts-map rows are
        # (primary_ts, secondary_ts) pairs like the reference syncpoint_v1
        # table (mysql_writer.go:528-542, :154-185: secondary_ts =
        # downstream current ts when the tick is written); here the
        # downstream position at tick time is the batch's max applied
        # commit_ts.
        ticks = [] if hi is None else list(
            range((lo // iv + 1) * iv, (hi // iv) * iv + 1, iv))
        rows = [(t, hi, batch_id) for t in ticks]
        schema = "primary_ts bigint, secondary_ts bigint, batch_id int"
        if self.sync_point_retention_us:
            bucket = max(self.sync_point_retention_us // 4, 1)
            (spark.createDataFrame([r + (r[0] // bucket,) for r in rows],
                                   schema + ", sp_epoch bigint")
             .write.partitionBy("sp_epoch")
             .mode("append").parquet(self.syncpoint_dir))
            self._prune_syncpoint()
        else:
            (spark.createDataFrame(rows, schema)
             .write.mode("append").parquet(self.syncpoint_dir))
        return ticks


class ReplicaSink:
    """K1: merge each micro-batch into a materialized replica (parquet).

    State schema: (table_id, pk, op, commit_ts, start_ts, seq,
    *payload_cols) — the winning change per key plus its order key, so the
    next merge's max_by is a pure union+agg (idempotent under replay).

    Storage is manifest-versioned (a Delta-log commit protocol in
    miniature)::

        state_dir/_manifest/<n>.parquet     (table_id, version) rows of
                                            version n; footer: its schema
        state_dir/_manifest/<n>.checkpoint.parquet   a compaction's rows
        state_dir/data/v=<n>/table_id=<id>/*.parquet

    Each batch writes ONLY the touched tables' winner rows into a fresh
    ``v=<n>`` directory, then commits it with one manifest file of
    O(touched) rows written from the driver: data first, manifest second,
    so a version dir without its manifest file stays invisible.

    The sink keeps its manifest on the driver (:class:`_Manifest`): each
    table's current version, the newest version, the live version count
    and each version's state schema. It is loaded from disk once per sink
    instance (so a restart reloads it) and advanced only after a manifest
    file has landed. A batch therefore collects its touched table ids,
    reads just those tables' current ``table_id=`` dirs with the schema
    from the manifest (no manifest scan or aggregate, no footer-merged
    schema, no listing of the data tree), merges with one ``max_by``
    shuffle and commits: 4 Spark jobs. At most three existence checks
    per batch detect another writer (a second sink,
    :func:`vacuum_tombstones`) and reload the manifest, so no committed
    version number is reused.

    The collect is O(touched), not O(tables): at the reference's
    >1M-table design point (``README.md:5``) a micro-batch touches the
    tables its changes name, bounded by its rows, and the driver holds
    only their ids — the same bound as the manifest rows it writes. The
    driver snapshot itself is O(tables) small ints, what a Delta log
    replay holds. There is no per-table listdir/hard-link loop and no
    POSIX dir rename, so the layout holds on object stores. Superseded
    versions are reclaimed by the amortized :meth:`compact` (Delta
    checkpoint + VACUUM equivalent), triggered once more than
    ``compact_every`` versions are live. A crash between the data write
    and the manifest file leaves an orphan version dir — invisible to
    readers, clobbered by the replayed batch (same next version), swept
    by the next compact. Production deployments point the same
    ``process_batch`` body at a transactional table format (Delta/Iceberg
    ``MERGE INTO``).
    """

    def __init__(self, state_dir: str, payload_cols: list[str],
                 compact_every: int = 16):
        self.state_dir = state_dir
        self.payload_cols = payload_cols
        self.compact_every = max(2, compact_every)
        self._snapshot: _Manifest | None = None

    def _manifest(self) -> _Manifest:
        """The driver snapshot, loaded on first use and reloaded when
        another writer has committed past it."""
        if self._snapshot is None or self._snapshot.stale(self.state_dir):
            self._snapshot = _Manifest.load(self.state_dir)
        return self._snapshot

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch into the versioned replica."""
        spark = batch_df.sparkSession
        snap = self._manifest()
        cols = ["table_id", "pk", "op", "commit_ts", "start_ts", "seq",
                *[c for c in self.payload_cols if c in batch_df.columns]]
        incoming = batch_df.select(*cols)
        touched = [r[0] for r in
                   incoming.select("table_id").distinct().collect()]
        if not touched:
            return
        prev = _scan(spark, self.state_dir, snap, touched)
        merged_src = incoming
        if prev is not None:
            # schema evolution across the DDL barrier: a payload column
            # may exist on only one side (post-DDL batch into pre-DDL
            # state, or a replayed pre-DDL batch into evolved state) —
            # union by name NULL-fills the missing side, and the winner
            # struct below re-derives from the union schema
            merged_src = incoming.unionByName(prev, allowMissingColumns=True)
        cols = merged_src.columns
        # one shuffle: max_by over the exact total order (commit_ts,
        # start_ts, D<U<I, seq) — the winner keeps its full order key so
        # cross-batch ties at the same commit_ts still resolve correctly
        order_key = F.struct(
            F.col("commit_ts"), F.col("start_ts"), op_rank_col(), F.col("seq")
        )
        payload = F.struct(*[F.col(c) for c in cols if c not in ("table_id", "pk")])
        agg = merged_src.groupBy("table_id", "pk").agg(
            F.max_by(payload, order_key).alias("w")
        )
        new_state = agg.select(
            "table_id", "pk",
            *[F.col(f"w.{c}").alias(c) for c in cols if c not in ("table_id", "pk")],
        )
        # data first, manifest second: rows are visible only once their
        # manifest file lands (the commit point); the snapshot advances
        # only after that
        version = snap.newest + 1
        new_state.write.mode("overwrite").partitionBy("table_id").parquet(
            _version_dir(self.state_dir, version))
        _write_manifest(self.state_dir, version, touched, new_state.schema)
        snap.advance(version, touched, new_state.schema)
        if snap.n_versions > self.compact_every:
            self.compact(spark)

    def compact(self, spark: SparkSession) -> None:
        """Amortized checkpoint: rewrite the full current state into one
        new version, write its checkpoint manifest file, then drop
        superseded version dirs and manifest files. Crash-safe in every
        prefix: readers start from the newest checkpoint as soon as it
        lands, and cleanup is redone by the next compact."""
        snap = self._manifest()
        state = _full_state(spark, self.state_dir, snap)
        if state is not None:
            self._snapshot = _checkpoint_state(spark, self.state_dir, state,
                                               snap)

    def live(self, spark: SparkSession) -> DataFrame:
        """The replica's live view (tombstones filtered)."""
        return read_replica(spark, self.state_dir)


def _checkpoint_state(spark: SparkSession, state_dir: str,
                      new_state: DataFrame, snap: _Manifest) -> _Manifest:
    """Write ``new_state`` as a full snapshot version and supersede the
    manifest with its checkpoint file; return the new snapshot. The
    checkpoint lists the tables that still hold rows (a table vacuumed
    empty leaves the manifest; readers ignore every version before a
    checkpoint, so it cannot resurrect through an old one). Listing the
    snapshot dir and the cleanup are driver-side but amortized (once
    per ``compact_every`` commits) and best-effort — a crash mid-cleanup
    only leaves unreferenced garbage."""
    version = snap.newest + 1
    vdir = _version_dir(state_dir, version)
    new_state.write.mode("overwrite").partitionBy("table_id").parquet(vdir)
    tables = sorted(int(d.split("=", 1)[1]) for d in os.listdir(vdir)
                    if d.startswith("table_id="))
    _write_manifest(state_dir, version, tables, new_state.schema,
                    checkpoint=True)
    mdir = os.path.join(state_dir, _MANIFEST)
    old = sorted((int(m[1]), name) for name in os.listdir(mdir)
                 if (m := _MANIFEST_NAME.match(name)) and int(m[1]) < version)
    # ascending: while a snapshot's newest file survives, so does every
    # later one (what _Manifest.stale relies on)
    for _, name in old:
        try:
            os.remove(os.path.join(mdir, name))
        except OSError:
            pass
    for d in glob.glob(os.path.join(state_dir, _DATA, "v=*")):
        if os.path.basename(d) != f"v={version}":
            shutil.rmtree(d, ignore_errors=True)
    out = _Manifest()
    out.advance(version, tables, new_state.schema, checkpoint=True)
    return out


def read_replica(spark: SparkSession, state_dir: str) -> DataFrame:
    state = read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no committed replica state at {state_dir}")
    return state.filter(F.col("op") != "D").drop("op")


class ChangelogSink:
    """K2: encoded + routed changelog appended to parquet (Kafka stand-in).

    Expects the batch already carries ``topic``/``partition``/``message``
    (or key/value) columns from the routing+encoding stages; partitions the
    files by topic like Kafka partitions by topic.

    ``producer`` is the Kafka transport seam (``streaming/kafka.py`` —
    the DBAPI-seam pattern applied to the MQ side): None keeps the
    default parquet write below; an injected producer instead routes
    every message through ``produce_partition`` on the executors, with
    admin topic-create/partition-count queries driver-side and
    retriable produce errors resent (broker-side sequence dedup keeps
    the resend duplicate-free — the idempotent-producer contract,
    sarama_factory.go/admin.go)."""

    def __init__(self, out_dir: str, producer=None,
                 num_partitions: int = 16):
        self.out_dir = out_dir
        #: K6: resolved-ts broadcast — one checkpoint message per topic per
        #: batch so consumers can advance without waiting for data
        #: (kafka_ddl_worker.go checkpoint loop; event_broker.go:579-606)
        self.checkpoint_dir = out_dir.rstrip("/") + "_checkpoint"
        self.producer = producer
        self.num_partitions = num_partitions

    def _produce_batch(self, df: DataFrame, batch_id: int) -> None:
        from tigate_spark.streaming.kafka import produce_with_retry

        producer = self.producer
        # admin pass (driver-side, O(topics) like the reference's
        # ClusterAdminClient): create-or-get each topic and route by the
        # ACTUAL partition count (admin.go GetTopicPartitionNum)
        topics = [r["topic"] for r in df.select("topic").distinct().collect()]
        counts = {t: producer.ensure_topic(t, self.num_partitions)
                  for t in topics}
        msg_col = "message" if "message" in df.columns else "value"
        key_col = "key" if "key" in df.columns else None

        def run_partition(rows) -> None:
            groups: dict[tuple, list] = {}
            for r in rows:
                eff = int(r["partition"]) % counts[r["topic"]]
                groups.setdefault((r["topic"], eff), []).append({
                    "seq": int(r["seq"]),
                    "key": r["key"] if key_col else None,
                    "value": r[msg_col],
                })
            for (t, p), recs in groups.items():
                recs.sort(key=lambda x: x["seq"])
                produce_with_retry(producer, t, p, recs)

        df.repartition(F.col("topic"), F.col("partition")) \
          .foreachPartition(run_partition)
        producer.flush()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # No repartition here: the changefeed places the (topic, partition)
        # shuffle BELOW the protocol encode (changefeed._prepare_for_sink),
        # so the expensive per-row encode runs on all cores instead of on
        # the micro-batch's few source-read tasks — with the shuffle here,
        # a 1-file micro-batch encoded single-threaded. File count per
        # batch stays bounded by the shuffle's (topic, partition) grouping.
        # The checkpoint agg only touches (topic, commit_ts) — Catalyst
        # prunes the encode out of that scan.
        out_cols = [c for c in ("topic", "partition", "key", "value",
                                "message", "seq", "commit_ts",
                                "table_id", "pk")
                    if c in batch_df.columns]
        # lz4, not the session-default zstd: the changelog is the
        # throughput-bound hot path writing long JSON message strings, and
        # zstd-compressing them was the measured bottleneck (48k rows/s vs
        # 134k with lz4 at 100k-row batches; ~30% larger files). Kafka's
        # own wire compression is the cheap-codec family too — zstd stays
        # the right default for the read-heavy storage/event-store paths.
        if self.producer is not None:
            self._produce_batch(batch_df.select(*out_cols), batch_id)
        else:
            (batch_df.select(*out_cols)
             .write.option("compression", "lz4")
             .option("maxRecordsPerFile", 1_000_000)
             .mode("append").partitionBy("topic").parquet(self.out_dir))
        ckpt = batch_df.groupBy("topic").agg(
            F.max("commit_ts").alias("resolved_ts")
        ).select(
            "topic",
            F.format_string(
                '{"type":"resolved","ts":%d,"batch":%d}',
                F.col("resolved_ts"), F.lit(batch_id),
            ).alias("message"),
        )
        ckpt.write.mode("append").parquet(self.checkpoint_dir)


#: TiCDC storage-sink date-separator → directory date format
#: (`csv_storage_basic/conf/changefeed.toml:6` — none | year | month | day)
_DATE_SEPARATOR_FMT = {
    "none": None,
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
}


class StorageSink:
    """K7: cloud-storage sink — dated-path file layout (csv / canal-json).

    The reference ships this sink family through its storage integration
    tests (`tests/integration_tests/csv_storage_basic/run.sh:23-27` —
    ``SINK_URI="file://$WORK_DIR/storage_test?flush-interval=5s"`` with
    ``protocol = "csv"``, ``date-separator = 'day'``,
    `csv_storage_basic/conf/changefeed.toml:1-16`; canal-json variant in
    `canal_json_storage_basic/`). Layout (public TiCDC storage layout):

        out_dir/{schema}/{table}/{date}/<data files>    one line per change
        out_dir/metadata                                 {"checkpoint-ts": N}

    Spark-first: the dated tree IS a partitioned text write —
    ``partitionBy(schema, table, dt)`` — so the layout falls out of the
    planner with no per-table driver loop and scales to any table count.
    File *naming* inside a leaf dir is Spark task naming (``part-*``)
    rather than the reference's ``CDC{num:06}.csv``; the directory
    contract, one-line-per-change content, and metadata checkpoint match.
    Micro-batch cadence plays flush-interval: each batch appends new files
    (file-rolling falls out of the trigger).
    """

    def __init__(self, out_dir: str, protocol: str = "csv",
                 date_separator: str = "day",
                 files_per_leaf: int = 4,
                 timezone: str | None = None,
                 file_expiration_days: int | None = None,
                 csv_config=None,
                 only_updated_old: bool = False,
                 content_compatible: bool = False):
        if date_separator not in _DATE_SEPARATOR_FMT:
            raise ValueError(f"unsupported date-separator: {date_separator}")
        if protocol not in ("csv", "canal-json"):
            raise ValueError(f"unsupported storage protocol: {protocol}")
        if file_expiration_days is not None and date_separator != "day":
            raise ValueError(
                "file-expiration-days requires date-separator=day")
        self.out_dir = out_dir
        self.protocol = protocol
        self.date_separator = date_separator
        #: date-path timezone (changefeed.go:27 `timezone`, mysql sink
        #: `time-zone`): the reference renders dated paths in the
        #: configured zone; None keeps the engine's UTC time base
        self.timezone = timezone
        #: writer fan-out per leaf dir — a hot table's daily partition is
        #: written by up to this many tasks instead of funneling through one
        self.files_per_leaf = max(1, files_per_leaf)
        #: dated-file retention (sink.go:694 file-expiration-days; the
        #: storage_cleanup integration test): dt= partitions older than
        #: this many days behind the NEWEST date are pruned. Stream time,
        #: where the reference's cron uses the wall clock. Pruning is
        #: driver-side directory removal, throttled to once per new max
        #: date, so steady state costs nothing per batch.
        self.file_expiration_days = file_expiration_days
        self._last_cleaned_date: str | None = None
        #: [sink.csv] codec tuning (CSVConfig); validated eagerly like
        #: every other sink option — a bad delimiter must fail create,
        #: not the first micro-batch
        self.csv_config = csv_config
        #: canal-json option flags (pkg/config/sink.go:160; config.go:
        #: 262-265) — the storage tree honors them like the MQ path
        self.only_updated_old = only_updated_old
        self.content_compatible = content_compatible
        if csv_config is not None:
            if protocol != "csv":
                raise ValueError("csv config requires protocol=csv")
            csv_config.validate()

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from tigate_spark.functions.encoders import (
            encode_canal_json,
            encode_csv_rows,
        )

        if self.protocol == "csv":
            if self.csv_config is not None:
                from tigate_spark.functions.encoders import (
                    encode_csv_configured,
                )

                return encode_csv_configured(
                    batch_df, self.csv_config, out_col="line")
            return encode_csv_rows(batch_df, out_col="line")
        if self.content_compatible:
            # adapter-compatibility wire on the storage tree
            # (canal_json_storage_* scenarios compose with the flag)
            from tigate_spark.functions.encoders import (
                encode_canal_json_typed,
            )

            return encode_canal_json_typed(
                batch_df, out_col="line", content_compatible=True)
        return encode_canal_json(batch_df, out_col="line",
                                 only_updated_old=self.only_updated_old)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        parts = ["schema_name", "table_name"]
        pre = batch_df
        fmt = _DATE_SEPARATOR_FMT[self.date_separator]
        if fmt:
            # commit_ts is µs since epoch (engine time base); the date
            # path renders in the configured timezone (UTC by default —
            # the session tz is pinned UTC, so from_utc_timestamp is the
            # only zone shift in the plan)
            ts = F.timestamp_micros("commit_ts")
            if self.timezone:
                ts = F.from_utc_timestamp(ts, self.timezone)
            pre = pre.withColumn("dt", F.date_format(ts, fmt))
            parts.append("dt")
        # Shuffle BEFORE the protocol encode: a micro-batch often arrives
        # on a handful of source-read tasks, and an encode below the
        # exchange would run there single-threaded. The deterministic
        # leaf-local salt (pre-encode column, not the encoded line) bounds
        # files per (table, day) leaf at files_per_leaf while letting a
        # hot leaf write through that many parallel tasks.
        salt = F.pmod(F.hash("seq"), F.lit(self.files_per_leaf))
        pre = pre.repartition(*[F.col(p) for p in parts], salt)
        enc = self._encode(pre)
        (enc.select(*parts, "line")
         .write.mode("append").partitionBy(*parts).text(self.out_dir))
        # metadata checkpoint file at sink root (TiCDC cloudstorage
        # metadata contract: {"checkpoint-ts": N}); 1-row driver-side write.
        # Monotonic: a replayed / out-of-order micro-batch must never move
        # checkpoint-ts backwards, so max with the previous value.
        row = batch_df.agg(F.max("commit_ts").alias("ts")).collect()[0]
        if row["ts"] is not None:
            os.makedirs(self.out_dir, exist_ok=True)
            meta_path = os.path.join(self.out_dir, "metadata")
            ckpt = int(row["ts"])
            if os.path.exists(meta_path):
                import json

                with open(meta_path) as f:
                    try:
                        ckpt = max(ckpt, int(json.load(f)["checkpoint-ts"]))
                    except (ValueError, KeyError):
                        pass
            tmp = os.path.join(self.out_dir, f".metadata.tmp-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write('{"checkpoint-ts":%d}' % ckpt)
            os.replace(tmp, meta_path)
        if self.file_expiration_days is not None and row["ts"] is not None:
            self._prune_expired(batch_max_ts=int(row["ts"]))

    def _prune_expired(self, batch_max_ts: int) -> None:
        """Drop dt= partitions older than file_expiration_days behind
        the newest date (sink.go:694; storage_cleanup test). The batch's
        own max date — derived from the checkpoint ts the caller already
        collected, zero extra jobs — gates the scan: the tree glob
        (O(tables x dates) driver-side at the >1M-table design point)
        runs only on the batch that ADVANCES the date, so steady state
        within a day costs nothing per batch."""
        import datetime as _dt
        from zoneinfo import ZoneInfo

        batch_date = _dt.datetime.fromtimestamp(
            batch_max_ts / 1_000_000,
            tz=ZoneInfo(self.timezone) if self.timezone
            else _dt.timezone.utc,
        ).date().isoformat()
        if self._last_cleaned_date is not None \
                and batch_date <= self._last_cleaned_date:
            return
        leaf_dirs = glob.glob(os.path.join(
            self.out_dir, "schema_name=*", "table_name=*", "dt=*"))
        dates = sorted({os.path.basename(d)[3:] for d in leaf_dirs})
        if not dates:
            return
        cutoff = (
            _dt.date.fromisoformat(dates[-1])
            - _dt.timedelta(days=self.file_expiration_days)
        ).isoformat()
        for d in leaf_dirs:
            if os.path.basename(d)[3:] < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        self._last_cleaned_date = max(dates[-1], batch_date)


def read_storage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Consumer side of :class:`StorageSink` (the reference's
    ``run_storage_consumer``): reads the dated tree back with the
    partition columns (schema_name, table_name[, dt]) recovered from the
    directory layout."""
    # glob the first partition level so the root-level ``metadata`` file
    # doesn't defeat partition discovery; basePath recovers the columns
    return spark.read.option("basePath", out_dir).text(
        os.path.join(out_dir, "schema_name=*")
    )


class NoopSink:
    """K3: blackhole (throughput measurement)."""

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.format("noop").mode("overwrite").save()


__all__ = [
    "Bookkeeping",
    "ChangelogSink",
    "NoopSink",
    "ReplicaSink",
    "StorageSink",
    "read_replica",
    "read_state",
    "read_storage",
    "op_rank_col",
]


def vacuum_tombstones(spark: SparkSession, state_dir: str, below_ts: int) -> int:
    """T12: event-store GC — drop delete tombstones whose commit_ts is
    below the global checkpoint (``logservice/eventstore/gc.go``; for a
    Delta replica this is VACUUM). A tombstone older than the checkpoint
    can never be contradicted by a late change (stale events below the
    checkpoint are dropped at ingest — T9), so removing it is safe.

    Single pass: the removed-tombstone count rides the compaction write as
    an ``Observation`` metric — no separate pre-count scan. Implemented as
    a filtered manifest checkpoint (full snapshot version + manifest
    supersede), so it doubles as a compact; a live :class:`ReplicaSink`
    on the same ``state_dir`` notices it and reloads its manifest.
    Returns tombstones removed.
    """
    from pyspark.sql import Observation

    snap = _Manifest.load(state_dir)
    state = _full_state(spark, state_dir, snap)
    if state is None:
        return 0
    dead = (F.col("op") == "D") & (F.col("commit_ts") < below_ts)
    obs = Observation()
    observed = state.observe(
        obs, F.sum(F.when(dead, 1).otherwise(0)).alias("n_dead")
    )
    _checkpoint_state(spark, state_dir, observed.filter(~dead), snap)
    return int(obs.get["n_dead"] or 0)
