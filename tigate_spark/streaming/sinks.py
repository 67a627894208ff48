"""foreachBatch sinks K1–K6 (SURVEY §2.7) for the streaming changefeed.

Every sink keeps one contract, :class:`Sink` (the reference's shared
``Sink`` interface, ``downstreamadapter/sink/sink.go:41-56``): it is
built from the feed's config and its own sink-URI params, declares the
directories it owns and whether the changefeed must keep before/after
images, ``prepare``s each batch (routing and encoding run there, below
the changefeed's one persist), writes it in ``process_batch``, and runs
a due DDL or mirrors syncpoint ticks downstream where it owns a
database. The changefeed holds the scheme → class table and calls every
sink the same way.

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
- K7 cloud storage (``csv_storage_basic``): :class:`StorageSink`.
- T5/T11 progress: the changefeed appends per-batch checkpoint rows
  (batch_id, table_id, resolved_ts, n_events) to a bookkeeping table
  through :class:`Bookkeeping`, once per micro-batch after the sink
  wrote it, from the batch's one driver-side per-table summary — the
  sinks only write, as the reference's sinks do while its dispatcher
  tracks table progress (``table_progress.go:24-44``). The K4 ddl-ts
  table (``mysql_writer.go:280-330``) belongs to the SQLite sink's
  ``apply_ddl``.
- K5 syncpoint ts-map (``mysql_writer.go:154-200,525-545``): aligned ticks
  appended per batch when sync point is enabled (T7,
  ``downstreamadapter/syncpoint/syncpoint.go:15-22``), derived on the
  driver from the batch's commit range and written from the driver with
  no Spark job, like the progress rows.

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

#: payload columns the canonical change rows carry into sinks
PAYLOAD_COLS = ["event_type", "value_cents", "user_id"]


def uri_int(q: dict, name: str, default=None, cap: int | None = None):
    """A positive integer sink-URI param, ``default`` when absent and at
    most ``cap``; zero or less fails the create."""
    raw = q.get(name, [None])[0]
    if raw is None:
        return default
    if int(raw) <= 0:
        raise ValueError(f"invalid {name}={raw!r} in sink-uri")
    return int(raw) if cap is None else min(int(raw), cap)


def uri_flag(q: dict, name: str, default: bool = False) -> bool:
    """A boolean sink-URI param (``true``/``1``), ``default`` when absent."""
    return q[name][0].lower() in ("true", "1") if name in q else default


class Sink:
    """The contract the changefeed calls every sink by. The defaults suit
    most sinks: no URI params of their own, no owned dirs, the batch
    unchanged, nothing to do for a DDL or a syncpoint tick."""

    #: whether the changefeed's transform must keep before/after images
    with_images = False

    @classmethod
    def read_params(cls, cfg, q: dict) -> None:
        """Overlay this sink's own sink-URI params ``q`` onto ``cfg``."""

    @classmethod
    def from_config(cls, cfg, scheme: str, q: dict, work_dir: str) -> Sink:
        """Build the sink of feed ``cfg`` under ``work_dir``; raise
        ``ValueError`` for an option this sink cannot honour."""
        raise NotImplementedError

    def dirs(self) -> list[str]:
        """The directories this sink owns, its downstream state first."""
        return []

    def prepare(self, batch: DataFrame) -> DataFrame:
        """The rows ``process_batch`` writes, as a lazy plan over the
        transformed batch; the changefeed persists it once per batch."""
        return batch

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      fence: str | None = None,
                      summary: list | None = None) -> None:
        """Write one prepared micro-batch; at a DDL barrier each sub-batch
        brings its own ``fence`` for a sink that fences replays.

        ``summary`` is the batch's per-table ``(table_id, min commit_ts,
        max commit_ts, count)`` rows, which the changefeed has already
        collected on the driver; a sink may read its touched tables or
        its commit range there instead of running a job. It is None for
        a barrier sub-batch (it may touch fewer tables than the batch)
        and for a direct caller, and the sink then works out what it
        needs itself."""
        raise NotImplementedError

    def apply_ddl(self, ddl) -> None:
        """Run a due DDL downstream, between the barrier's sub-batches."""

    def mirror_syncpoint(self, ticks: list[int], secondary_ts: int) -> None:
        """Copy a batch's syncpoint ticks into a downstream ts-map."""


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

    def record(self, summary: list, batch_id: int) -> list[int]:
        """Append the batch's per-table progress rows and, with sync point
        on, its syncpoint ticks; return the ticks. ``summary`` is the
        batch's driver-side ``(table_id, min commit_ts, max commit_ts,
        count)`` rows, which the changefeed collects once per batch; both
        tables are written from it on the driver, with no Spark job."""
        def part(d: str) -> str:
            return os.path.join(
                d, f"part-{batch_id:05d}-{uuid.uuid4().hex}.parquet")

        _write_parquet_atomic(pa.table({
            "table_id": pa.array([r[0] for r in summary], pa.int64()),
            "resolved_ts": pa.array([r[2] for r in summary], pa.int64()),
            "n_events": pa.array([r[3] for r in summary], pa.int64()),
            "batch_id": pa.array([batch_id] * len(summary), pa.int32()),
        }), part(self.progress_dir))
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

        def rows(ts: list[int]) -> pa.Table:
            return pa.table({
                "primary_ts": pa.array(ts, pa.int64()),
                "secondary_ts": pa.array([hi] * len(ts), pa.int64()),
                "batch_id": pa.array([batch_id] * len(ts), pa.int32()),
            })

        if self.sync_point_retention_us:
            # one file per touched sp_epoch=<n> partition dir
            bucket = max(self.sync_point_retention_us // 4, 1)
            by_bucket: dict[int, list[int]] = {}
            for t in ticks:
                by_bucket.setdefault(t // bucket, []).append(t)
            os.makedirs(self.syncpoint_dir, exist_ok=True)
            for b, ts in by_bucket.items():
                _write_parquet_atomic(rows(ts), part(os.path.join(
                    self.syncpoint_dir, f"sp_epoch={b}")))
            self._prune_syncpoint()
        else:
            # a batch without ticks still leaves a schema-only file, so
            # the ts-map reads as empty rather than missing
            _write_parquet_atomic(rows(ticks), part(self.syncpoint_dir))
        return ticks


class ReplicaSink(Sink):
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
    file has landed. A batch therefore takes its touched table ids from
    the changefeed's per-table summary (and collects them only when it
    comes without one: a barrier sub-batch, a direct caller), reads just
    those tables' current ``table_id=`` dirs with the schema from the
    manifest (no manifest scan or aggregate, no footer-merged schema, no
    listing of the data tree), merges with one ``max_by`` shuffle and
    commits. The batch reaches the sink unclustered, so the merge's
    exchange is the only shuffle of its rows. At most three existence checks
    per batch detect another writer (a second sink,
    :func:`vacuum_tombstones`) and reload the manifest, so no committed
    version number is reused.

    The touched ids are O(touched), not O(tables): at the reference's
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

    @classmethod
    def from_config(cls, cfg, scheme, q, work_dir) -> ReplicaSink:
        return cls(os.path.join(work_dir, "replica", cfg.changefeed_id),
                   PAYLOAD_COLS + [n for n, _, _ in (cfg.wide_payload or ())])

    def dirs(self) -> list[str]:
        return [self.state_dir]

    def _manifest(self) -> _Manifest:
        """The driver snapshot, loaded on first use and reloaded when
        another writer has committed past it."""
        if self._snapshot is None or self._snapshot.stale(self.state_dir):
            self._snapshot = _Manifest.load(self.state_dir)
        return self._snapshot

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      fence: str | None = None,
                      summary: list | None = None) -> None:
        """Merge one micro-batch into the versioned replica (idempotent
        under replay, so no fence). The touched tables are the
        ``summary``'s, or collected from the batch without one."""
        spark = batch_df.sparkSession
        snap = self._manifest()
        have = set(batch_df.columns)
        cols = ["table_id", "pk", "op", "commit_ts", "start_ts", "seq",
                *[c for c in self.payload_cols if c in have]]
        incoming = batch_df.select(*cols)
        rows = summary if summary is not None else \
            incoming.select("table_id").distinct().collect()
        touched = [r[0] for r in rows]
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
        new_state = merged_src.groupBy("table_id", "pk").agg(
            F.max_by(payload, order_key).alias("w")
        ).select("table_id", "pk", "w.*")
        schema = new_state.schema
        # data first, manifest second: rows are visible only once their
        # manifest file lands (the commit point); the snapshot advances
        # only after that
        version = snap.newest + 1
        new_state.write.mode("overwrite").partitionBy("table_id").parquet(
            _version_dir(self.state_dir, version))
        _write_manifest(self.state_dir, version, touched, schema)
        snap.advance(version, touched, schema)
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


def encode_canal(batch: DataFrame, out_col: str, content_compatible: bool,
                 only_updated_old: bool) -> DataFrame:
    """The canal-json wire of the changelog and the storage sink: the
    adapter-compatibility form (canal/encoder.go:260,321) or the default
    one, whose ``old`` image may keep only the changed columns."""
    from tigate_spark.functions.encoders import (
        encode_canal_json,
        encode_canal_json_typed,
    )

    if content_compatible:
        return encode_canal_json_typed(batch, out_col=out_col,
                                       content_compatible=True)
    return encode_canal_json(batch, out_col=out_col,
                             only_updated_old=only_updated_old)


#: raw kafka client params of the sink URI (options.go:104-128: client id,
#: dial/read/write timeouts, SASL + TLS families, kafka-version)
_CLIENT_PARAMS = (
    "kafka-client-id", "kafka-version", "dial-timeout",
    "read-timeout", "write-timeout", "sasl-user", "sasl-password",
    "sasl-mechanism", "sasl-gssapi-auth-type",
    "sasl-gssapi-keytab-path", "sasl-gssapi-kerberos-config-path",
    "sasl-gssapi-service-name", "sasl-gssapi-user",
    "sasl-gssapi-password", "sasl-gssapi-realm",
    "sasl-gssapi-disable-pafxfast", "enable-tls", "ca", "cert",
    "key", "insecure-skip-verify")


class ChangelogSink(Sink):
    """K2: encoded + routed changelog appended to parquet (Kafka stand-in).

    :meth:`prepare` adds the ``topic``/``partition`` router columns and
    the protocol encoding (``message``, or key/value) that ``sink_cfg``
    names; :meth:`process_batch` partitions the files by topic like
    Kafka partitions by topic.

    ``producer`` is the Kafka transport seam (``streaming/kafka.py``),
    picked by the URI's ``transport``: none keeps the parquet write
    below; ``wire`` is the fake broker on ``broker-dir`` (the feed's own
    dir when the URI names none), ``confluent`` a real client bound to
    the URI authority. A producer gets every message through
    ``produce_partition`` on the executors, with admin topic-create /
    partition-count queries driver-side and retriable produce errors
    resent (broker-side sequence dedup keeps the resend duplicate-free —
    the idempotent-producer contract, sarama_factory.go/admin.go)."""

    with_images = True

    def __init__(self, out_dir: str, sink_cfg, producer=None,
                 default_topic: str | None = None,
                 broker_dir: str | None = None):
        self.out_dir = out_dir
        #: K6: resolved-ts broadcast — one checkpoint message per topic per
        #: batch so consumers can advance without waiting for data
        #: (kafka_ddl_worker.go checkpoint loop; event_broker.go:579-606)
        self.checkpoint_dir = out_dir.rstrip("/") + "_checkpoint"
        self.producer = producer
        self.cfg = sink_cfg
        #: the sink-URI path: the topic of rows no dispatch rule claims
        #: (eventrouter/event_router.go:36,72,89); None keeps the
        #: {schema}_{table} convention
        self.default_topic = default_topic
        #: the fake broker's dir when the feed owns it
        self.broker_dir = broker_dir

    @classmethod
    def read_params(cls, cfg, q: dict) -> None:
        import warnings
        from urllib.parse import urlparse

        s = cfg.sink
        if "encoding-format" in q:
            # simple-protocol marshaller dispatch (marshaller.go:50-56)
            s.encoding_format = q["encoding-format"][0]
        # options.go:200-207 parity
        s.num_partitions = uri_int(q, "partition-num", s.num_partitions)
        # the frame limit claim-check/handle-key-only triggers on
        # (large_message.go: a message is "large" past max-message-bytes)
        s.large_message_threshold = uri_int(q, "max-message-bytes",
                                            s.large_message_threshold)
        if "large-message-handle" in q:
            s.large_message_handle = q["large-message-handle"][0]
        if "compression" in q and urlparse(cfg.sink_uri).scheme == "kafka":
            # ENGINE DEVIATION, kept for catalog/back-compat: plain
            # `compression=` selects the CODEC-level value compression
            # here, whereas the reference's kafka URI `compression`
            # param is PRODUCER transport compression (options.go:106) —
            # warn so the trap is visible on a reference-written URI
            warnings.warn(
                "'compression=' on a kafka sink URI selects CODEC-level "
                "(per-value) compression in this engine; the reference's "
                "kafka 'compression' param is producer TRANSPORT "
                "compression. Use 'kafka-compression=' for transport or "
                "'large-message-handle-compression=' for codec-level.",
                stacklevel=3)
        if "kafka-compression" in q:
            # producer TRANSPORT compression (the reference kafka URI's
            # own `compression` param, renamed here to avoid colliding
            # with the codec-level alias). sarama.go:79-94 semantics:
            # known codecs apply; an unknown value WARNS and falls back
            # to none instead of failing the changefeed
            cc = q["kafka-compression"][0].strip().lower()
            if cc not in ("none", "gzip", "snappy", "lz4", "zstd"):
                warnings.warn(
                    f"Unsupported compression algorithm {cc!r}; kafka "
                    f"producer compression falls back to none "
                    f"(sarama.go:91-93)", stacklevel=3)
                cc = "none"
            s.kafka_compression = cc
        # options.go:108 (default true): false = never create, only
        # query; a missing topic then errors at produce/admin time
        s.auto_create_topic = uri_flag(q, "auto-create-topic",
                                       s.auto_create_topic)
        s.kafka_client_params.update(
            {p: q[p][0] for p in _CLIENT_PARAMS if p in q})
        if s.kafka_client_params:
            # validate at create (malformed durations / unknown mechanisms
            # fail the changefeed now, not at first produce)
            from tigate_spark.streaming.kafka_clients import (
                client_config_from_params,
            )

            client_config_from_params(s.kafka_client_params)
        if "replication-factor" in q:
            # options.go:103 (default 1, options.go:169) — applied at topic
            # create by the admin client
            rf = int(q["replication-factor"][0])
            if rf < 1:
                raise ValueError(
                    f"invalid replication-factor {rf}, must be >= 1")
            s.replication_factor = rf
        if "required-acks" in q:
            # options.go:88-98 requireAcksFromString: only -1/0/1 exist;
            # anything else is ErrKafkaInvalidRequiredAcks (create-time)
            raw = q["required-acks"][0]
            if raw not in ("-1", "0", "1"):
                raise ValueError(
                    f"invalid required acks {raw}"
                    f" (expected -1 WaitForAll, 1 WaitForLocal,"
                    f" 0 NoResponse)")
            s.required_acks = int(raw)

    @classmethod
    def from_config(cls, cfg, scheme, q, work_dir) -> ChangelogSink:
        from urllib.parse import urlparse

        s = cfg.sink
        if s.txn_atomicity == "table":
            # MQ sinks only support noneTxnAtomicity (sink.go:118-123):
            # messages fan out across topic partitions, so a downstream
            # txn boundary doesn't exist to preserve
            raise ValueError(
                f"table level atomicity is not supported by "
                f"{scheme} scheme")
        transport = (q.get("transport", [None])[0] or "").lower()
        producer = broker_dir = None
        if transport == "wire":
            from tigate_spark.streaming.kafka import FakeWireProducer

            if s.kafka_compression not in ("", "none"):
                # the fake broker EXECUTES the codec locally (a real
                # broker-side decompress twin), so it needs the seam
                # codec present — create-time, like every misconfig
                from tigate_spark.functions.compress import ensure_supported

                ensure_supported(s.kafka_compression)
            if "broker-dir" not in q:
                broker_dir = os.path.join(work_dir, "broker",
                                          cfg.changefeed_id)
            producer = FakeWireProducer(
                broker_dir or q["broker-dir"][0],
                compression=s.kafka_compression,
                auto_create=s.auto_create_topic)
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
            from tigate_spark.streaming.kafka_clients import (
                ConfluentKafkaProducer,
                client_config_from_params,
            )

            conf = {}
            if s.kafka_compression not in ("", "none"):
                # producer transport compression rides the client config
                # (librdkafka compression.type = the sarama
                # Producer.Compression twin); the real client executes
                # the codec itself, no local seam needed
                conf["compression.type"] = s.kafka_compression
            if s.required_acks != -1:
                # sarama RequiredAcks twin; librdkafka spells them
                # "0"/"1"/"all", and idempotence REQUIRES acks=all, so a
                # weaker setting turns it off (the app-level failed-only
                # retry in produce_partition remains)
                conf["acks"] = str(s.required_acks)
                conf["enable.idempotence"] = False
            if s.kafka_client_params:
                conf.update(client_config_from_params(s.kafka_client_params))
            producer = ConfluentKafkaProducer(
                urlparse(cfg.sink_uri).netloc or "localhost:9092",
                config=conf or None,
                replication_factor=s.replication_factor,
                auto_create=s.auto_create_topic)
        elif transport:
            raise ValueError(
                f"unsupported kafka transport {transport!r} "
                f"(expected wire or confluent)")
        return cls(os.path.join(work_dir, "changelog", cfg.changefeed_id),
                   sink_cfg=s, producer=producer,
                   default_topic=urlparse(cfg.sink_uri).path.strip("/")
                   or None,
                   broker_dir=broker_dir)

    def dirs(self) -> list[str]:
        return [self.out_dir, self.checkpoint_dir,
                *([self.broker_dir] if self.broker_dir else [])]

    def prepare(self, batch: DataFrame) -> DataFrame:
        """Route, reduce and encode: ``topic``/``partition`` from the
        dispatch rules, handle-key-only (P3), the protocol encode, then
        claim-check (E5) or the ErrMessageTooLarge guard."""
        from tigate_spark.functions.encoders import encode_open_protocol
        from tigate_spark.operators.routing import (
            partition_by_index_value,
            route,
            topic_expr,
        )

        s = self.cfg
        if s.dispatch_rules:
            batch = route(batch, s.dispatch_rules, s.num_partitions,
                          default_topic=self.default_topic)
        else:
            batch = batch.withColumn(
                "topic", topic_expr(self.default_topic or "{schema}_{table}")
            ).withColumn(
                "partition",
                partition_by_index_value(s.num_partitions).cast("bigint"),
            )
        if s.large_message_handle == "handle-key-only":
            # P3: oversized payload images reduced to the handle key
            # before encoding (open/codec.go:43-48)
            from tigate_spark.operators.projections import handle_key_only

            batch = handle_key_only(
                batch, s.large_message_threshold, payload_col="after")
        # Shuffle BEFORE the encode: a 1-file micro-batch arrives on one
        # source-read task, and everything below the exchange — including
        # the per-row protocol encode and the changefeed's cache
        # materialization — would run there single-threaded. Clustering
        # by (topic, partition) also bounds output files per batch to the
        # lane count.
        batch = batch.repartition(F.col("topic"), F.col("partition"))
        compressed = s.compression not in ("", "none")
        simple_avro = (s.protocol == "simple"
                       and s.encoding_format == "avro")
        if s.protocol == "open-protocol":
            batch = encode_open_protocol(batch)
            if compressed:
                # VALUE compressed before framing/size checks
                # (open/codec.go:85: the wire length counts compressed
                # bytes); rides as hex like the avro Confluent framing —
                # key stays plain JSON
                from tigate_spark.functions.compress import compress_col

                batch = batch.withColumn(
                    "value",
                    F.hex(compress_col(F.encode(F.col("value"), "UTF-8"),
                                       s.compression)))
        elif s.protocol == "avro":
            # Confluent wire framing (magic + schema id + Avro binary)
            # as hex key/value — byte-exact vs the batch encoder entry
            from tigate_spark.functions.avro_wire import (
                encode_avro_confluent,
            )

            batch = (encode_avro_confluent(batch)
                     .withColumn("key", F.col("key_hex"))
                     .withColumn("value", F.col("value_hex")))
        elif simple_avro:
            # simple protocol, Avro encoding format (marshaller.go:50-56
            # dispatch): the com.pingcap.simple.avro binary wire rides as
            # a hex VALUE (simple messages are value-only — no key),
            # byte-exact vs the batch encoder entry; pure column
            # expressions, zero Python
            from tigate_spark.functions.simple_avro import encode_simple_avro

            batch = encode_simple_avro(batch, out_col="value")
        elif s.protocol == "simple":  # JSON encoding format
            from tigate_spark.functions.encoders import encode_simple_protocol

            batch = encode_simple_protocol(batch)
        else:
            batch = encode_canal(batch, "message", s.content_compatible,
                                 s.only_output_updated_columns)
        # the wire size of the message column: the avro wires and a
        # compressed open-protocol value ride as hex, 2 chars per byte
        # (open/codec.go:85 sizes the COMPRESSED wire)
        msg = "message" if "message" in batch.columns else "value"
        is_hex = msg == "value" and (s.protocol == "avro" or simple_avro
                                     or compressed)
        if s.large_message_handle == "claim-check":
            # E5: oversized encoded messages become object-store pointers
            from tigate_spark.functions.encoders import claim_check

            return claim_check(
                batch, s.large_message_threshold, msg_col=msg,
                value_is_hex=is_hex).withColumn(msg, F.col("wire_value"))
        # ErrMessageTooLarge (open/encoder.go:43-52, canal equivalent): a
        # single encoded message over max-message-bytes with no
        # claim-check offload cannot be produced — fail the feed
        # (deterministic, so the engine classifies it unretryable).
        # handle-key-only already reduced the payload; if the reduced
        # form STILL exceeds, the reference errors too
        # (encoder.go:70-76). Zero extra jobs: the check is a per-row
        # conditional inside the existing encode projection.
        limit = s.large_message_threshold
        size = F.octet_length(F.col(msg))
        if is_hex:
            size = size / 2
        return batch.withColumn(msg, F.when(
            size > limit,
            F.raise_error(F.format_string(
                "ErrMessageTooLarge: single message of %s bytes is larger "
                f"than max-message-bytes={limit}, unsupported without "
                "large-message-handle",
                size.cast("bigint").cast("string"),
            ))).otherwise(F.col(msg)))

    def _produce_batch(self, df: DataFrame, batch_id: int) -> None:
        from tigate_spark.streaming.kafka import produce_with_retry

        producer = self.producer
        # admin pass (driver-side, O(topics) like the reference's
        # ClusterAdminClient): create-or-get each topic and route by the
        # ACTUAL partition count (admin.go GetTopicPartitionNum)
        topics = [r["topic"] for r in df.select("topic").distinct().collect()]
        counts = {t: producer.ensure_topic(t, self.cfg.num_partitions)
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

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      fence: str | None = None,
                      summary: list | None = None) -> None:
        # No repartition here: prepare places the (topic, partition)
        # shuffle BELOW the protocol encode, so the expensive per-row
        # encode runs on all cores instead of on the micro-batch's few
        # source-read tasks. File count per batch stays bounded by the
        # shuffle's (topic, partition) grouping. The checkpoint agg only
        # touches (topic, commit_ts) — Catalyst prunes the encode out of
        # that scan. A replayed batch appends again: the MQ sink's
        # at-least-once contract, so the fence goes unused.
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


class StorageSink(Sink):
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
        self.with_images = protocol == "canal-json"
        if csv_config is not None:
            if protocol != "csv":
                raise ValueError("csv config requires protocol=csv")
            csv_config.validate()

    @classmethod
    def read_params(cls, cfg, q: dict) -> None:
        # an unknown date-separator fails in __init__, at create
        if "date-separator" in q:
            cfg.sink.date_separator = q["date-separator"][0]
        cfg.sink.file_expiration_days = uri_int(
            q, "file-expiration-days", cfg.sink.file_expiration_days)

    @classmethod
    def from_config(cls, cfg, scheme, q, work_dir) -> StorageSink:
        # an unsupported protocol raises in __init__: a silent csv
        # fallback would mask the misconfiguration
        s = cfg.sink
        return cls(os.path.join(work_dir, "storage", cfg.changefeed_id),
                   protocol=s.protocol, date_separator=s.date_separator,
                   timezone=cfg.timezone,
                   file_expiration_days=s.file_expiration_days,
                   csv_config=s.csv,
                   only_updated_old=s.only_output_updated_columns,
                   content_compatible=s.content_compatible)

    def dirs(self) -> list[str]:
        return [self.out_dir]

    def _encode(self, batch_df: DataFrame) -> DataFrame:
        from tigate_spark.functions.encoders import (
            encode_csv_configured,
            encode_csv_rows,
        )

        if self.protocol == "canal-json":
            return encode_canal(batch_df, "line", self.content_compatible,
                                self.only_updated_old)
        if self.csv_config is not None:
            return encode_csv_configured(
                batch_df, self.csv_config, out_col="line")
        return encode_csv_rows(batch_df, out_col="line")

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      fence: str | None = None,
                      summary: list | None = None) -> None:
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
        # checkpoint-ts backwards, so max with the previous value. The
        # batch's max commit_ts comes from the summary when there is one.
        hi = commit_range(summary)[1] if summary is not None else \
            batch_df.agg(F.max("commit_ts")).collect()[0][0]
        if hi is not None:
            os.makedirs(self.out_dir, exist_ok=True)
            meta_path = os.path.join(self.out_dir, "metadata")
            ckpt = int(hi)
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    try:
                        ckpt = max(ckpt, int(json.load(f)["checkpoint-ts"]))
                    except (ValueError, KeyError):
                        pass
            tmp = os.path.join(self.out_dir, f".metadata.tmp-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write('{"checkpoint-ts":%d}' % ckpt)
            os.replace(tmp, meta_path)
        if self.file_expiration_days is not None and hi is not None:
            self._prune_expired(batch_max_ts=int(hi))

    def _prune_expired(self, batch_max_ts: int) -> None:
        """Drop dt= partitions older than file_expiration_days behind
        the newest date (sink.go:694; storage_cleanup test). The batch's
        own max date — the checkpoint ts the caller already has, zero
        extra jobs — gates the scan: the tree glob
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


class NoopSink(Sink):
    """K3: blackhole (throughput measurement)."""

    @classmethod
    def from_config(cls, cfg, scheme, q, work_dir) -> NoopSink:
        return cls()

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      fence: str | None = None,
                      summary: list | None = None) -> None:
        batch_df.write.format("noop").mode("overwrite").save()


__all__ = [
    "PAYLOAD_COLS",
    "Bookkeeping",
    "ChangelogSink",
    "NoopSink",
    "ReplicaSink",
    "Sink",
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
