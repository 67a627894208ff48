"""Engine: the changefeed lifecycle API (SURVEY §3.1).

Reference parity — the v2 HTTP API surface (``api/v2/api.go:51-58``,
``api/v2/changefeed.go:51-120``) collapsed onto Python calls:

| reference                        | here                          |
|---------------------------------|-------------------------------|
| POST /api/v2/changefeeds        | ``Engine.create(cfg[, ddl_events])`` |
| GET  /api/v2/changefeeds        | ``Engine.list()``             |
| GET  .../{id}                   | ``Engine.get(id)`` / ``Engine.changefeed(id)`` |
| POST .../{id}/pause             | ``Engine.pause(id)``          |
| POST .../{id}/resume (+``overwrite_checkpoint_ts``) | ``Engine.resume(id[, overwrite_checkpoint_ts])`` |
| GET  .../{id}/synced            | ``Engine.synced(id)``         |
| PUT  .../{id}                   | ``Engine.update(id, cfg)``    |
| POST /api/v2/verify_table       | ``Engine.verify_table(filter)`` |
| DELETE .../{id}                 | ``Engine.remove(id)``         |

Error-state machine (``changefeed_error`` family): ``run_to_completion``
retries retryable failures from the checkpoint (state ``warning``,
``meta['last_warning']`` kept) and fast-fails the
ErrChangefeedUnretryable class (state ``failed``).

Pause/resume ride on Spark's ``checkpointLocation``: pausing stops the
query; resuming restarts it from the committed offsets (the reference
persists ``checkpointTs`` in etcd and replays from it — T10's recovery,
subsumed). The coordinator/maintainer/dispatcher scheduling hierarchy is
the Spark driver + task scheduler.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from tigate_spark.config import ChangefeedConfig
from tigate_spark.streaming.changefeed import Changefeed

#: changefeed-id validation, mirroring the reference's ID rules
#: (``api/v2/changefeed.go`` → model.ValidateChangefeedID)
_ID_RE = re.compile(r"^[a-zA-Z0-9](?:[a-zA-Z0-9\-_.]{0,126}[a-zA-Z0-9])?$")


class ChangefeedUnretryableError(RuntimeError):
    """The ErrChangefeedUnretryable class
    (``pkg/apperror/errors.go:123-142``) — config/expression/GC errors
    that no retry can fix; the feed fast-fails instead of looping."""


#: message fragments marking the unretryable class. The engine's own
#: config errors spell these ("invalid partition-num", "unsupported sink
#: scheme", "is required", the pinned worker-count mismatch) — matched by
#: substring over the ROOT-CAUSE message only, the same way the reference
#: matches RFC codes inside error strings (``errors.go:157-159``
#: strings.Contains). Transient classes (locked/busy/IO) contain none of
#: them. The sentinel class name is matched over the full chain (it is
#: unique to our own raises); the generic fragments are NOT — a JVM
#: StreamingQueryException embeds whole tracebacks whose incidental text
#: ("must be", "invalid ") would otherwise misclassify a transient
#: failure as unretryable and fast-fail a feed a retry would have saved.
#: "invalid " keeps its trailing space: Spark's transient
#: file-changed message says "explicitly invalidate the cache" —
#: exactly the class the retry loop exists to save — and must not match
_UNRETRYABLE_PATTERNS = (
    "invalid ", "unsupported", "worker-count", "is required", "must be",
)

#: a line that *opens* an exception message in an embedded Python/JVM
#: traceback, e.g. ``ValueError: invalid partition-num`` or
#: ``org.apache.spark.SparkException: Job aborted``
_EXC_LINE_RE = re.compile(
    r"^\s*(?:Caused by:\s*)?(?:[A-Za-z_][\w.$]*\.)?"
    r"[A-Z]\w*(?:Error|Exception)\d*:\s?.*$")

#: a bare Spark error-class header, e.g. ``[STREAM_FAILED] Query ...`` —
#: the one first-line shape that is a message line without a ClassName:
#: prefix (Spark error framework codes are UPPER_SNAKE, dot-scoped)
_SPARK_ERROR_CLASS_RE = re.compile(r"^\s*\[[A-Z][A-Z_0-9.]*\]")


def _exception_header_lines(exc: Exception) -> list[str]:
    """Every exception-MESSAGE line inside the (possibly
    traceback-laden) exception text. JVM ``Caused by:`` chains put the
    root cause last, but Python's own chaining ('During handling of the
    above exception...') prints the root FIRST — so classification
    scans ALL header lines rather than guessing which one is the root:
    still orders of magnitude narrower than matching the full text
    (traceback bodies, source lines, comments never match)."""
    text = str(exc)
    lines = [ln for ln in text.splitlines() if _EXC_LINE_RE.match(ln)]
    # Bare first lines: Spark/Py4J raise '[STREAM_FAILED] ...: invalid
    # partition-num' headers without a `ClassName:` prefix that the
    # header regex misses while an unrelated 'Caused by:' line deeper in
    # the chain matches — shadowing the real root. But an UNCONDITIONAL
    # prepend widens the substring match to arbitrary first-line text of
    # transient failures, so the first line only joins the scan when no
    # header line matched at all, or when it carries a bracketed Spark
    # error class (the documented bare-header shape).
    first = text.splitlines()[0] if text else text
    if first and first not in lines and (
            not lines or _SPARK_ERROR_CLASS_RE.match(first)):
        lines.insert(0, first)
    return lines if lines else [text]


def _is_unretryable(exc: Exception) -> bool:
    if isinstance(exc, (ChangefeedUnretryableError, ValueError)):
        return True
    if "ChangefeedUnretryable" in str(exc):  # unique sentinel: full chain
        return True
    return any(p in ln for ln in _exception_header_lines(exc)
               for p in _UNRETRYABLE_PATTERNS)


@dataclass
class _Feed:
    cfg: ChangefeedConfig
    changefeed: Changefeed
    state: str = "stopped"  # stopped | running | paused | removed
    query: object = None
    meta: dict = field(default_factory=dict)


class Engine:
    def __init__(self, spark: SparkSession, source_dir: str, work_dir: str,
                 gc_safepoint_ts: int = 0):
        self.spark = spark
        self.source_dir = source_dir
        self.work_dir = work_dir
        self._feeds: dict[str, _Feed] = {}
        #: the GC service safepoint: events at/below this ts are already
        #: vacuumed upstream (T12), so a changefeed cannot start there —
        #: the reference pins it in PD per feed (gc.EnsureChangefeedStart
        #: TsSafety, api/v2/changefeed.go:106-118)
        self.gc_safepoint_ts = int(gc_safepoint_ts)

    def create(self, cfg: ChangefeedConfig,
               ddl_events: list | None = None) -> str:
        """Validate + register a changefeed (does not start it).

        ``ddl_events`` configures first-class DDL barriers (T8): the
        feed splits micro-batches at each due barrier, records the
        schema version, and executing sinks run the DDL live."""
        if not _ID_RE.match(cfg.changefeed_id):
            raise ValueError(f"invalid changefeed id: {cfg.changefeed_id!r}")
        if cfg.start_ts and self.gc_safepoint_ts \
                and cfg.start_ts <= self.gc_safepoint_ts:
            # ErrStartTsBeforeGC (changefeed.go:106-118; the gc manager
            # errors when startTs - 1 < safepoint, i.e. startTs <= it —
            # events at/below the safepoint are already vacuumed)
            raise ValueError(
                f"invalid start-ts {cfg.start_ts}: fail to create "
                f"changefeed because start-ts {cfg.start_ts} is earlier "
                f"than or equal to GC safepoint at {self.gc_safepoint_ts}")
        if cfg.changefeed_id in self._feeds and \
                self._feeds[cfg.changefeed_id].state != "removed":
            raise ValueError(f"changefeed exists: {cfg.changefeed_id}")
        cf = Changefeed(self.spark, cfg, self.source_dir, self.work_dir,
                        ddl_events=ddl_events)
        self._feeds[cfg.changefeed_id] = _Feed(cfg=cfg, changefeed=cf)
        return cfg.changefeed_id

    def start(self, changefeed_id: str, available_now: bool = True):
        feed = self._get(changefeed_id)
        feed.query = feed.changefeed.start(available_now=available_now)
        feed.state = "running"
        return feed.query

    def run_to_completion(self, changefeed_id: str, timeout_s: int = 300,
                          max_retries: int = 2) -> int:
        """Run the feed, with the reference's error-state machine
        (``changefeed_error`` / ``changefeed_fast_fail`` integration
        tests; states per ``api/v2/model.go``): a retryable failure puts
        the feed in **warning** and restarts it from the committed
        checkpoint (the failed micro-batch replays exactly-once); an
        unretryable failure — the ErrChangefeedUnretryable class — or
        exhausted retries puts it in **failed** and re-raises. The last
        retryable error is kept as ``meta['last_warning']`` even after a
        successful recovery (the reference's ``last_warning`` field,
        ``model.go:1305``). A run that outlives ``timeout_s`` is stopped
        and raises :class:`TimeoutError`, retried like any other
        retryable failure. Returns the micro-batches the successful
        attempt committed."""
        feed = self._get(changefeed_id)
        attempt = 0
        while True:
            feed.state = "running"
            try:
                n = feed.changefeed.run_to_completion(timeout_s)
                feed.state = "stopped"
                feed.meta.pop("error", None)
                return n
            except Exception as e:  # noqa: BLE001 — classified below
                # foreachBatch failures arrive wrapped in a JVM
                # StreamingQueryException whose root cause sits deep in
                # the embedded traceback — keep enough of it
                err = {"message": str(e)[:4000], "attempt": attempt,
                       "retryable": not _is_unretryable(e)}
                feed.meta["error"] = err
                if _is_unretryable(e) or attempt >= max_retries:
                    feed.state = "failed"
                    raise
                feed.meta["last_warning"] = err
                feed.state = "warning"
                attempt += 1

    def pause(self, changefeed_id: str) -> None:
        feed = self._get(changefeed_id)
        if feed.query is not None and feed.query.isActive:
            feed.query.stop()
        feed.state = "paused"

    def resume(self, changefeed_id: str, available_now: bool = True,
               overwrite_checkpoint_ts: int | None = None):
        """Restart from the committed checkpoint — no reprocessing.

        ``overwrite_checkpoint_ts`` (POST .../resume body field,
        ``api/v2/model.go:82``, applied at ``changefeed.go:457-458``)
        discards the saved progress and replays from the given ts
        instead: the Spark checkpoint is dropped and the feed re-reads
        the source with ``start_ts`` pinned, re-applying the overlap
        onto the existing sink state — safe because every sink merge is
        last-writer-wins / safe-mode idempotent, the same reason the
        reference allows rewinding onto a written downstream."""
        feed = self._get(changefeed_id)
        if feed.query is not None and feed.query.isActive:
            # the reference rejects resume on a non-paused feed; deleting
            # a LIVE query's checkpointLocation would corrupt its offset
            # log and race two writers on one sink
            raise ValueError(
                f"changefeed {changefeed_id} is running; pause it first")
        if overwrite_checkpoint_ts is not None:
            shutil.rmtree(feed.changefeed.checkpoint_dir,
                          ignore_errors=True)
            from dataclasses import replace

            cfg = replace(feed.cfg, start_ts=int(overwrite_checkpoint_ts))
            feed.cfg = cfg
            feed.changefeed = Changefeed(
                self.spark, cfg, self.source_dir, self.work_dir,
                ddl_events=feed.changefeed.ddl_events)
        q = feed.changefeed.start(available_now=available_now)
        feed.query = q
        feed.state = "running"
        return q

    def remove(self, changefeed_id: str, drop_state: bool = False) -> None:
        feed = self._get(changefeed_id)
        if feed.query is not None and feed.query.isActive:
            feed.query.stop()
        feed.state = "removed"
        if drop_state:
            # every per-feed dir, so a feed re-created under the same id
            # starts clean (no stale checkpoint_ts, no stale lane DBs)
            for d in feed.changefeed.feed_dirs():
                shutil.rmtree(d, ignore_errors=True)

    def list(self) -> list[dict]:
        return [
            {"id": cid, "state": f.state, "sink_uri": f.cfg.sink_uri}
            for cid, f in self._feeds.items()
        ]

    def changefeed(self, changefeed_id: str) -> Changefeed:
        """The underlying :class:`Changefeed` — sink, schema registry,
        checkpoint paths — for callers that inspect feed internals (the
        GET /api/v2/changefeeds/{id} detail view's moral equivalent)."""
        return self._get(changefeed_id).changefeed

    def synced(self, changefeed_id: str) -> dict:
        """GET /api/v2/changefeeds/{id}/synced twin (the synced_status
        integration tests; SyncedStatusConfig at ``api/v2/model.go:
        105-111``): compare the sink's committed position — the max
        resolved_ts the bookkeeping recorded — against the source's
        available frontier (max commit ts upstream). ``synced`` means
        every change the source currently holds has been applied; the
        reference adds wall-clock lag thresholds because its upstream
        never drains — a file source does, so position equality IS the
        synced condition here."""
        import os as _os

        from pyspark.sql import functions as F

        feed = self._get(changefeed_id)
        cf = feed.changefeed
        # the frontier is what the FEED would replicate: read the source
        # with the feed's own format and run the feed's own transform,
        # so target_ts / filter rules / bdr_mode don't leave the
        # endpoint reporting permanent lag on rows the feed is
        # configured to drop
        if feed.cfg.source_format == "parquet":
            raw = self.spark.read.parquet(self.source_dir)
        else:
            from tigate_spark.sources.formats import read_events

            raw = read_events(self.spark, self.source_dir,
                              feed.cfg.source_format)
        frontier = cf.transform(raw).agg(
            F.max("commit_ts")).first()[0] or 0
        checkpoint = 0
        if _os.path.isdir(cf.bookkeeping.progress_dir):
            checkpoint = (
                self.spark.read.parquet(cf.bookkeeping.progress_dir)
                .agg(F.max("resolved_ts")).first()[0] or 0
            )
        ok = checkpoint >= frontier
        out = {
            "synced": ok,
            "sink_checkpoint_ts": int(checkpoint),
            "puller_resolved_ts": int(frontier),
            "info": "Data syncing is finished" if ok else
                    f"The data syncing is not finished, please wait "
                    f"(lag: {int(frontier) - int(checkpoint)} us)",
        }
        if cf.redo is not None:
            # synced_status_with_redo: with the WAL on, synced also
            # requires the redo log drained to the sink position
            m = cf.redo.meta()
            out["redo"] = {"resolved_ts": m["resolved_ts"],
                           "checkpoint_ts": m["checkpoint_ts"]}
            out["synced"] = ok and m["checkpoint_ts"] >= m["resolved_ts"]
        return out

    def state_dir(self, changefeed_id: str) -> str:
        """Filesystem location of the changefeed's materialized sink state
        (the replica table for ``replica://``, the lane DBs for
        ``sqlite://``, the output tree otherwise) — the public 'where is
        my downstream' accessor, so callers never reach into internals for
        the read-back path."""
        sink = self._get(changefeed_id).changefeed.sink
        for attr in ("state_dir", "out_dir", "db_dir"):
            d = getattr(sink, attr, None)
            if d:
                return d
        raise ValueError(
            f"changefeed {changefeed_id}'s sink has no materialized state"
        )

    def get(self, changefeed_id: str) -> dict:
        """Changefeed detail incl. checkpoint progress — the reference's
        ``GET /api/v2/changefeeds/{id}`` (returns ``checkpointTs``; here
        the max resolved_ts the bookkeeping table has recorded)."""
        feed = self._get(changefeed_id)
        ckpt = None
        progress_dir = feed.changefeed.bookkeeping.progress_dir
        if os.path.exists(progress_dir):
            from pyspark.sql import functions as F

            row = (
                self.spark.read.parquet(progress_dir)
                .agg(F.max("resolved_ts").alias("ts"))
                .first()
            )
            ckpt = row["ts"]
        return {
            "id": changefeed_id,
            "state": feed.state,
            "sink_uri": feed.cfg.sink_uri,
            "checkpoint_ts": ckpt,
            "start_ts": feed.cfg.start_ts,
            "target_ts": feed.cfg.target_ts,
        }

    #: sentinel distinguishing "caller passed nothing" from an explicit
    #: ``ddl_events=None`` (= drop the barriers) in :meth:`update`
    _KEEP = object()

    def update(self, changefeed_id: str, cfg: ChangefeedConfig,
               ddl_events: list | None | object = _KEEP) -> None:
        """Replace a paused/stopped changefeed's config — the reference's
        ``PUT /api/v2/changefeeds/{id}`` (update requires the feed not be
        running, ``api/v2/changefeed.go`` updateChangefeed). The rebuilt
        Changefeed keeps the same work_dir, so the checkpoint carries over
        and resume continues from committed offsets under the new config.

        ``ddl_events`` defaults to the feed's EXISTING barriers (like
        resume): an update that doesn't mention DDL must not silently
        drop configured schema changes — the downstream would never
        evolve while the feed completes cleanly. Pass an explicit list
        (or ``None`` to clear) to change them."""
        feed = self._get(changefeed_id)
        if feed.state == "running":
            raise ValueError(
                f"changefeed {changefeed_id} is running; pause before update"
            )
        if cfg.changefeed_id != changefeed_id:
            raise ValueError("changefeed id is immutable")
        if ddl_events is Engine._KEEP:
            ddl_events = feed.changefeed.ddl_events
        # build (and validate) the new Changefeed BEFORE swapping any
        # feed state — a rejected config must leave the feed untouched
        new_cf = Changefeed(
            self.spark, cfg, self.source_dir, self.work_dir,
            ddl_events=ddl_events,
        )
        feed.cfg = cfg
        feed.changefeed = new_cf

    def verify_table(self, filter_cfg) -> dict:
        """``POST /api/v2/verify_table`` — which tables a filter config
        matches. The reference snapshot stubs this endpoint
        (``api/v2/changefeed.go:247-251``); semantics follow the public
        TiCDC v2 API: eligible = matched tables (all the engine's logical
        tables carry a pk, so none are ineligible)."""
        from tigate_spark.operators.filters import table_rule_match
        from tigate_spark.sources.changes import N_TABLES

        eligible, ignored = [], []
        for t in range(N_TABLES):
            name = f"app.t{t}"
            if table_rule_match(filter_cfg.rules, "app", f"t{t}"):
                eligible.append(name)
            else:
                ignored.append(name)
        return {"eligible_tables": eligible, "ineligible_tables": [],
                "ignored_tables": ignored}

    def status(self) -> dict:
        """``GET /status`` parity (``api/v2/status.go``): liveness +
        version info for the single logical "capture" (the Spark driver;
        the reference's capture/owner node roles collapse onto it)."""
        import pyspark

        return {
            "version": f"tigate-spark+pyspark-{pyspark.__version__}",
            "id": self.spark.sparkContext.applicationId,
            "is_owner": True,  # one driver == the elected coordinator
            "liveness": "alive",
        }

    def health(self) -> dict:
        """``GET /api/v2/health`` parity: healthy iff no registered
        changefeed's streaming query has died with an exception."""
        failed = []
        for cid, feed in self._feeds.items():
            q = feed.query
            if q is not None and feed.state == "running":
                exc = q.exception()
                if exc is not None:
                    failed.append({"changefeed": cid, "error": str(exc)})
        return {"healthy": not failed, "failed": failed}

    def _get(self, changefeed_id: str) -> _Feed:
        if changefeed_id not in self._feeds:
            raise KeyError(f"changefeed not found: {changefeed_id}")
        feed = self._feeds[changefeed_id]
        if feed.state == "removed":
            raise KeyError(f"changefeed removed: {changefeed_id}")
        return feed
