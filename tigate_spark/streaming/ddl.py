"""DDL barrier via micro-batch splitting (T8, SURVEY §3.3).

Reference parity: a multi-table DDL blocks all affected dispatchers at its
``commitTs``; the maintainer elects one writer, the rest pass
(``maintainer/barrier.go:26-57``, ``barrier_event.go``;
``dispatcher.go:301-321,351-354``). In Spark the micro-batch boundary IS
the barrier — the driver splits each batch at every DDL commit ts: DML
strictly below applies with the pre-DDL schema, then the DDL commits a new
schema-registry version (exactly once, driver-side), then the remainder.

The schema registry is the engine's multi-version schema store (T3,
``logservice/schemastore/multi_version.go:35-52``): an append-only table
of ``(table_id, version, version_ts, schema_tag)`` rows; DML is decoded
with the version in effect at ``commit_ts - 1``
(``pkg/eventservice/event_broker.go:492``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DDLEvent:
    """Driver-side DDL record (``pkg/common/event/ddl_event.go:179-193``
    reduced to what the barrier needs: ts + scope + the schema effect).

    ``schema_name``/``table_name`` carry the qualified identifier for
    sinks that EXECUTE the DDL (the SQLite writer loop) — passed as
    fields, never re-parsed out of the query text."""

    commit_ts: int
    table_id: int | None  # None → all-tables scope (InfluencedTables: All)
    query: str
    schema_tag: str
    schema_name: str | None = None
    table_name: str | None = None
    #: originating cluster's BDR role (persist_storage.go:808 BDRRole);
    #: a bdr_mode changefeed applies only "primary"-role DDLs
    bdr_role: str = ""


class SchemaRegistry:
    """Append-only multi-version registry persisted as parquet."""

    def __init__(self, path: str):
        self.path = path

    def append(self, spark: SparkSession, ddl: DDLEvent,
               n_tables: int | None = None,
               idempotent: bool = False) -> None:
        """Record a schema version. ``n_tables`` expands an all-tables
        DDL to explicit per-table rows (entry-style); ``n_tables=None``
        records the sentinel ``table_id=-1`` instead (engine-style,
        table population unknown at barrier time). ``idempotent=True``
        makes a replayed barrier (restart between registry append and
        checkpoint commit) a no-op instead of a duplicate version row."""
        if ddl.table_id is not None:
            tables = [ddl.table_id]
        elif n_tables is not None:
            tables = list(range(n_tables))
        else:
            tables = [-1]
        if idempotent and os.path.isdir(self.path):
            # dedup key includes the table scope: two DDLs at the same
            # commit_ts with the same schema_tag on DIFFERENT tables are
            # distinct versions, not a replay of each other
            dup = (
                spark.read.parquet(self.path)
                .filter(
                    (F.col("version_ts") == ddl.commit_ts)
                    & (F.col("schema_tag") == ddl.schema_tag)
                    & F.col("table_id").isin([int(t) for t in tables])
                )
                .limit(1)
                .count()
            )
            if dup:
                return
        rows = [(int(t), int(ddl.commit_ts), ddl.schema_tag, ddl.query) for t in tables]
        df = spark.createDataFrame(
            rows, "table_id BIGINT, version_ts BIGINT, schema_tag STRING, query STRING"
        )
        df.coalesce(1).write.mode("append").parquet(self.path)

    def versions(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


def split_batch_at_ddl(
    batch_df: DataFrame,
    ddls: list[DDLEvent],
    apply_dml: Callable[[DataFrame, int], None],
    apply_ddl: Callable[[DDLEvent], None],
) -> list[dict]:
    """Apply one micro-batch with DDL barriers interleaved in commit order.

    Sub-batch k holds DML with ``prev_ddl_ts <= commit_ts < ddl_ts[k]``
    (DDL-first at equal ts — ``event_broker.go:459-462`` merge order), then
    ``apply_ddl`` runs exactly once driver-side (the "elected writer" of
    ``barrier.go:36``). Returns an audit trail for tests/bookkeeping.
    """
    audit: list[dict] = []
    relevant = sorted(ddls, key=lambda d: d.commit_ts)

    def _blocked_by(ddl: DDLEvent):
        """Rows that must apply AFTER ``ddl``: the DDL affects their table
        and their commit_ts >= ddl ts (DDL-first at equal ts)."""
        cond = F.col("commit_ts") >= ddl.commit_ts
        if ddl.table_id is not None:
            cond = cond & (F.col("table_id") == ddl.table_id)
        return cond

    # a caller that wants to reuse the cache AFTER the split (e.g. the
    # changefeed's once-per-batch bookkeeping) persists the batch itself;
    # only own the cache when nobody else does — unpersist() has no
    # refcount, so dropping a caller's cache here would force them to
    # recompute the whole micro-batch
    own_cache = batch_df.storageLevel.useMemory is False \
        and batch_df.storageLevel.useDisk is False
    if own_cache:
        batch_df.persist()
    try:
        applied = F.lit(False)
        for k, ddl in enumerate(relevant):
            # eligible now: not yet applied, and not blocked by this or any
            # later DDL (unaffected tables flow through early — the
            # "ddl_only_block_related_table" semantics)
            must_wait = F.lit(False)
            for later in relevant[k:]:
                must_wait = must_wait | _blocked_by(later)
            eligible = ~applied & ~must_wait
            part = batch_df.filter(eligible)
            n = part.count()
            if n:
                apply_dml(part, k)
                audit.append({"kind": "dml", "sub": k, "rows": n,
                              "barrier_ts": ddl.commit_ts})
            apply_ddl(ddl)
            audit.append({"kind": "ddl", "sub": k, "ts": ddl.commit_ts,
                          "query": ddl.query})
            applied = applied | eligible
        rest = batch_df.filter(~applied) if relevant else batch_df
        n = rest.count()
        if n:
            apply_dml(rest, len(relevant))
            audit.append({"kind": "dml", "sub": len(relevant), "rows": n,
                          "barrier_ts": None})
    finally:
        if own_cache:
            batch_df.unpersist()
    return audit
