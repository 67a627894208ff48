"""K1 executable-sink twin: a REAL writer loop applying the engine's
rendered MySQL SQL to a live SQL engine inside the streaming path.

The sandbox has no MySQL server, so SQLite (stdlib) stands in — it
accepts the generated dialect (backtick quoting, REPLACE INTO,
``UPDATE/DELETE ... LIMIT 1`` when compiled with the limit extension;
probed per connection and stripped when absent). Everything around the
socket is the reference's MySQL sink shape
(``pkg/sink/mysql/mysql_writer.go:727-755`` execDML loop,
``mysql_worker.go:90-135`` worker lanes):

- **foreachBatch → foreachPartition**: each micro-batch renders the
  safe-mode statement stream (``encode_mysql_sql(safe_mode_split=True)``
  — REPLACE + P6 update split, the idempotent replay form) and executes
  it on the EXECUTORS, one sequential writer per worker lane.
- **Worker lanes** (R8): ``lane = table_id % n_lanes``; the batch is
  hash-repartitioned by lane so a lane never spans partitions — one
  SQLite file per lane, one connection per lane per batch, zero write
  contention by construction (the reference's per-worker MySQL
  connection).
- **Txn batching + packet bound**: statements execute inside explicit
  transactions, committed every ``txn_rows`` statements or when the
  accumulated arg bytes exceed ``max_packet`` (the maxAllowedPacket
  fallback boundary, ``mysql_writer.go`` multiStmtFallback) — whichever
  comes first.
- **Retry**: transient lock/busy errors roll back and retry the current
  txn batch with backoff; safe-mode statements are idempotent, so a
  retried batch (or a replayed micro-batch after a crash between sink
  commit and checkpoint commit) converges to the same last-writer-wins
  state — the same exactly-once story the reference's safe mode gives a
  non-transactional downstream.
- **Zombie-attempt fence** (r9): a retried or speculative executor task
  could otherwise run concurrently with a lagging zombie attempt on the
  same lane DB and commit an OLDER statement after a newer one (SQLite
  serializes individual writers, not whole replays). Each lane
  application holds an exclusive ``flock`` on ``<db>.lock`` for its full
  duration — attempts serialize, never interleave — and records a
  ``_applied(fence)`` marker in the lane DB's final commit, so a zombie
  that acquires the lock AFTER the winner finished sees the marker and
  skips. A sequential full replay (crash before the marker committed)
  still converges by safe-mode idempotence; ``tests/test_sqlite_apply.py``
  drives both paths.
- **DDL execution** (r9, ``mysql_writer.go:600-668`` execDDL): the
  changefeed hands each due DDL barrier to :meth:`SqliteApplySink.
  apply_ddl`, which also keeps the ``ddl_ts_v1`` row; the DDL runs
  in its OWN transaction on the owning lane, with the reference's
  ignorable-error class (``pkg/apperror/util.go:36-55`` — duplicate
  column / existing table / existing index = an already-applied replay,
  ignored) and bounded retry. The ``USE db`` switch
  (``mysql_writer.go:607``) maps to the schema-qualified local rename
  (SQLite has one namespace per file, so ``schema.table`` becomes the
  ``schema__table`` physical name — the same translation the DML path
  uses).

Ordering: statements are sorted within each lane partition by the LWW
tie-break ``(commit_ts, start_ts, D<U<I on the original op, seq,
piece_no)``; micro-batches arrive in commit order from the file source,
so per-key statement order is globally correct.

Scale posture: the writer loop is per-partition imperative by necessity
(it drives a socket protocol, not a computation); all rendering stays
declarative JVM-side. At 100 TB the same class pointed at a JDBC URL is
the real MySQL sink — only the ``connect()`` line changes (the flock
fence becomes the server's own serialization plus the marker table).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tigate_spark.streaming import dbapi
from tigate_spark.streaming.sinks import Sink, uri_flag, uri_int

#: default worker-lane count (mirrors operators.txn.FLUSH_LANES spirit)
DEFAULT_LANES = 4


#: default synthesized post-DDL after-image: the testdata change stream
#: predates any DDL, so the mounted value of an evolved column is derived
#: deterministically from the row (a real changefeed mounts it from the
#: new schema version, T3 semantics)
DEFAULT_EXTRA_EXPR = "abs(coalesce(value_cents, 0)) % 1000"


def render_safe_mode_statements(changes: DataFrame,
                                n_lanes: int = DEFAULT_LANES,
                                extra_tables: frozenset[int] | set[int]
                                = frozenset(),
                                extra_col: str = "extra_cents",
                                extra_expr: str = DEFAULT_EXTRA_EXPR,
                                wide_cols: tuple[str, ...] = ()
                                ) -> DataFrame:
    """Changes → ordered, lane-keyed safe-mode statement stream:
    (lane, table_id, schema_name, table_name, commit_ts, start_ts, opr,
    seq, piece_no, sql, args). Identity columns ride along so the writer
    never re-parses them out of the SQL text (an identifier containing a
    backtick would misroute otherwise).

    ``extra_tables``: table_ids whose post-DDL schema carries the evolved
    ``extra_col`` — their REPLACE statements render the widened form with
    ``extra_expr`` (a SQL expression over the change row) as the mounted
    after-image. The widening rebuilds the statement from its parts (no
    text surgery on the VALUES arity), so a future change to the base
    REPLACE shape cannot silently desynchronize SQL and args.

    ``wide_cols``: stored schema columns beyond the canonical payload
    (the full-width table form, e.g. the 45-type fixture schema) —
    every statement renders the widened column list / arg vector via
    ``encode_mysql_sql(extra_cols=...)``. Mutually exclusive with
    ``extra_tables`` (the DDL-evolution widening assumes the canonical
    3-column REPLACE shape).
    """
    from tigate_spark.functions.encoders import encode_mysql_sql

    if wide_cols and extra_tables:
        raise ValueError(
            "wide_cols and extra_tables widening cannot combine — the "
            "DDL-evolution rewrite assumes the canonical REPLACE shape")
    enc = encode_mysql_sql(
        changes, replicating_ts=0, safe_mode_split=True,
        extra_cols=tuple((c, False) for c in wide_cols))
    keys = changes.select(
        "seq", "commit_ts", "start_ts", "table_id",
        "schema_name", "table_name",
        F.expr("case op when 'D' then 1 when 'U' then 2 else 3 end")
        .alias("opr"),
        (F.col("table_id") % F.lit(n_lanes)).cast("bigint").alias("lane"),
    )
    out = enc.join(keys, "seq")
    if extra_tables:
        ids = ", ".join(str(int(t)) for t in sorted(extra_tables))
        is_extra = F.expr(
            f"table_id in ({ids}) and sql like 'REPLACE INTO %'")
        vals = changes.select(
            "seq", F.expr(extra_expr).cast("bigint").alias("_extra"))
        wide_sql = F.format_string(
            "REPLACE INTO `%s`.`%s` (`pk`,`event_type`,`value_cents`,"
            f"`{extra_col}`) VALUES (?,?,?,?)",
            F.col("schema_name"), F.col("table_name"),
        )
        out = (
            out.join(vals, "seq")
            .withColumn(
                "sql", F.when(is_extra, wide_sql).otherwise(F.col("sql")),
            )
            .withColumn(
                "args",
                F.when(
                    is_extra,
                    F.concat(
                        F.expr("substring(args, 1, length(args) - 1)"),
                        F.lit(","),
                        # a NULL after-image must render as JSON null —
                        # bare concat(NULL) would null the whole args
                        # vector and crash the writer in json.loads
                        F.expr("coalesce(cast(_extra as string), 'null')"),
                        F.lit("]"),
                    ),
                ).otherwise(F.col("args")),
            )
            .drop("_extra")
        )
    return out.select(
        "lane", "table_id", "schema_name", "table_name",
        "commit_ts", "start_ts", "opr", "seq", "piece_no", "sql", "args",
    )


#: multi-row statement bounds — the reference's defaults for the two
#: caps a rendered multi-row DML must respect (max-txn-row,
#: mysql/config.go:66 defaultMaxTxnRow; max_allowed_packet soft bound)
MULTIROW_MAX_ROWS = 256
MULTIROW_MAX_PACKET = 64 * 1024


def coalesce_multirow_statements(stmts: DataFrame,
                                 max_rows: int = MULTIROW_MAX_ROWS,
                                 max_packet: int = MULTIROW_MAX_PACKET
                                 ) -> DataFrame:
    """batch-dml's real win on MySQL (mysql/config.go:70
    batch-dml-enable + the driver's multi-row rewrite the reference
    relies on; r13 note): coalesce ADJACENT identical-text REPLACEs in
    a lane's apply order into ONE multi-row ``REPLACE INTO ... VALUES
    (...),(...),...`` statement, so one driver round (and one packet)
    carries the whole run. Input = ``render_safe_mode_statements``
    output; output = (lane, stmt_seq, n_rows, table_id, schema_name,
    table_name, sql, args) with args the concatenated JSON arg vector.

    Bounds mirror the writer's flush caps: a run splits every
    ``max_rows`` rows (max-txn-row) and whenever the accumulated arg
    bytes BEFORE a row cross a ``max_packet`` boundary (the same
    crossing-item-included semantics as the flush accounting — each
    statement's bytes stay under max_packet + one row). Non-REPLACE
    statements (the safe-mode DELETE pieces) pass through as singleton
    runs in order; only adjacency within (lane, apply-order) coalesces,
    so replaying the output row-at-a-time is statement-order-equivalent
    to the uncoalesced stream and converges to the same LWW state
    (pinned in ``tests/test_multirow_dml.py`` on the fake-MySQL
    driver). Pure window + aggregate expressions — no Python, one
    shuffle on lane (the same key the writer partitions by)."""
    from pyspark.sql import Window

    order_cols = ["commit_ts", "start_ts", "table_id", "opr", "seq",
                  "piece_no"]
    w = Window.partitionBy("lane").orderBy(*order_cols)
    is_rep = F.col("sql").startswith("REPLACE INTO ")
    prev_sql = F.lag("sql").over(w)
    prev_rep = F.lag(is_rep).over(w)
    brk = F.when(
        (~is_rep) | prev_sql.isNull() | (prev_sql != F.col("sql"))
        | (~prev_rep), F.lit(1)).otherwise(F.lit(0))
    df = stmts.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
    )
    wr = Window.partitionBy("lane", "run").orderBy("rn")
    df = df.select(
        "*",
        (F.row_number().over(wr) - 1).alias("ridx"),
        F.coalesce(
            F.sum(F.length("args")).over(
                wr.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("bytes_before"),
    ).withColumn(
        # split on BOTH bucket counters, not their max: each is monotone
        # non-decreasing along the run (so equal pairs stay adjacent),
        # and sharing bucket_r bounds the group to max_rows rows while
        # sharing bucket_b bounds its byte span to max_packet + one
        # row's args. greatest() of the two counters does NOT bound
        # either — the counters never reset when the OTHER criterion
        # splits, so rows from an early byte-overflow group would merge
        # with the next row-count group (caught by self-review repro;
        # regression-pinned with skewed arg sizes in
        # tests/test_multirow_dml.py)
        "bucket_r", F.expr(f"ridx div {int(max_rows)}"),
    ).withColumn(
        "bucket_b", F.expr(f"bytes_before div {int(max_packet)}"),
    )
    g = df.groupBy("lane", "run", "bucket_r", "bucket_b").agg(
        # bigint: row_number is int32 on Spark but the external oracle
        # compare is dtype-strict (DuckDB window funcs emit int64)
        F.min("rn").cast("bigint").alias("stmt_seq"),
        F.count(F.lit(1)).alias("n_rows"),
        F.any_value(F.col("table_id")).alias("table_id"),
        F.any_value(F.col("schema_name")).alias("schema_name"),
        F.any_value(F.col("table_name")).alias("table_name"),
        F.any_value(F.col("sql")).alias("sql1"),
        F.expr(
            # ordered concatenation of the arg-vector BODIES
            "array_join(transform(array_sort(collect_list(struct(rn, "
            "substring(args, 2, length(args) - 2) AS body))), "
            "x -> x.body), ',')").alias("args_body"),
    )
    # the single-row tuple is the statement's mandatory final
    # " VALUES (?,...,?)" tail — anchored extraction, NOT a split on
    # ' VALUES ': a backticked identifier may legally contain that
    # substring (render_safe_mode_statements carries identity columns
    # precisely so the writer never re-parses SQL text; the rebuild
    # must hold itself to the same rule)
    tup = "regexp_extract(sql1, ' VALUES (\\\\(\\\\?(?:,\\\\?)*\\\\))$', 1)"
    multi = F.expr(
        f"concat(substring(sql1, 1, length(sql1) - length({tup})), "
        f"array_join(array_repeat({tup}, cast(n_rows as int)), ','))")
    return g.select(
        "lane", "stmt_seq", "n_rows", "table_id", "schema_name",
        "table_name",
        F.when(F.col("n_rows") == 1, F.col("sql1"))
        .otherwise(multi).alias("sql"),
        F.concat(F.lit("["), F.col("args_body"), F.lit("]")).alias("args"),
    )


def _local_name(schema: str, table: str) -> str:
    """The SQLite physical name for ``schema``.``table`` (one namespace
    per lane file — the ``USE db`` equivalent)."""
    return f"{schema}__{table}"


def _ensure_meta(cur) -> None:
    cur.execute(
        "CREATE TABLE IF NOT EXISTS _tables "
        "(name TEXT PRIMARY KEY, table_id INTEGER)")
    cur.execute(
        "CREATE TABLE IF NOT EXISTS _applied (fence TEXT PRIMARY KEY)")
    # write-source attribution (SET SESSION tidb_cdc_write_source,
    # mysql helper.go:334-343): the downstream records WHO wrote, so a
    # capture reading this replica back tags the changes with a nonzero
    # source id and a BDR-mode feed can break the replication loop
    cur.execute(
        "CREATE TABLE IF NOT EXISTS _write_source "
        "(k INTEGER PRIMARY KEY CHECK (k = 1), source_id INTEGER)")
    # bookkeeping for recognized-no-op DDL classes (FK/partition ops on
    # the sqlite dialect): one row per distinct statement; a replay hits
    # the primary key and reports 'ignored'
    cur.execute(
        "CREATE TABLE IF NOT EXISTS _ddl_noops "
        "(sql TEXT PRIMARY KEY, action TEXT, tbl TEXT)")


class _LaneLock:
    """Exclusive advisory lock serializing whole lane applications, so a
    zombie task attempt can never interleave commits with its retry."""

    def __init__(self, db_path: str):
        self._fd = os.open(db_path + ".lock",
                           os.O_CREAT | os.O_RDWR, 0o644)

    def __enter__(self):
        import fcntl
        fcntl.flock(self._fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl
        fcntl.flock(self._fd, fcntl.LOCK_UN)
        os.close(self._fd)
        return False


def _exec_lane(db_path: str, stmts, txn_rows: int, max_packet: int,
               retries: int = 5, fence: str | None = None,
               write_source: int | None = None, driver=None,
               split_txn: bool = True, batch_dml: bool = True,
               wide_ddl: str = "") -> None:
    """Sequential writer for ONE lane: explicit txns of <= txn_rows
    statements / <= max_packet arg bytes, with the reference's error
    classes (``driver.classify``): transient → rollback + backoff retry;
    duplicate-entry → re-render the txn's INSERTs as safe-mode REPLACEs
    and retry (``mysql_writer.go`` translateToInsert=false form);
    packet-overflow → fall back to sending statements individually in
    minimal txns (``mysql_writer.go:766`` fallbackToSeqWay). ``stmts``
    is an iterable of (schema, table, table_id, sql, args_json[,
    txn_key]) already in apply order. ``fence`` names this lane
    application; the whole run holds the lane flock, and a fence already
    present in ``_applied`` (the winner finished) makes the call a no-op.

    ``split_txn=False`` is the reference's
    ``transaction-atomicity=table`` (``pkg/config/sink.go:48,106-112``
    ShouldSplitTxn): a single-table upstream transaction — statements
    sharing ``txn_key`` — is NEVER split across downstream commits, so
    a crash can't leave a half-applied txn visible; ``txn_rows`` /
    ``max_packet`` become soft bounds that flush only at txn-group
    boundaries, and the seq-way fallback commits per upstream txn
    instead of per statement.
    """
    import json

    driver = driver or dbapi.SqliteDriver()

    def with_retry(fn) -> None:
        """Transient-retry for the out-of-txn setup statements (write-
        source recording, implicit CREATEs) — the reference retries its
        whole tryExec including SetWriteSource (mysql_writer.go:778),
        so a lock-wait on these must not fail the lane either."""
        for attempt in range(retries):
            try:
                fn()
                return
            except driver.error_class as e:
                if driver.classify(e) != dbapi.TRANSIENT \
                        or attempt == retries - 1:
                    raise
                time.sleep(0.05 * (2 ** attempt))

    with _LaneLock(db_path):
        con = driver.connect(db_path)
        cur = con.cursor()
        with_retry(lambda: (_ensure_meta(cur), con.commit()))
        if fence is not None and list(cur.execute(
                "SELECT 1 FROM _applied WHERE fence = ?", (fence,))):
            con.close()
            return
        if write_source is not None:
            # session-scoped in the reference (SET SESSION
            # tidb_cdc_write_source, set per txn at mysql_writer.go:778);
            # one connection serves this whole lane application, so one
            # recording covers every txn it commits
            def record_source():
                cur.execute(
                    "INSERT OR REPLACE INTO _write_source VALUES (1, ?)",
                    (int(write_source),))
                con.commit()

            with_retry(record_source)
        # probe the LIMIT extension once per connection (MySQL has it)
        try:
            cur.execute("CREATE TEMP TABLE _probe(x INTEGER)")
            cur.execute("UPDATE _probe SET x = 1 LIMIT 1")
            strip_limit = False
        except driver.error_class:
            strip_limit = True
        cur.execute("DROP TABLE IF EXISTS _probe")
        con.commit()  # close the probe UPDATE's implicit transaction
        made = {name for (name,) in cur.execute("SELECT name FROM _tables")}
        pending: list[tuple[str, list]] = []
        pending_bytes = 0
        #: ROW weight of the pending txn — equals len(pending) for
        #: row-at-a-time statements; a pre-coalesced multi-row statement
        #: carries its n_rows so the txn_rows bound stays a bound on
        #: ROWS per downstream txn (max-txn-row semantics), not on
        #: statement count
        pending_rows = 0

        def mark_fence() -> None:
            cur.execute(
                "INSERT OR IGNORE INTO _applied VALUES (?)", (fence,))
            # retention: a marker only fences replays of recent batches
            # (Spark retries the CURRENT micro-batch); keep a bounded
            # window so a long-lived changefeed's lane DBs don't
            # accumulate one row per batch forever
            cur.execute(
                "DELETE FROM _applied WHERE rowid < "
                "(SELECT max(rowid) FROM _applied) - 64")

        def flush(mark: bool = False) -> None:
            nonlocal pending, pending_bytes, pending_rows
            pending_rows = 0
            if not pending and not mark:
                return
            seq_way = False  # packet-overflow fallback: minimal txns
            for attempt in range(retries):
                try:
                    if seq_way:
                        # fallbackToSeqWay (mysql_writer.go:766):
                        # statements are sent individually in minimal
                        # txns (per statement, or per upstream txn group
                        # under transaction-atomicity=table — atomicity
                        # survives the fallback); safe-mode statements
                        # stay idempotent so the partial progress of a
                        # failed multi-txn attempt is harmless
                        i = 0
                        while i < len(pending):
                            j = i + 1
                            if not split_txn:
                                while (j < len(pending)
                                       and pending[j][2] == pending[i][2]):
                                    j += 1
                            cur.execute("BEGIN")
                            for s, a, _k in pending[i:j]:
                                cur.execute(s, a)
                            con.commit()
                            i = j
                        if mark and fence is not None:
                            cur.execute("BEGIN")
                            mark_fence()
                            con.commit()
                        pending, pending_bytes = [], 0
                        return
                    cur.execute("BEGIN")
                    # duck-typed drivers may lack executemany (DBAPI
                    # guarantees it, but the seam accepts any cursor
                    # with execute) — fall back per-statement then
                    _many = getattr(cur, "executemany", None)
                    if batch_dml and _many is not None:
                        # batch-dml-enable (mysql/config.go:70,104,
                        # default true): the reference renders multi-row
                        # DML for row runs against one table; the DBAPI
                        # twin is executemany over consecutive
                        # statements sharing the SQL text (same
                        # semantics, one driver round per run). Order
                        # within the lane is preserved — only adjacent
                        # identical-text statements coalesce
                        i = 0
                        np = len(pending)
                        while i < np:
                            s, a, _k = pending[i]
                            j = i + 1
                            if a:
                                while (j < np and pending[j][0] == s
                                       and pending[j][1]):
                                    j += 1
                            if j - i > 1:
                                _many(s, [p[1] for p in pending[i:j]])
                            else:
                                cur.execute(s, a)
                            i = j
                    else:
                        for s, a, _k in pending:
                            cur.execute(s, a)
                    if mark and fence is not None:
                        mark_fence()
                    con.commit()
                    pending, pending_bytes = [], 0
                    return
                except driver.error_class as e:
                    con.rollback()
                    kind = driver.classify(e)
                    if kind == dbapi.TRANSIENT:  # locked/busy/deadlock
                        if attempt == retries - 1:
                            raise
                        time.sleep(0.05 * (2 ** attempt))
                    elif kind == dbapi.DUP_ENTRY:
                        # safe-mode fallback: re-render the txn's plain
                        # INSERTs as REPLACEs (idempotent form) and retry
                        if attempt == retries - 1:
                            raise
                        pending = [
                            ("REPLACE INTO" + s[len("INSERT INTO"):]
                             if s.startswith("INSERT INTO") else s, a, k)
                            for s, a, k in pending
                        ]
                    elif kind == dbapi.PACKET_OVERFLOW:
                        if attempt == retries - 1:
                            raise
                        seq_way = True
                    else:
                        raise

        cur_key = None
        for schema, table, table_id, sql, args_json, *rest in stmts:
            txn_key = rest[0] if rest else None
            weight = int(rest[1]) if len(rest) > 1 else 1
            tbl = _local_name(schema, table)
            if tbl not in made:
                flush()  # implicit CREATE outside the DML txn

                def create_base(tbl=tbl, table_id=table_id):
                    cur.execute(
                        f"CREATE TABLE IF NOT EXISTS `{tbl}` "
                        "(pk INTEGER PRIMARY KEY, event_type TEXT, "
                        f"value_cents INTEGER{wide_ddl})"
                    )
                    cur.execute(
                        "INSERT OR IGNORE INTO _tables VALUES (?, ?)",
                        (tbl, int(table_id)))
                    con.commit()

                with_retry(create_base)
                made.add(tbl)
            sql = sql.replace(f"`{schema}`.`{table}`", f"`{tbl}`")
            if strip_limit:
                sql = sql.replace(" LIMIT 1", "")
            # flush BEFORE appending, and under atomicity=table only at
            # an upstream-txn boundary — a txn group never splits across
            # downstream commits. The row check must account for the
            # INCOMING statement's weight: `pending_rows >= txn_rows`
            # alone would let a 15-row remainder + a full 16-row
            # multi-row statement commit as a 31-row txn, breaking the
            # max-txn-row bound (weight-1 behavior is unchanged:
            # pending_rows + 1 > txn_rows ⇔ the old len >= txn_rows)
            if pending and (pending_rows + weight > txn_rows
                            or pending_bytes >= max_packet):
                if split_txn or txn_key is None or txn_key != cur_key:
                    flush()
            pending.append((sql, json.loads(args_json), txn_key))
            pending_bytes += len(args_json)
            pending_rows += weight
            cur_key = txn_key
        flush(mark=True)
        con.close()


# ---------------------------------------------------------------------------
# MySQL → SQLite DDL translation (the executable writer's statement matrix)
# ---------------------------------------------------------------------------

_QI = r"`(?P<schema>[^`]+)`\s*\.\s*`(?P<table>[^`]+)`"

#: recognizers for the reference's executable DDL action classes
#: (logservice/schemastore/persist_storage.go:812-939 action switch;
#: the writer executes the raw SQL, mysql_writer.go:600-668) — each maps
#: a MySQL statement form onto SQLite's dialect
_DDL_FORMS = [
    ("add-index",
     rf"ALTER\s+TABLE\s+{_QI}\s+ADD\s+(?P<unique>UNIQUE\s+)?"
     rf"(?:INDEX|KEY)\s+`?(?P<name>\w+)`?\s*\((?P<cols>.+)\)\s*$"),
    ("add-index",
     rf"CREATE\s+(?P<unique>UNIQUE\s+)?INDEX\s+`?(?P<name>\w+)`?\s+"
     rf"ON\s+{_QI}\s*\((?P<cols>.+)\)\s*$"),
    ("drop-index",
     rf"ALTER\s+TABLE\s+{_QI}\s+DROP\s+(?:INDEX|KEY)\s+`?(?P<name>\w+)`?\s*$"),
    ("drop-index",
     rf"DROP\s+INDEX\s+`?(?P<name>\w+)`?\s+ON\s+{_QI}\s*$"),
    # r13: previously-fall-through classes get explicit actions
    # (persist_storage.go:812-939 — ActionRenameColumn, ActionAdd/Drop-
    # ForeignKey, ActionAdd/Drop/Truncate/Exchange/ReorganizePartition)
    ("rename-column",
     rf"ALTER\s+TABLE\s+{_QI}\s+RENAME\s+COLUMN\s+`?(?P<old>\w+)`?\s+"
     rf"TO\s+`?(?P<new>\w+)`?\s*$"),
    ("add-foreign-key",
     rf"ALTER\s+TABLE\s+{_QI}\s+ADD\s+"
     rf"(?:CONSTRAINT\s+`?(?P<name>\w+)`?\s+)?FOREIGN\s+KEY\s*"
     rf"\((?P<cols>[^)]+)\)\s*REFERENCES\s+.+$"),
    ("drop-foreign-key",
     rf"ALTER\s+TABLE\s+{_QI}\s+DROP\s+FOREIGN\s+KEY\s+"
     rf"`?(?P<name>\w+)`?\s*$"),
    # r14: exchange-partition gets its own form so the executing sink
    # can perform the data swap (persist_storage.go:877-885; scenario
    # partition_table/); must precede the generic partition catch-all
    ("exchange-partition",
     rf"ALTER\s+TABLE\s+{_QI}\s+EXCHANGE\s+PARTITION\s+"
     rf"`?(?P<pname>\w+)`?\s+WITH\s+TABLE\s+"
     rf"(?:`(?P<schema2>[^`]+)`\s*\.\s*)?`?(?P<table2>\w+)`?"
     rf"(?:\s+(?P<novalid>WITHOUT\s+VALIDATION))?\s*$"),
    ("partition",
     rf"ALTER\s+TABLE\s+{_QI}\s+"
     rf"(?P<verb>ADD|DROP|TRUNCATE|COALESCE|REORGANIZE|EXCHANGE)\s+"
     rf"PARTITION\b(?P<rest>.*)$"),
    ("rename-table",
     rf"RENAME\s+TABLE\s+{_QI}\s+TO\s+"
     rf"(?:`(?P<schema2>[^`]+)`\s*\.\s*)?`?(?P<table2>\w+)`?\s*$"),
    ("rename-table",
     rf"ALTER\s+TABLE\s+{_QI}\s+RENAME\s+(?:TO\s+)?"
     rf"(?:`(?P<schema2>[^`]+)`\s*\.\s*)?`?(?P<table2>\w+)`?\s*$"),
    ("modify-column",
     rf"ALTER\s+TABLE\s+{_QI}\s+MODIFY\s+(?:COLUMN\s+)?`?(?P<name>\w+)`?\s+"
     rf"(?P<decl>.+?)\s*$"),
    ("truncate-table", rf"TRUNCATE\s+(?:TABLE\s+)?{_QI}\s*$"),
    ("drop-table", rf"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_QI}\s*$"),
]

#: MySQL column type → SQLite storage affinity (rebuild path)
_AFFINITY = (("INT", "INTEGER"), ("BIGINT", "INTEGER"),
             ("DECIMAL", "REAL"), ("DOUBLE", "REAL"), ("FLOAT", "REAL"),
             ("CHAR", "TEXT"), ("TEXT", "TEXT"), ("BLOB", "BLOB"),
             ("BINARY", "BLOB"), ("DATE", "TEXT"), ("TIME", "TEXT"))

#: replay errors ignorable PER ACTION beyond the driver's global class —
#: the SQLite spellings of the codes apperror.IsIgnorableMySQLDDLError
#: covers for that action (drop-of-missing analogs 1008/1051/1091/1176)
_ACTION_IGNORABLE = {
    # NOTE: "already exists" deliberately absent for rename — replay is
    # detected by STATE before execution (target present AND source
    # absent); an execution-time collision must surface, not be
    # swallowed (r12 ADVICE)
    "rename-table": ("no such table",),
    "drop-table": ("no such table",),
    "drop-index": ("no such index",),
    # rename-column replay: the old column is gone after the original
    # applied (ErrBadField(1054) analog)
    "rename-column": ("no such column",),
}

#: action classes with no physical SQLite form (FKs are table-creation-
#: time only in SQLite without a rebuild; partitioning is a MySQL
#: storage-layout concept with no SQLite analog) — executed as
#: RECOGNIZED no-ops with bookkeeping in `_ddl_noops`, while a
#: mysql-dialect backend gets the original statement verbatim via the
#: passthrough path (persist_storage.go:812-939 tracks them; the
#: reference's writer runs the raw SQL, mysql_writer.go:600-668)
_NOOP_ACTIONS = frozenset({"add-foreign-key", "drop-foreign-key",
                           "partition"})


def _sqlite_decl(mysql_decl: str) -> str:
    """Column type for the rebuild: the MySQL decl's base type mapped to
    a SQLite affinity (modifiers like UNSIGNED/NOT NULL are storage
    no-ops in SQLite's dynamic typing and are dropped)."""
    up = mysql_decl.upper()
    for frag, aff in _AFFINITY:
        if frag in up:
            return aff
    return "NUMERIC"


def _partition_pred(scheme: dict, pname: str) -> str:
    """SQL predicate selecting one partition's rows under a registered
    scheme. Hash partitioning (the scenario's ``partition by hash(a)
    partitions N``): partition ``pK`` holds rows with
    ``column % N == K``. Only the strict ``p<digits>`` spelling maps to
    an ordinal — anything else raises a CLEAR error instead of silently
    targeting the wrong partition (``pp1`` must not become 1)."""
    import re

    if scheme.get("kind") != "hash":
        raise ValueError(f"unsupported partition scheme {scheme!r}")
    m = re.fullmatch(r"[pP](\d+)", pname)
    if not m:
        raise ValueError(
            f"partition name {pname!r} does not map to a hash-scheme "
            f"ordinal (expected p<digits>)")
    k = int(m.group(1))
    if k >= int(scheme["parts"]):
        raise ValueError(
            f"partition {pname!r} out of range for a {scheme['parts']}-"
            f"part hash scheme")
    return f"(`{scheme['column']}` % {int(scheme['parts'])}) = {k}"


def translate_ddl_for_sqlite(query: str, schema: str, table: str,
                             partition_scheme: dict | None = None
                             ) -> tuple[str, list[str], dict]:
    """One MySQL DDL → (action, local SQLite statements, meta).

    Statement matrix (widened r12): add/drop column (native), add/drop
    index (CREATE/DROP INDEX with the index name prefixed into the lane
    namespace), rename table (+ ``_tables`` mapping follow-up), modify
    column (flagged for the rebuild path — SQLite has no MODIFY),
    truncate (DELETE FROM), drop table. Anything unrecognized falls
    through as the schema-qualified local rename the r9 path applied.

    r14: when the caller registers a ``partition_scheme`` (``{"kind":
    "hash", "column": ..., "parts": N}``), the partition verbs gain
    their downstream DATA effect — MySQL executes them natively
    (mysql_writer.go:600-668 runs the raw SQL) but SQLite has no
    partitions, so the twin renders the row movement: TRUNCATE/DROP
    PARTITION delete the partition's rows; EXCHANGE PARTITION swaps the
    partition's rows with the standalone table's rows (WITHOUT
    VALIDATION semantics — MySQL moves the rows unconditionally; both
    tables must be shape-identical, the MySQL 1736/1737 precondition).
    Without a scheme they remain recognized bookkept no-ops.
    """
    import re

    tbl = _local_name(schema, table)
    q = query.strip().rstrip(";")
    for action, pat in _DDL_FORMS:
        m = re.match(pat, q, re.IGNORECASE)
        if not m or m.group("schema") != schema or m.group("table") != table:
            continue
        g = m.groupdict()
        if action == "exchange-partition":
            if partition_scheme is None:
                # no scheme registered: same bookkept no-op the generic
                # partition class gets
                return "partition", [], {"verb": "EXCHANGE"}
            other = _local_name(g.get("schema2") or schema, g["table2"])
            pred = _partition_pred(partition_scheme, g["pname"])
            return action, [
                f"CREATE TEMP TABLE _xp_swap AS "
                f"SELECT * FROM `{tbl}` WHERE {pred}",
                f"DELETE FROM `{tbl}` WHERE {pred}",
                f"INSERT INTO `{tbl}` SELECT * FROM `{other}`",
                f"DELETE FROM `{other}`",
                f"INSERT INTO `{other}` SELECT * FROM _xp_swap",
                "DROP TABLE _xp_swap",
            ], {"other": other, "partition": g["pname"]}
        if (action == "partition" and partition_scheme is not None
                and (g.get("verb") or "").upper() in ("TRUNCATE", "DROP")):
            rest = (g.get("rest") or "").strip()
            if rest.upper() == "ALL":
                # TRUNCATE PARTITION ALL: every partition's rows go
                return "partition-data", [f"DELETE FROM `{tbl}`"], {
                    "verb": g["verb"].upper(), "partition": "ALL"}
            # the verb takes a comma-separated partition NAME LIST
            # (scenario: REORGANIZE p0,p2; TRUNCATE p1 — one DELETE per
            # named partition, or MySQL-divergent rows survive silently)
            names = [p.strip().strip("`") for p in rest.split(",")]
            if names and all(names):
                preds = [_partition_pred(partition_scheme, p)
                         for p in names]
                return "partition-data", [
                    f"DELETE FROM `{tbl}` WHERE {pred}"
                    for pred in preds], {
                    "verb": g["verb"].upper(),
                    "partition": ",".join(names)}
        if action == "add-index":
            uniq = "UNIQUE " if g.get("unique") else ""
            # MySQL prefix-length index parts (`note`(10)) have no
            # SQLite equivalent — index the whole column
            cols = re.sub(r"\(\s*\d+\s*\)", "", g["cols"])
            return action, [
                f"CREATE {uniq}INDEX `{tbl}__{g['name']}` "
                f"ON `{tbl}` ({cols})"], {"index": g["name"]}
        if action == "drop-index":
            return action, [f"DROP INDEX `{tbl}__{g['name']}`"], {
                "index": g["name"]}
        if action == "rename-column":
            return action, [
                f"ALTER TABLE `{tbl}` RENAME COLUMN "
                f"`{g['old']}` TO `{g['new']}`"], {
                "old": g["old"], "new": g["new"]}
        if action in _NOOP_ACTIONS:
            # recognized no-op on the sqlite dialect; bookkept so replay
            # detection and audits see it (the mysql dialect never gets
            # here — passthrough runs the original statement verbatim)
            return action, [], {"verb": (g.get("verb") or "").upper()}
        if action == "rename-table":
            new = _local_name(g.get("schema2") or schema, g["table2"])
            return action, [f"ALTER TABLE `{tbl}` RENAME TO `{new}`"], {
                "rename_to": new}
        if action == "modify-column":
            return action, [], {"column": g["name"],
                                "decl": _sqlite_decl(g["decl"])}
        if action == "truncate-table":
            return action, [f"DELETE FROM `{tbl}`"], {}
        if action == "drop-table":
            return action, [f"DROP TABLE `{tbl}`"], {}
    return "query", [q.replace(f"`{schema}`.`{table}`", f"`{tbl}`")], {}


def _rebuild_modify_column(cur, tbl: str, column: str, decl: str) -> None:
    """MODIFY COLUMN via the documented SQLite rebuild (the lite form of
    sqlite.org/lang_altertable.html §7): new-decl shadow table, copy,
    drop, rename back, then re-create the table's indexes. Untouched
    columns keep their NOT NULL / DEFAULT clauses — MySQL's MODIFY
    leaves other columns' constraints intact, so must the rebuild."""
    cols = list(cur.execute(f"PRAGMA table_info(`{tbl}`)"))
    defs = []
    for _cid, name, ctype, notnull, dflt, pk in cols:
        if name == column:
            d = f"`{name}` {decl}"
        else:
            d = f"`{name}` {ctype or 'NUMERIC'}"
            if notnull:
                d += " NOT NULL"
            if dflt is not None:
                d += f" DEFAULT {dflt}"  # PRAGMA returns the SQL literal
        defs.append(d + (" PRIMARY KEY" if pk else ""))
    idx_sql = [r[0] for r in cur.execute(
        "SELECT sql FROM sqlite_master WHERE type='index' "
        "AND tbl_name=? AND sql IS NOT NULL", (tbl,))]
    tmp = f"{tbl}__mod"
    cur.execute(f"DROP TABLE IF EXISTS `{tmp}`")
    cur.execute(f"CREATE TABLE `{tmp}` ({', '.join(defs)})")
    cur.execute(f"INSERT INTO `{tmp}` SELECT * FROM `{tbl}`")
    cur.execute(f"DROP TABLE `{tbl}`")
    cur.execute(f"ALTER TABLE `{tmp}` RENAME TO `{tbl}`")
    for s in idx_sql:
        cur.execute(s)


def _exec_ddl_passthrough(db_path: str, query: str, driver,
                          retries: int = 5) -> str:
    """execDDL against a MySQL-dialect backend: the ORIGINAL statement
    in its own transaction, server-code classification (ignorable =
    already-applied replay), bounded retry. The lane lock still
    serializes local attempts; the server serializes everything else."""
    with _LaneLock(db_path):
        con = driver.connect(db_path)
        cur = con.cursor()
        outcome = "applied"
        for attempt in range(retries):
            try:
                cur.execute(query)
                con.commit()
                break
            except driver.error_class as e:
                con.rollback()
                kind = driver.classify(e)
                if kind == dbapi.IGNORABLE_DDL:
                    outcome = "ignored"
                    break
                if kind != dbapi.TRANSIENT or attempt == retries - 1:
                    raise
                time.sleep(0.05 * (2 ** attempt))
        con.close()
        return outcome


def exec_ddl_on_lane(db_path: str, query: str, schema: str, table: str,
                     table_id: int, retries: int = 5,
                     write_source: int | None = None, driver=None,
                     partition_scheme: dict | None = None,
                     ddl_ts: int | None = None,
                     wide_ddl: str = "") -> str:
    """Execute one DDL on a lane DB the way the reference's MySQL writer
    does (``mysql_writer.go:600-668``): its OWN transaction, the ``USE
    db`` switch (here: the schema-qualified local rename), the write-
    source tag (``:619`` SetWriteSource in the DDL txn), bounded retry,
    and the ignorable-error class treated as an already-applied replay
    (``driver.classify`` — error CODES for mysql, message substrings for
    sqlite). Returns 'applied' | 'ignored'.
    """
    driver = driver or dbapi.SqliteDriver()
    if getattr(driver, "dialect", "sqlite") != "sqlite":
        # a real MySQL-dialect server executes the reference's DDL
        # verbatim (mysql_writer.go:600-668 runs the raw statement) —
        # the SQLite translations (PRAGMA rebuild, DROP INDEX without
        # ON, _tables bookkeeping) must never reach it
        return _exec_ddl_passthrough(db_path, query, driver, retries)
    with _LaneLock(db_path):
        con = driver.connect(db_path)
        cur = con.cursor()
        _ensure_meta(cur)
        if write_source is not None:
            cur.execute(
                "INSERT OR REPLACE INTO _write_source VALUES (1, ?)",
                (int(write_source),))
        tbl = _local_name(schema, table)
        action, stmts, meta = translate_ddl_for_sqlite(
            query, schema, table, partition_scheme)
        have = {r[0] for r in cur.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")}
        # already-applied replay detection by downstream STATE (the
        # shouldExecDDLByTs analog the ddl_ts_v1 table backs in the
        # reference): a rename whose target exists / a drop whose table
        # is gone re-arrived after the original applied
        if action == "rename-table" and meta["rename_to"] in have:
            # replay ONLY when the source is also gone — target present
            # with the source still live is a genuine name collision
            # between two distinct tables and must surface (r12 ADVICE)
            if tbl not in have:
                con.close()
                return "ignored"
            con.close()
            raise dbapi.DDLCollisionError(
                f"RENAME TABLE target `{meta['rename_to']}` already "
                f"exists while source `{tbl}` is still present — "
                "not a replay; refusing to swallow")
        if action == "drop-table" and tbl not in have:
            con.close()
            return "ignored"
        if action in ("exchange-partition", "partition-data"):
            # data-moving verbs NEED the ts fence: with a text-only key
            # a LATER legitimate identical DDL would be silently
            # swallowed as a replay (the reference fences on ddl_ts —
            # shouldExecDDLByTs / ddl_ts_v1)
            if ddl_ts is None:
                con.close()
                raise ValueError(
                    f"{action} requires ddl_ts for replay fencing")
            if (action == "exchange-partition"
                    and meta["other"] not in have):
                # both tables of an exchange live in ONE downstream txn
                # — the standalone table must exist on THIS lane (route
                # partition DDL by the logical table id and keep the
                # pair co-located); surface the constraint clearly
                # instead of a retried 'no such table'
                con.close()
                raise dbapi.DDLCollisionError(
                    f"EXCHANGE PARTITION standalone table "
                    f"`{meta['other']}` is not on this lane DB — the "
                    f"exchange pair must share a lane")
        if action != "drop-table":
            # DDL may precede any DML for the table (schema-first
            # changefeed start) — materialize the base table like the
            # DML path would, INCLUDING the sink's wide schema columns
            # (a narrow create here would crash the first widened
            # REPLACE with 'no column named ...')
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS `{tbl}` "
                "(pk INTEGER PRIMARY KEY, event_type TEXT, "
                f"value_cents INTEGER{wide_ddl})")
            cur.execute("INSERT OR IGNORE INTO _tables VALUES (?, ?)",
                        (tbl, int(table_id)))
        con.commit()
        outcome = "applied"
        for attempt in range(retries):
            try:
                cur.execute("BEGIN")
                if action == "modify-column":
                    _rebuild_modify_column(cur, tbl, meta["column"],
                                           meta["decl"])
                elif action in _NOOP_ACTIONS:
                    # recognized no-op: bookkeep once; a replay hits the
                    # primary key and reports 'ignored' like any other
                    # already-applied action
                    cur.execute(
                        "INSERT OR IGNORE INTO _ddl_noops VALUES (?, ?, ?)",
                        (query.strip().rstrip(";"), action, tbl))
                    if cur.rowcount == 0:
                        outcome = "ignored"
                elif action in ("exchange-partition", "partition-data"):
                    # data-moving partition verbs are NOT idempotent (a
                    # replayed exchange would swap back) — fence on
                    # (statement, ddl_ts) so a replay is ignored but a
                    # LATER identical statement still runs (ddl_ts is
                    # required, checked above — the reference fences on
                    # ts via shouldExecDDLByTs / ddl_ts_v1)
                    fence_key = (query.strip().rstrip(";")
                                 + f"@{int(ddl_ts)}")
                    cur.execute(
                        "INSERT OR IGNORE INTO _ddl_noops VALUES (?, ?, ?)",
                        (fence_key, action, tbl))
                    if cur.rowcount == 0:
                        outcome = "ignored"
                    else:
                        for s in stmts:
                            cur.execute(s)
                else:
                    for s in stmts:
                        cur.execute(s)
                # _tables mapping follow-ups so read_state keeps
                # resolving the table_id after the physical change
                if action == "rename-table":
                    new = meta["rename_to"]
                    # re-prefix the table's `{tbl}__{name}` lane indexes
                    # to the NEW table name — SQLite keeps index names
                    # across RENAME TABLE, so a later DROP INDEX issued
                    # against the renamed table would resolve to
                    # `{new}__{name}`, miss, and be silently 'ignored'
                    # (r12 ADVICE)
                    for iname, isql in list(cur.execute(
                            "SELECT name, sql FROM sqlite_master WHERE "
                            "type='index' AND tbl_name=? AND sql IS NOT "
                            "NULL", (new,))):
                        if not iname.startswith(f"{tbl}__"):
                            continue
                        new_iname = f"{new}__{iname[len(tbl) + 2:]}"
                        cur.execute(f"DROP INDEX `{iname}`")
                        cur.execute(isql.replace(
                            f"`{iname}`", f"`{new_iname}`", 1))
                    cur.execute("DELETE FROM _tables WHERE name=?",
                                (new,))
                    cur.execute("UPDATE _tables SET name=? WHERE name=?",
                                (new, tbl))
                elif action == "drop-table":
                    cur.execute("DELETE FROM _tables WHERE name=?", (tbl,))
                con.commit()
                break
            except driver.error_class as e:
                con.rollback()
                kind = driver.classify(e)
                msg = str(e).lower()
                if kind == dbapi.IGNORABLE_DDL or any(
                        p in msg for p in _ACTION_IGNORABLE.get(action, ())):
                    # already-applied replay: ignore, like the reference
                    outcome = "ignored"
                    break
                if kind != dbapi.TRANSIENT or attempt == retries - 1:
                    raise
                time.sleep(0.05 * (2 ** attempt))
        con.close()
        return outcome


class SqliteApplySink(Sink):
    """foreachBatch sink executing the rendered statement stream on
    per-lane SQLite files via foreachPartition — the one sink owning a
    downstream database, so the one that runs DDL and mirrors syncpoint
    ticks there."""

    def __init__(self, db_dir: str, n_lanes: int = DEFAULT_LANES,
                 txn_rows: int = 256, max_packet: int = 64 * 1024,
                 write_source: int | None = None,
                 driver=None, split_txn: bool = True,
                 changefeed: str = "", cluster_id: str = "default",
                 batch_dml: bool = True,
                 multirow_dml: bool = False,
                 wide_cols: tuple[tuple[str, str], ...] = ()):
        self.db_dir = db_dir
        self.n_lanes = n_lanes
        self.txn_rows = txn_rows
        self.max_packet = max_packet
        #: this writer's tidb_cdc_write_source twin (helper.go:334-343)
        self.write_source = write_source
        #: identity columns of the downstream tidb_cdc bookkeeping tables
        #: (mysql_writer.go: ticdc_cluster_id = GetGlobalServerConfig()
        #: .ClusterID, default "default"; changefeed = the feed id)
        self.changefeed = changefeed
        self.cluster_id = cluster_id
        #: DBAPI seam (streaming/dbapi.py): connect factory + error
        #: classifier; shipped to executors inside the foreachPartition
        #: closure, so it must be picklable
        self.driver = driver or dbapi.SqliteDriver()
        #: transaction-atomicity (sink.go:39-49): False = 'table' level —
        #: single-table upstream txns apply atomically downstream
        self.split_txn = split_txn
        #: batch-dml-enable (mysql/config.go:70, default true): adjacent
        #: identical-SQL statements coalesce into one executemany
        self.batch_dml = batch_dml
        #: explicit multi-row rendering (the MySQL driver's
        #: rewriteBatchedStatements form batch-dml actually wins by):
        #: adjacent same-table REPLACEs render as ONE multi-row VALUES
        #: statement via coalesce_multirow_statements, bounded by
        #: txn_rows/max_packet, and each statement commits in its own
        #: downstream txn (= the driver txn that carried the batch).
        #: Requires split_txn (multi-row runs span upstream txns).
        self.multirow_dml = multirow_dml
        if multirow_dml and not split_txn:
            raise ValueError(
                "batch-dml-multirow requires transaction-atomicity=none "
                "(multi-row statements coalesce rows across upstream "
                "transactions, which 'table' atomicity must not split "
                "or merge)")
        #: full-width table schema beyond the canonical payload:
        #: (column, sqlite_decl) pairs — statements render the widened
        #: column list/args (encode_mysql_sql extra_cols) and lane
        #: tables are created with the widened DDL (the reference's
        #: writer always renders the table's full TableInfo schema)
        self.wide_cols = tuple(wide_cols)
        os.makedirs(db_dir, exist_ok=True)
        # lane = table_id % n_lanes names PERSISTENT files: restarting a
        # feed over an existing db_dir with a different worker-count
        # would route a table to a fresh lane DB while its old rows stay
        # in the previous one — read_state would then union stale and
        # current rows. Pin the count on first use, refuse a mismatch.
        marker = os.path.join(db_dir, "_lanes")
        if os.path.exists(marker):
            pinned = int(open(marker).read().strip())
            if pinned != n_lanes:
                raise ValueError(
                    f"db_dir {db_dir} was written with worker-count="
                    f"{pinned}; restarting with {n_lanes} would split "
                    "tables across lane files — keep the original value "
                    "or start a fresh sink dir")
        else:
            with open(marker, "w") as f:
                f.write(str(n_lanes))

    @classmethod
    def from_config(cls, cfg, scheme, q, work_dir) -> SqliteApplySink:
        """sqlite:// on per-lane SQLite files; mysql://tidb:// through a
        registered MySQL DBAPI driver. Tuning rides on the sink URI like
        the reference's MySQL sink (pkg/sink/mysql/config.go:37-55, the
        same caps); lanes default to 4, not 16 — a single-host SQLite
        file set saturates earlier than a MySQL server, and dispatch is
        table-granular (mysql_sink.go:147), so parallelism is
        min(worker-count, distinct tables)."""
        return cls(
            os.path.join(work_dir, "sqlite", cfg.changefeed_id),
            n_lanes=uri_int(q, "worker-count", 4, 1024),
            txn_rows=uri_int(q, "max-txn-row", 256, 2048),
            max_packet=uri_int(q, "max-packet", 64 * 1024, 1 << 30),
            write_source=cfg.source_id,
            driver=dbapi.get_driver(scheme, cfg.sink_uri),
            split_txn=cfg.sink.txn_atomicity != "table",
            changefeed=cfg.changefeed_id,
            # batch-dml-enable (mysql/config.go:70, default true)
            batch_dml=uri_flag(q, "batch-dml-enable", True),
            # batch-dml-multirow: the multi-row VALUES form (the MySQL
            # driver's rewriteBatchedStatements shape) instead of the
            # executemany coalescing twin
            multirow_dml=uri_flag(q, "batch-dml-multirow"),
            wide_cols=tuple((n, decl)
                            for n, _, decl in (cfg.wide_payload or ())))

    def dirs(self) -> list[str]:
        return [self.db_dir]

    def process_batch(self, changes: DataFrame, batch_id: int,
                      fence: str | None = None,
                      extra_tables: frozenset[int] | set[int]
                      = frozenset(),
                      summary: list | None = None) -> None:
        """Apply one micro-batch (or one DDL-barrier sub-batch — pass a
        distinct ``fence`` per sub-batch then). The default fence is the
        micro-batch id, so a full replay after a crash between sink
        commit and checkpoint commit short-circuits on the marker. The
        lanes come from the rows themselves, so ``summary`` goes unused."""
        if extra_tables and self.wide_cols:
            # fail fast at the sink's DDL-accept point, before anything
            # of this batch renders or applies: a full-width sink
            # (wide_cols) cannot also take the add-column DDL widening —
            # render_safe_mode_statements would refuse mid-render
            # otherwise, which reads as a mid-apply crash rather than
            # the configuration error it is
            raise ValueError(
                "sink configuration error: this SqliteApplySink was "
                "constructed with wide_cols (full-width schema) and "
                "cannot apply add-column DDL evolution (extra_tables="
                f"{sorted(extra_tables)}); configure the feed with "
                "either the wide schema or DDL widening, not both — "
                f"rejected before batch {batch_id} rendered")
        stmts = render_safe_mode_statements(
            changes, self.n_lanes, extra_tables,
            wide_cols=tuple(n for n, _ in self.wide_cols))
        multirow = self.multirow_dml
        if multirow:
            stmts = coalesce_multirow_statements(
                stmts, max_rows=self.txn_rows, max_packet=self.max_packet)
        db_dir, txn_rows, max_packet = \
            self.db_dir, self.txn_rows, self.max_packet
        write_source, driver = self.write_source, self.driver
        split_txn, batch_dml = self.split_txn, self.batch_dml
        wide_ddl = "".join(f", `{n}` {decl}" for n, decl in self.wide_cols)
        fence = f"b{batch_id}" if fence is None else fence

        def run_partition(rows) -> None:
            # a hash partition may hold several whole lanes; each lane
            # replays sequentially on its own connection
            by_lane: dict[int, list] = {}
            for r in rows:
                by_lane.setdefault(r["lane"], []).append(r)
            for lane, rs in by_lane.items():
                if multirow:
                    # statements ship their n_rows as the txn weight,
                    # so the writer still bounds ROWS per downstream
                    # txn at txn_rows (max-txn-row semantics) while
                    # committing far fewer times than per-statement —
                    # per-statement txns cost ~9x wall at sf0.1 (one
                    # sqlite commit per ~2-row statement)
                    rs.sort(key=lambda r: r["stmt_seq"])
                    _exec_lane(
                        os.path.join(db_dir, f"lane-{lane}.db"),
                        ((r["schema_name"], r["table_name"],
                          r["table_id"], r["sql"], r["args"], None,
                          r["n_rows"])
                         for r in rs),
                        txn_rows, max_packet,
                        fence=f"{fence}.l{lane}",
                        write_source=write_source,
                        driver=driver,
                        split_txn=True,
                        batch_dml=False,  # statements are pre-coalesced
                        wide_ddl=wide_ddl,
                    )
                    continue
                # table_id sits INSIDE the (commit_ts, start_ts) txn
                # group: a multi-table upstream txn whose tables share a
                # lane must keep each single-table slice CONTIGUOUS, or
                # transaction-atomicity=table would see alternating
                # txn_keys and flush mid-slice. Per-key order is
                # unaffected — a key lives in exactly one table
                rs.sort(key=lambda r: (r["commit_ts"], r["start_ts"],
                                       r["table_id"], r["opr"],
                                       r["seq"], r["piece_no"]))
                _exec_lane(
                    os.path.join(db_dir, f"lane-{lane}.db"),
                    ((r["schema_name"], r["table_name"], r["table_id"],
                      r["sql"], r["args"],
                      # upstream-txn identity: the reference's 'table'
                      # atomicity is per single-TABLE transaction
                      (r["table_id"], r["commit_ts"], r["start_ts"]))
                     for r in rs),
                    txn_rows, max_packet,
                    fence=f"{fence}.l{lane}",
                    write_source=write_source,
                    driver=driver,
                    split_txn=split_txn,
                    batch_dml=batch_dml,
                    wide_ddl=wide_ddl,
                )

        (stmts.repartition(self.n_lanes, "lane")
              .foreachPartition(run_partition))

    # -- tidb_cdc downstream bookkeeping tables ------------------------
    # The reference's MySQL writer maintains `tidb_cdc`.`ddl_ts_v1`
    # (mysql_writer.go:280-340: INSERT ... ON DUPLICATE KEY UPDATE
    # ddl_ts per (cluster, changefeed, table_id); DELETE for dropped
    # tables) and `tidb_cdc`.`syncpoint_v1` (mysql_writer.go:154-200:
    # insert ignore (cluster, changefeed, primary_ts, secondary_ts)) as
    # REAL downstream SQL tables — the surface the `syncpoint` /
    # `ddl_only_block_related_table` integration tests read. Here they
    # live in a dedicated tidb_cdc.db next to the lane DBs (one logical
    # downstream database), rendered in the SQLite dialect the driver
    # seam executes (ON CONFLICT ... DO UPDATE / INSERT OR IGNORE are
    # the sqlite spellings of the MySQL forms above). Both tables are
    # O(tables)+O(ticks), driver-side single-row work per barrier/batch.

    def _cdc_connect(self):
        con = self.driver.connect(os.path.join(self.db_dir, "tidb_cdc.db"))
        cur = con.cursor()
        _ensure_meta(cur)  # empty _tables so read_state skips this db
        cur.execute(
            "CREATE TABLE IF NOT EXISTS tidb_cdc__ddl_ts_v1 ("
            "ticdc_cluster_id TEXT, changefeed TEXT, ddl_ts TEXT, "
            "table_id INTEGER, "
            "created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP, "
            "PRIMARY KEY (ticdc_cluster_id, changefeed, table_id))")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS tidb_cdc__syncpoint_v1 ("
            "ticdc_cluster_id TEXT, changefeed TEXT, primary_ts TEXT, "
            "secondary_ts TEXT, "
            "created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP, "
            "PRIMARY KEY (changefeed, primary_ts))")
        con.commit()
        return con, cur

    def record_ddl_ts(self, ddl_ts: int, table_ids: list[int],
                      drop_table_ids: list[int] | tuple = ()) -> None:
        """FlushDDLTs twin: upsert the per-table ddl_ts watermark, drop
        rows for tables the DDL removed (mysql_writer.go:280-340)."""
        con, cur = self._cdc_connect()
        try:
            for tid in table_ids:
                cur.execute(
                    "INSERT INTO tidb_cdc__ddl_ts_v1 "
                    "(ticdc_cluster_id, changefeed, ddl_ts, table_id) "
                    "VALUES (?, ?, ?, ?) "
                    "ON CONFLICT (ticdc_cluster_id, changefeed, table_id) "
                    "DO UPDATE SET ddl_ts = excluded.ddl_ts, "
                    "created_at = CURRENT_TIMESTAMP",
                    (self.cluster_id, self.changefeed, str(ddl_ts),
                     int(tid)))
            for tid in drop_table_ids:
                cur.execute(
                    "DELETE FROM tidb_cdc__ddl_ts_v1 WHERE "
                    "ticdc_cluster_id = ? AND changefeed = ? "
                    "AND table_id = ?",
                    (self.cluster_id, self.changefeed, int(tid)))
            con.commit()
        finally:
            con.close()

    def apply_ddl(self, ddl) -> None:
        """Execute a due DDL on its owning lane and keep its ddl_ts_v1
        row (mysql_writer.go:280-340): the table the translator saw
        dropped loses its row, any other DDL upserts it. An all-scope DDL
        (no table named) only versions the schema."""
        if not (ddl.schema_name and ddl.table_name
                and ddl.table_id is not None):
            return
        self.exec_ddl(ddl.query, ddl.schema_name, ddl.table_name,
                      ddl.table_id)
        action = translate_ddl_for_sqlite(
            ddl.query, ddl.schema_name, ddl.table_name)[0]
        if action == "drop-table":
            self.record_ddl_ts(ddl.commit_ts, [],
                               drop_table_ids=[ddl.table_id])
        else:
            self.record_ddl_ts(ddl.commit_ts, [ddl.table_id])

    def record_syncpoint(self, primary_ts: int, secondary_ts: int) -> None:
        """SendSyncPointEvent twin: insert-ignore one ts-map row
        (mysql_writer.go:154-200; secondary_ts = the downstream applied
        position when the tick was written)."""
        self.mirror_syncpoint([primary_ts], secondary_ts)

    def mirror_syncpoint(self, ticks: list[int], secondary_ts: int) -> None:
        """Write a micro-batch's syncpoint ticks (the ones
        Bookkeeping.record derived and returned) into the downstream
        syncpoint_v1, first writer wins. All of a batch's ticks land in
        ONE connection/transaction — a per-tick connection costs an fsync
        each and bends the per-batch flatness curve when the tick interval
        is small relative to a batch's event-time span (measured r12)."""
        con, cur = self._cdc_connect()
        try:
            cur.executemany(
                "INSERT OR IGNORE INTO tidb_cdc__syncpoint_v1 "
                "(ticdc_cluster_id, changefeed, primary_ts, secondary_ts) "
                "VALUES (?, ?, ?, ?)",
                [(self.cluster_id, self.changefeed, str(int(t)),
                  str(int(secondary_ts))) for t in ticks])
            con.commit()
        finally:
            con.close()

    def read_cdc(self, spark, name: str) -> DataFrame:
        """One tidb_cdc table as a DataFrame (test/oracle surface)."""
        con, cur = self._cdc_connect()
        try:
            rows = [tuple(r) for r in cur.execute(
                f"SELECT ticdc_cluster_id, changefeed, "
                f"{'ddl_ts, table_id' if name == 'ddl_ts_v1' else 'primary_ts, secondary_ts'} "
                f"FROM tidb_cdc__{name}")]
        finally:
            con.close()
        if name == "ddl_ts_v1":
            schema = ("ticdc_cluster_id string, changefeed string, "
                      "ddl_ts string, table_id bigint")
        else:
            schema = ("ticdc_cluster_id string, changefeed string, "
                      "primary_ts string, secondary_ts string")
        return spark.createDataFrame(rows, schema)

    def exec_ddl(self, query: str, schema: str, table: str,
                 table_id: int,
                 partition_scheme: dict | None = None,
                 ddl_ts: int | None = None) -> str:
        """Run a DDL between barrier sub-batches on the owning lane
        (driver-side, like the reference's elected DDL writer —
        ``maintainer/barrier.go:36`` one writer per DDL).
        ``partition_scheme`` unlocks the partition verbs' data effects
        on the sqlite dialect (see translate_ddl_for_sqlite); a
        partition DDL's participating tables must share ONE lane —
        the caller routes by the LOGICAL table id, and an exchange's
        standalone table must live on the same lane (the reference's
        elected writer touches both tables in one downstream txn)."""
        lane = int(table_id) % self.n_lanes
        return exec_ddl_on_lane(
            os.path.join(self.db_dir, f"lane-{lane}.db"),
            query, schema, table, int(table_id),
            write_source=self.write_source, driver=self.driver,
            partition_scheme=partition_scheme, ddl_ts=ddl_ts,
            wide_ddl="".join(
                f", `{n}` {decl}" for n, decl in self.wide_cols))

    def read_state(self, spark, extra_cols: tuple = ()
                   ) -> DataFrame:
        """Union of all lane DBs as (table_id, pk, event_type,
        value_cents[, *extra_cols]) — the downstream's live state.
        ``extra_cols`` are post-DDL or wide-schema columns: plain names
        read back as bigint (the evolution lanes' historical shape), or
        ``(name, spark_type)`` pairs for typed wide columns; NULL for
        tables that never saw the column. Driver-side read of a bounded
        replica (the verification surface; a real deployment scans back
        through a JDBC source instead)."""
        typed = [(c, "bigint") if isinstance(c, str) else (c[0], c[1])
                 for c in extra_cols]
        rows = []
        for f in sorted(os.listdir(self.db_dir)):
            if not f.endswith(".db"):
                continue
            con = self.driver.connect(os.path.join(self.db_dir, f))
            cur = con.cursor()
            for t, tid in list(cur.execute(
                    "SELECT name, table_id FROM _tables")):
                have = {c[1] for c in cur.execute(
                    f"PRAGMA table_info(`{t}`)")}
                sel = ", ".join(
                    f"`{c}`" if c in have else "NULL"
                    for c in ("pk", "event_type", "value_cents",
                              *[n for n, _ in typed]))
                for row in cur.execute(f"SELECT {sel} FROM `{t}`"):
                    rows.append((int(tid), *row))
            con.close()
        extra_schema = "".join(f", {n} {ty}" for n, ty in typed)
        return spark.createDataFrame(
            rows,
            "table_id bigint, pk bigint, event_type string, "
            "value_cents bigint" + extra_schema,
        )
