"""Query catalog: every implemented SURVEY §2 operator as a
(spark builder, duckdb oracle) pair.

The driver (and ``tests/test_catalog_vs_duckdb.py``) runs each Spark query
and its oracle side-by-side and compares row count + schema + sorted value
hash, so every expression here is written to be *bit-identical* across
engines:

- time base: microseconds (Spark ``sources.changes.event_us`` ⇄ DuckDB
  ``epoch_us``)
- money: integer cents (``round(x*100)`` then bigint sums)
- hashes: md5-derived (``functions.phash``)
- strings: printf-built on both sides

DuckDB-side note: ``CAST(double AS BIGINT)`` *rounds* in DuckDB but
*truncates* in Spark — every double→int conversion goes through ``round``
first on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tigate_spark.config import EventFilterRule, FilterConfig
from tigate_spark.functions.phash import h32, h32_sql
from tigate_spark.operators import apply as apply_ops
from tigate_spark.operators import filters as f_ops
from tigate_spark.operators import ordering as o_ops
from tigate_spark.operators import routing as r_ops
from tigate_spark.operators import schema_registry as sr_ops
from tigate_spark.operators import txn as t_ops
from tigate_spark.sources.batch import load_table
from tigate_spark.sources.changes import ORACLE_CHANGES_CTE, changes_stream

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "", bench: bool = False):
    def deco(fn: Builder) -> Builder:
        CATALOG[name] = QuerySpec(name, fn, oracle, doc, bench)
        return fn

    return deco


# --------------------------------------------------------------------------
# core projections shared below
# --------------------------------------------------------------------------
_CORE_COLS = ["schema_name", "table_name", "table_id", "op", "start_ts",
              "commit_ts", "seq", "pk", "event_type", "value_cents"]

_HOUR_US = 3_600_000_000


# ==========================================================================
# Flagship: the full CDC pipeline (S1→F1→F2→F3→P1→output)
# ==========================================================================
@register(
    "cdc_pipeline_e2e",
    ORACLE_CHANGES_CTE
    + """
SELECT schema_name, table_name, table_id, op, start_ts, commit_ts, seq, pk,
       event_type, value_cents
FROM changes
WHERE table_name IN ('t0', 't1', 't2')
  AND op <> 'D'
  AND NOT (op = 'I' AND event_type = 'click' AND value_cents < 5000)
""",
    doc="Changefeed pipeline: table filter (F1) + event filter (F2) + "
        "expr filter (F3) + column select (P1)",
    bench=True,
)
def cdc_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    cfg = FilterConfig(
        rules=["app.t0", "app.t1", "app.t2"],
        event_filters=[
            EventFilterRule(
                matcher=["app.*"],
                ignore_event=["delete"],
                ignore_insert_value_expr="event_type = 'click' AND value_cents < 5000",
            )
        ],
    )
    return f_ops.apply_filter_config(ch, cfg).select(*_CORE_COLS)


_SOURCE_FMT_ORACLE = ORACLE_CHANGES_CTE + """
SELECT schema_name, table_name, table_id, op, start_ts, commit_ts, seq, pk,
       event_type, value_cents, before, after
FROM changes
"""


@register(
    "changes_normalize",
    _SOURCE_FMT_ORACLE,
    doc="S1/S3: raw source → canonical change-event rows with before/after images",
)
def changes_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changes_stream(spark, sf_dir, with_images=True).select(
        *_CORE_COLS, "before", "after"
    )




def _source_format_changes(spark: SparkSession, sf_dir: str,
                           fmt: str) -> DataFrame:
    from tigate_spark.sources.changes import normalize_events
    from tigate_spark.sources.formats import export_events, read_events

    path = export_events(spark, sf_dir, fmt)
    ev = read_events(spark, path, fmt)
    return normalize_events(ev, with_images=True).select(
        *_CORE_COLS, "before", "after"
    )


@register(
    "source_csv_changes",
    _SOURCE_FMT_ORACLE,
    doc="S1 source connector, CSV: the events table exported to CSV and "
        "re-ingested through a SCHEMA-EXPLICIT csv reader (inference on "
        "text sources is an extra full scan and drift-prone at 100 TB — "
        "the schema is the contract; timestamps travel as epoch-us "
        "integers so no text timezone parsing is in the loop), then "
        "through the SAME normalize_events plan as parquet — the oracle "
        "is the parquet path's oracle verbatim, proving format-agnostic "
        "ingestion (sources/formats.py)",
)
def source_csv_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _source_format_changes(spark, sf_dir, "csv")


@register(
    "source_jsonl_changes",
    _SOURCE_FMT_ORACLE,
    doc="S1 source connector, JSON-lines: same contract as "
        "source_csv_changes over newline-delimited JSON (the changelog "
        "interchange format Kafka consumers actually emit) — "
        "schema-explicit read, identical normalize_events plan, parquet "
        "path's oracle verbatim",
)
def source_jsonl_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _source_format_changes(spark, sf_dir, "jsonl")


# ==========================================================================
# Filters F1–F6
# ==========================================================================
@register(
    "filter_table_rule",
    ORACLE_CHANGES_CTE
    + "SELECT seq, table_name, op FROM changes WHERE table_name IN ('t1', 't3')",
    doc="F1: mysql-replication-rule table matcher (filter.go:47-66)",
)
def filter_table_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return f_ops.table_filter(ch, ["app.t1", "app.t3"]).select("seq", "table_name", "op")


@register(
    "filter_event_type",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, table_name, op FROM changes
WHERE NOT (table_name IN ('t1', 't2') AND op IN ('D', 'U'))
""",
    doc="F2: ignore-event=[delete,update] on matched tables (sql_event_filter.go:181-209)",
)
def filter_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    rule = EventFilterRule(matcher=["app.t1", "app.t2"], ignore_event=["delete", "update"])
    return f_ops.event_type_filter(ch, rule).select("seq", "table_name", "op")


@register(
    "filter_expr_values",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, op, pk, event_type, value_cents FROM changes
WHERE NOT (
     (op = 'I' AND (pk % 10 = 2 OR event_type = 'click'))
  OR (op = 'U' AND value_cents > 30000)
  OR (op = 'U' AND CAST(json_extract_string(before, '$.value_cents') AS BIGINT) < 500)
  OR (op = 'D' AND value_cents > 20000)
)
""",
    doc="F3: ignore-insert/update-old/update-new/delete value exprs "
        "(expr_filter.go:249-338) via Spark expr()",
)
def filter_expr_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir, with_images=True)
    rule = EventFilterRule(
        matcher=["*.*"],
        ignore_insert_value_expr="pk % 10 = 2 OR event_type = 'click'",
        ignore_update_new_value_expr="value_cents > 30000",
        ignore_update_old_value_expr=
            "CAST(get_json_object(before, '$.value_cents') AS BIGINT) < 500",
        ignore_delete_value_expr="value_cents > 20000",
    )
    return f_ops.expr_value_filter(ch, rule).select(
        "seq", "op", "pk", "event_type", "value_cents"
    )


@register(
    "filter_start_ts",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, start_ts, commit_ts FROM changes
WHERE start_ts NOT IN (SELECT start_ts FROM changes WHERE seq IN (10, 20))
""",
    doc="F4: ignore-txn-start-ts list (filter.go:217-224)",
)
def filter_start_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-derived ignore set → anti-join variant (no driver collect);
    # the literal-list operator stays for config-shaped ignore lists
    ch = changes_stream(spark, sf_dir)
    ignore = ch.filter(F.col("seq").isin(10, 20))
    return f_ops.ignore_txn_start_ts_df(ch, ignore).select(
        "seq", "start_ts", "commit_ts"
    )


_DDL_CTE = ORACLE_CHANGES_CTE + """
, ddl AS (
  SELECT table_id, commit_ts, seq,
         CASE CAST(seq % 5 AS INTEGER)
           WHEN 0 THEN 'create table' WHEN 1 THEN 'add column'
           WHEN 2 THEN 'drop table' WHEN 3 THEN 'truncate table'
           ELSE 'rename table' END AS ddl_type,
         CASE WHEN seq % 3 = 0 THEN printf(
                'ALTER TABLE t%d ADD COLUMN c%d INT; ALTER TABLE t%d DROP COLUMN d%d',
                table_id, seq % 10, table_id, seq % 10)
              ELSE printf('CREATE TABLE t%d_%d (id INT)', table_id, seq % 10)
         END AS query
  FROM changes WHERE event_type = 'signup'
)
"""


def _json_esc_sql(col: str) -> str:
    """DuckDB mirror of :func:`tigate_spark.functions.encoders.json_escape`:
    the same literal replace chain (backslash first), so both engines emit
    identical escaped JSON string bodies."""
    return (
        "replace(replace(replace(replace(replace(" + col +
        ", '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), "
        "chr(13), '\\r'), chr(9), '\\t')"
    )


def _ddl_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DDL side-channel (S4) derived from signup events."""
    ch = changes_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    ddl_type = (
        F.when(F.col("seq") % 5 == 0, "create table")
        .when(F.col("seq") % 5 == 1, "add column")
        .when(F.col("seq") % 5 == 2, "drop table")
        .when(F.col("seq") % 5 == 3, "truncate table")
        .otherwise("rename table")
    )
    query = F.when(
        F.col("seq") % 3 == 0,
        F.format_string(
            "ALTER TABLE t%d ADD COLUMN c%d INT; ALTER TABLE t%d DROP COLUMN d%d",
            F.col("table_id"), F.col("seq") % 10, F.col("table_id"), F.col("seq") % 10,
        ),
    ).otherwise(F.format_string("CREATE TABLE t%d_%d (id INT)", F.col("table_id"), F.col("seq") % 10))
    return ch.select("table_id", "commit_ts", "seq", ddl_type.alias("ddl_type"), query.alias("query"))


@register(
    "ddl_allowlist",
    _DDL_CTE + """
SELECT seq, table_id, ddl_type FROM ddl
WHERE ddl_type IN ('create table', 'add column', 'truncate table')
""",
    doc="F5: DDL allow-list (filter.go:226-231; ShouldDiscardDDL :167-190)",
)
def ddl_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ddl = _ddl_stream(spark, sf_dir)
    return f_ops.ddl_allowlist_filter(
        ddl, ["create table", "add column", "truncate table"]
    ).select("seq", "table_id", "ddl_type")


@register(
    "ddl_split_multistatement",
    _DDL_CTE + """
SELECT seq, trim(s.stmt) AS stmt
FROM ddl, unnest(string_split(ddl.query, ';')) AS s(stmt)
WHERE trim(s.stmt) <> ''
""",
    doc="F6: multi-statement DDL split + per-statement filter (filter.go:107-133)",
)
def ddl_split_multistatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ddl = _ddl_stream(spark, sf_dir)
    return f_ops.split_multistatement_ddl(ddl).select("seq", "stmt")


# ==========================================================================
# Projections P1–P7
# ==========================================================================
@register(
    "projection_column_selector",
    ORACLE_CHANGES_CTE
    + "SELECT schema_name, table_name, table_id, op, start_ts, commit_ts, seq, pk, "
      "event_type FROM changes",
    doc="P1: column selector keeps metadata + selected payload columns "
        "(column_selector.go:23-101)",
)
def projection_column_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import ColumnSelector
    from tigate_spark.operators.projections import column_selector

    ch = changes_stream(spark, sf_dir)
    return column_selector(ch, ColumnSelector(columns=["event_*"]))


@register(
    "projection_update_split",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, 'D' AS op, before AS image, 1 AS piece_no FROM changes WHERE op = 'U'
UNION ALL
SELECT seq, 'I' AS op, after AS image, 2 AS piece_no FROM changes WHERE op = 'U'
UNION ALL
SELECT seq, op, CASE WHEN op = 'D' THEN before ELSE after END AS image, 1 AS piece_no
FROM changes WHERE op <> 'U'
""",
    doc="P6: UPDATE → DELETE+INSERT image pairing (mounter.go:80-109)",
)
def projection_update_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import split_updates

    ch = changes_stream(spark, sf_dir, with_images=True)
    out = split_updates(ch)
    return out.select("seq", F.col("op").cast("string").alias("op"), "image",
                      F.col("piece_no").cast("int").alias("piece_no"))


@register(
    "projection_column_selectors_dispatch",
    ORACLE_CHANGES_CTE
    + """
SELECT schema_name, table_name, table_id, op, seq, pk,
  CASE WHEN table_name <> 't2' THEN event_type END AS event_type,
  CASE WHEN table_name IN ('t2', 't3') THEN value_cents END AS value_cents,
  CASE WHEN table_name = 't3' THEN user_id END AS user_id
FROM changes
""",
    doc="P1 rule-dispatch form (columnselector/column_selector.go:74-101 "
        "ColumnSelectors.GetSelector; scenario kafka_column_selector/): "
        "the FIRST rule whose table matcher matches decides the columns — "
        "t0/t1 hit rule 1 (event_type only) even though rule 2's matcher "
        "also covers t0; t2 falls through to rule 2 (value_cents only); "
        "t3 matches no rule and keeps everything (DefaultColumnSelector). "
        "Handle key + metadata always survive.",
)
def projection_column_selectors_dispatch(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    from tigate_spark.config import ColumnSelector
    from tigate_spark.operators.projections import column_selectors

    ch = changes_stream(spark, sf_dir)
    rules = [
        ColumnSelector(matcher=["app.t0", "app.t1"],
                       columns=["event_type"]),
        ColumnSelector(matcher=["app.t0", "app.t2"],
                       columns=["value_cents"]),
    ]
    return column_selectors(ch, rules).select(
        "schema_name", "table_name", "table_id", "op", "seq", "pk",
        "event_type", "value_cents", "user_id")


@register(
    "projection_update_pk_split",
    ORACLE_CHANGES_CTE
    + """
, mut AS (
  SELECT seq, op, before,
    CASE WHEN op = 'U' AND seq % 7 = 0 THEN printf(
      '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}',
      pk + 1000, event_type, value_cents, user_id)
    ELSE after END AS after
  FROM changes
)
SELECT seq, 'D' AS op, before AS image, CAST(1 AS INT) AS piece_no
FROM mut WHERE op = 'U' AND seq % 7 = 0
UNION ALL
SELECT seq, 'I' AS op, after AS image, CAST(2 AS INT) AS piece_no
FROM mut WHERE op = 'U' AND seq % 7 = 0
UNION ALL
SELECT seq, op, CASE WHEN op = 'D' THEN before ELSE after END AS image,
       CAST(1 AS INT) AS piece_no
FROM mut WHERE NOT (op = 'U' AND seq % 7 = 0)
""",
    doc="P6 pk/uk-change-only split (output-raw-change-event default, "
        "pkg/config/sink.go:457-462; scenarios csv_storage_update_pk_"
        "clustered/_nonclustered): every 7th event's UPDATE is given a key-"
        "changing after-image (pk+1000, the upstream pk-rewrite "
        "scenario) and ONLY those split into DELETE(old key) + "
        "INSERT(new key) — key-stable updates stay single events; the "
        "emitted delete sorts before its insert (piece_no, event-store "
        "D < I order).",
)
def projection_update_pk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import (
        split_updates_on_key_change,
    )
    from tigate_spark.sources.changes import _IMG_FMT

    ch = changes_stream(spark, sf_dir, with_images=True)
    mut = ch.withColumn(
        "after",
        F.when(
            (F.col("op") == "U") & (F.col("seq") % 7 == 0),
            F.format_string(_IMG_FMT, F.col("pk") + 1000,
                            F.col("event_type"), F.col("value_cents"),
                            F.col("user_id")),
        ).otherwise(F.col("after")))
    out = split_updates_on_key_change(mut)
    return out.select("seq", F.col("op").cast("string").alias("op"),
                      "image", F.col("piece_no").cast("int").alias("piece_no"))


@register(
    "projection_handle_key_only",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, pk, length(coalesce(after, '')) > 70 AS only_handle_key,
       CASE WHEN length(coalesce(after, '')) > 70 THEN NULL ELSE after END AS after
FROM changes
""",
    doc="P3: handle-key-only for oversized messages (sink.go:162-163; open/codec.go:43-48)",
)
def projection_handle_key_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import handle_key_only

    ch = changes_stream(spark, sf_dir, with_images=True)
    return handle_key_only(ch, threshold=70).select("seq", "pk", "only_handle_key", "after")


@register(
    "projection_checksum",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, md5(concat_ws(chr(1),
  coalesce(CAST(table_id AS VARCHAR), '\\N'),
  coalesce(CAST(pk AS VARCHAR), '\\N'),
  coalesce(op, '\\N'),
  coalesce(CAST(value_cents AS VARCHAR), '\\N'))) AS checksum
FROM changes
""",
    doc="P7: row integrity checksum (verify_checksum.go equivalent)",
)
def projection_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import row_checksum

    ch = changes_stream(spark, sf_dir)
    return row_checksum(ch, ["table_id", "pk", "op", "value_cents"]).select("seq", "checksum")


# --------------------------------------------------------------------------
# P7 byte-exact form: DuckDB-side twins of the TiDB checksum encodings
# (verify_checksum.go:92-229). The oracle rebuilds the exact byte string as
# lowercase hex AND folds it through a from-scratch CRC-32/IEEE
# (list_reduce over a 256-entry table CTE) — DuckDB has no crc32 built-in.
# --------------------------------------------------------------------------

def _crc32_table_cte() -> str:
    """CTE body producing the 256-entry CRC-32/IEEE table as one list
    (8 unrolled rounds of c = c&1 ? 0xEDB88320 ^ (c>>1) : c>>1)."""
    inner = "SELECT n, CAST(n AS BIGINT) AS r0 FROM range(256) s(n)"
    for k in range(8):
        inner = (
            f"SELECT n, CASE WHEN r{k} & 1 = 1 THEN xor(3988292384, r{k} >> 1) "
            f"ELSE r{k} >> 1 END AS r{k + 1} FROM ({inner}) q{k}")
    return f"SELECT list(r8 ORDER BY n) AS t FROM ({inner}) f"


def _ck_le_hex_sql(expr: str, n_bytes: int) -> str:
    """hex of `expr` (bigint) as n little-endian bytes — arithmetic `>>`
    keeps sign bits, so `& 255` extracts correct two's-complement bytes."""
    return " || ".join(
        f"printf('%02x', (({expr}) >> {8 * i}) & 255)" for i in range(n_bytes))


def _ck_len_bytes_hex_sql(expr: str) -> str:
    """appendLengthValue twin: LE uint32 byte length + UTF-8 bytes, hex."""
    return (f"{_ck_le_hex_sql(f'octet_length(encode({expr}))', 4)}"
            f" || lower(hex(encode({expr})))")


def _ck_null_guard(src: str, enc_hex: str) -> str:
    return f"CASE WHEN {src} IS NULL THEN '' ELSE {enc_hex} END"


def _crc32_fold_sql(col: str) -> str:
    """CRC-32/IEEE of a lowercase-hex byte string column, as a
    list_reduce over the crc_tbl CTE's table `t`."""
    return f"""
xor(list_reduce(
  list_prepend(4294967295, list_transform(range(length({col}) // 2),
    i -> (strpos('0123456789abcdef', substr({col}, CAST(i AS INT) * 2 + 1, 1)) - 1) * 16
       + strpos('0123456789abcdef', substr({col}, CAST(i AS INT) * 2 + 2, 1)) - 1)),
  (acc, b) -> xor(t[CAST(xor(acc, b) & 255 AS INT) + 1], acc >> 8)), 4294967295)
"""


_CRC32_FOLD_SQL = _crc32_fold_sql("row_bytes")

#: the mock MySQL table over `orders`, in column-id order — one lane per
#: buildChecksumBytes branch: Longlong, Long, String, Double (IEEE-754
#: bits), Datetime, Date, nullable Varchar (NULL appends nothing),
#: NewDecimal (decimalHandlingMode=string), Enum (index), Bit (uint64)
_CK_ENUM_SQL = ("CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 "
                "ELSE 3 END")
_CK_LANES_SQL = " || ".join([
    _ck_le_hex_sql("o_orderkey", 8),
    _ck_le_hex_sql("o_custkey", 8),
    _ck_len_bytes_hex_sql("o_orderstatus"),
    _ck_le_hex_sql("fbits", 8),
    _ck_len_bytes_hex_sql("strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"),
    _ck_len_bytes_hex_sql("strftime(o_orderdate, '%Y-%m-%d')"),
    _ck_null_guard(
        "NULLIF(o_orderpriority, '1-URGENT')",
        _ck_len_bytes_hex_sql("NULLIF(o_orderpriority, '1-URGENT')")),
    _ck_len_bytes_hex_sql(
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR)"),
    _ck_le_hex_sql(_CK_ENUM_SQL, 8),
    _ck_le_hex_sql("o_orderkey % 2", 8),
])

_CK_ORACLE = f"""
WITH crc_tbl AS ({_crc32_table_cte()}),
-- math.Float64bits with exact arithmetic: corrected floor(log2), then
-- mantissa = (|v|/2^e - 1) * 2^52 (exact power-of-two scaling; DuckDB's
-- rounding CAST is safe because the double is exactly integral)
d0 AS (
  SELECT *, abs(o_totalprice) AS fa,
         CAST(floor(log2(abs(o_totalprice))) AS BIGINT) AS fe0
  FROM orders
),
d1 AS (
  SELECT *, CASE WHEN fa < power(2, fe0) THEN fe0 - 1
                 WHEN fa >= power(2, fe0 + 1) THEN fe0 + 1
                 ELSE fe0 END AS fe
  FROM d0
),
d2 AS (
  SELECT *, CASE
    WHEN isnan(o_totalprice) OR isinf(o_totalprice) THEN 0
    WHEN fa = 0 THEN CASE WHEN CAST(o_totalprice AS VARCHAR) = '-0.0'
                          THEN -9223372036854775808 ELSE 0 END
    WHEN fa < power(2, -1022) THEN
      CAST(fa * power(2, 537) * power(2, 537) AS BIGINT)
      + CASE WHEN o_totalprice < 0 THEN -9223372036854775808 ELSE 0 END
    ELSE (fe + 1023) * 4503599627370496
      + CAST((fa / power(2, fe) - 1) * 4503599627370496.0 AS BIGINT)
      + CASE WHEN o_totalprice < 0 THEN -9223372036854775808 ELSE 0 END
    END AS fbits
  FROM d1
),
enc AS (SELECT o_orderkey AS pk, {_CK_LANES_SQL} AS row_bytes FROM d2)
SELECT pk, row_bytes, CAST({_CRC32_FOLD_SQL} AS BIGINT) AS checksum
FROM enc, crc_tbl
"""


@register(
    "projection_checksum_tidb",
    _CK_ORACLE,
    doc="P7 byte-exact: TiDB row checksum — CRC-32/IEEE over MySQL-typed "
        "column byte encodings in column-id order "
        "(verify_checksum.go:92-229 calculateChecksum/buildChecksumBytes); "
        "oracle rebuilds the bytes AND the CRC fold from scratch",
)
def projection_checksum_tidb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import (
        build_checksum_bytes,
        float64_bits,
    )

    o = load_table(spark, sf_dir, "orders")
    c = F.col
    lanes = [
        (c("o_orderkey"), "int"),                      # TypeLonglong
        (c("o_custkey"), "int"),                       # TypeLong
        (c("o_orderstatus"), "string"),                # TypeString
        (float64_bits(c("o_totalprice")), "int"),      # TypeDouble (bits)
        (F.date_format(c("o_orderdate"),
                       "yyyy-MM-dd HH:mm:ss"), "datetime"),
        (F.date_format(c("o_orderdate"), "yyyy-MM-dd"), "datetime"),  # Date
        (F.nullif(c("o_orderpriority"),
                  F.lit("1-URGENT")), "string"),       # NULL appends nothing
        (c("o_totalprice").cast("decimal(15,2)")
           .cast("string"), "decimal"),                # TypeNewDecimal
        (F.when(c("o_orderstatus") == "F", 1)
           .when(c("o_orderstatus") == "O", 2)
           .otherwise(3), "enum"),                     # TypeEnum index
        (c("o_orderkey") % 2, "bit"),                  # TypeBit uint64
    ]
    # one concat feeds BOTH outputs (hex witness + CRC) — building the
    # byte string twice doubled the projection's expression tree and
    # pushed it past whole-stage codegen's method budget
    row_bin = F.concat(*[build_checksum_bytes(col, t) for col, t in lanes])
    return o.select(c("o_orderkey").alias("pk"),
                    row_bin.alias("row_bin")).select(
        "pk",
        F.lower(F.hex("row_bin")).alias("row_bytes"),
        F.crc32("row_bin").alias("checksum"),
    )


# --------------------------------------------------------------------------
# integrity-enabled wire: the simple protocol carries the row checksum
# (simple/message.go:495 `checksum` struct) and the consumer VERIFIES it
# against a local recompute (message.go:386-405 → VerifyChecksum)
# --------------------------------------------------------------------------

#: image checksum lanes in column-id order: pk BIGINT, event_type
#: STRING, value_cents BIGINT, user_id BIGINT
def _img_ck_hex_sql(img: str) -> str:
    pk = f"CAST(json_extract({img}, '$.pk') AS BIGINT)"
    et = f"json_extract_string({img}, '$.event_type')"
    vc = f"CAST(json_extract({img}, '$.value_cents') AS BIGINT)"
    ui = f"CAST(json_extract({img}, '$.user_id') AS BIGINT)"
    return " || ".join([
        _ck_le_hex_sql(pk, 8),
        _ck_len_bytes_hex_sql(et),
        _ck_le_hex_sql(vc, 8),
        _ck_le_hex_sql(ui, 8),
    ])


_SIMPLE_CK_PREFIX = (
    '{"version":1,"database":"%s","table":"%s","tableID":%d,"type":"DML",'
    '"commitTs":%d,"buildTs":%d,"schemaVersion":1,'
    '"checksum":{"version":1,"corrupted":false,"current":%d,"previous":%d}'
)

def _simple_ck_oracle_ctes() -> str:
    return ORACLE_CHANGES_CTE + f"""
, crc_tbl AS ({_crc32_table_cte()})
, enc AS (
  SELECT seq, op, schema_name, table_name, table_id, commit_ts, after, before,
    CASE WHEN op = 'D' THEN {_img_ck_hex_sql('before')}
         ELSE {_img_ck_hex_sql('after')} END AS cur_b,
    CASE WHEN op = 'U' THEN {_img_ck_hex_sql('before')} END AS prev_b
  FROM changes
), crcs AS (
  SELECT seq, op, schema_name, table_name, table_id, commit_ts, after, before,
    CAST({_crc32_fold_sql('cur_b')} AS BIGINT) AS cur,
    CASE WHEN prev_b IS NULL THEN 0
         ELSE CAST({_crc32_fold_sql('prev_b')} AS BIGINT) END AS prev
  FROM enc, crc_tbl
)
"""


_IMG_STRUCT = ("STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, "
               "user_id BIGINT>")


def _img_ck_lanes(s):
    return [(s.getField("pk"), "int"),
            (s.getField("event_type"), "string"),
            (s.getField("value_cents"), "int"),
            (s.getField("user_id"), "int")]


def _simple_checksum_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import tidb_row_checksum

    ch = changes_stream(spark, sf_dir, with_images=True)
    a = F.from_json(F.col("after"), _IMG_STRUCT)
    b = F.from_json(F.col("before"), _IMG_STRUCT)
    live = F.when(F.col("op") == "D", b).otherwise(a)
    current = tidb_row_checksum(_img_ck_lanes(live))
    previous = F.when(F.col("op") == "U",
                      tidb_row_checksum(_img_ck_lanes(b))) \
                .otherwise(F.lit(0)).cast("bigint")
    prefix = F.format_string(
        _SIMPLE_CK_PREFIX,
        F.col("schema_name"), F.col("table_name"), F.col("table_id"),
        F.col("commit_ts"), F.expr("commit_ts div 1000"),
        current, previous,
    )
    tail = (
        F.when(F.col("op") == "I",
               F.format_string(',"data":%s}', F.col("after")))
        .when(F.col("op") == "U",
              F.format_string(',"data":%s,"old":%s}',
                              F.col("after"), F.col("before")))
        .otherwise(F.format_string(',"old":%s}', F.col("before")))
    )
    return ch.select("seq", F.concat(prefix, tail).alias("message"))


@register(
    "encoder_simple_checksum",
    _simple_ck_oracle_ctes() + """
SELECT seq,
  printf('{"version":1,"database":"%s","table":"%s","tableID":%d,"type":"DML","commitTs":%d,"buildTs":%d,"schemaVersion":1,"checksum":{"version":1,"corrupted":false,"current":%d,"previous":%d}',
         schema_name, table_name, table_id, commit_ts, commit_ts // 1000,
         cur, prev)
  || CASE op
       WHEN 'I' THEN printf(',"data":%s}', after)
       WHEN 'U' THEN printf(',"data":%s,"old":%s}', after, before)
       ELSE printf(',"old":%s}', before)
     END AS message
FROM crcs
""",
    doc="Integrity-enabled wire (simple/message.go:495 + avro.go:273: "
        "EnableRowChecksum feeds ship the checksum struct IN the "
        "message): the simple DML message extended with "
        "checksum{version,corrupted,current,previous} where current = "
        "the byte-exact TiDB row checksum of the live image and "
        "previous = the before image's for updates (0 otherwise) — the "
        "r11 calculateChecksum twin composed into a wire encoder, all "
        "JVM; oracle recomputes both CRC folds from the image JSON",
)
def encoder_simple_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simple_checksum_wire(spark, sf_dir)


@register(
    "decoder_simple_checksum_verify",
    _simple_ck_oracle_ctes() + """
SELECT seq,
  CAST(CASE WHEN seq % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS corrupted,
  CASE WHEN seq % 97 = 0 THEN NULL
       ELSE CASE WHEN op = 'D'
                 THEN CAST(json_extract(before, '$.value_cents') AS BIGINT)
                 ELSE CAST(json_extract(after, '$.value_cents') AS BIGINT)
            END END AS value_cents,
  cur AS wire_current
FROM crcs
""",
    doc="VerifyChecksum at the consumer (simple/message.go:386-405: "
        "decode, RECOMPUTE calculateChecksum over the decoded columns, "
        "compare to the wire value; mismatch → corrupted, the row must "
        "not apply): every 97th message is tampered in transit "
        "(a digit prepended to value_cents inside the payload — the "
        "delta stays under 2^24, which CRC-32 detects unconditionally), "
        "the consumer flags exactly those rows corrupted and withholds "
        "their payload; intact rows surface the verified value. The "
        "wire checksum itself hash-matches the oracle's independent "
        "fold, so detection isn't two sides sharing one bug",
)
def decoder_simple_checksum_verify(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import tidb_row_checksum

    wire = _simple_checksum_wire(spark, sf_dir)
    tampered = F.when(
        F.col("seq") % 97 == 0,
        F.regexp_replace(F.col("message"), '"value_cents":',
                         '"value_cents":9'),
    ).otherwise(F.col("message"))
    msg_schema = (
        'version BIGINT, database STRING, `table` STRING, tableID BIGINT, '
        'type STRING, commitTs BIGINT, buildTs BIGINT, '
        'schemaVersion BIGINT, '
        'checksum STRUCT<version BIGINT, corrupted BOOLEAN, '
        'current BIGINT, previous BIGINT>, '
        f'data {_IMG_STRUCT}, old {_IMG_STRUCT}')
    m = F.from_json(tampered, msg_schema)
    parsed = wire.select("seq", m.alias("m"))
    live = F.when(F.col("m.data").isNull(), F.col("m.old")) \
            .otherwise(F.col("m.data"))
    recomputed = tidb_row_checksum(_img_ck_lanes(live))
    corrupted = recomputed != F.col("m.checksum.current")
    return parsed.select(
        "seq",
        corrupted.cast("bigint").alias("corrupted"),
        F.when(~corrupted, live.getField("value_cents")).cast("bigint")
         .alias("value_cents"),
        F.col("m.checksum.current").alias("wire_current"),
    )


# ==========================================================================
# Routing R1–R8
# ==========================================================================
@register(
    "route_topic_partition",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
       printf('cdc_%s_%s', schema_name, table_name) AS topic,
       {h32_sql("'app.' || table_name")} % 16 AS part_table,
       commit_ts % 16 AS part_ts,
       {h32_sql('pk')} % 16 AS part_index_value,
       {h32_sql("event_type || chr(1) || CAST(user_id AS VARCHAR)")} % 16 AS part_columns,
       (table_id % 31) % 8 AS worker_lane
FROM changes
""",
    doc="R1-R8: topic template + table/ts/index-value/columns partitioners + "
        "MySQL worker lanes (eventrouter/*, mysql_sink.go:143-149)",
)
def route_topic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.select(
        "seq",
        F.format_string("cdc_%s_%s", F.col("schema_name"), F.col("table_name")).alias("topic"),
        (h32(F.concat(F.lit("app."), F.col("table_name"))) % 16).alias("part_table"),
        r_ops.partition_by_ts(16).alias("part_ts"),
        r_ops.partition_by_index_value(16).alias("part_index_value"),
        r_ops.partition_by_columns(16, ["event_type", "user_id"]).alias("part_columns"),
        r_ops.worker_lane(8).alias("worker_lane"),
    )


# ==========================================================================
# Ordering / time / progress T1–T11
# ==========================================================================
@register(
    "order_apply_seq",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, table_id, pk,
       row_number() OVER (
         PARTITION BY table_id, pk
         ORDER BY commit_ts, start_ts,
                  CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END, seq
       ) AS apply_seq
FROM changes
""",
    doc="T1/T2: total order per key — (commit_ts, start_ts, D<U<I, seq) "
        "(eventstore/format.go:50-85)",
)
def order_apply_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return o_ops.apply_order(ch).select("seq", "table_id", "pk", "apply_seq")


@register(
    "range_scan",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, commit_ts FROM changes
WHERE commit_ts > (SELECT min(commit_ts) + 864000000000 FROM changes)
  AND commit_ts <= (SELECT min(commit_ts) + 2592000000000 FROM changes)
""",
    doc="T2: (startTs, endTs] range scan (event_store.go:602,740-767)",
)
def range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    b = ch.agg(F.min("commit_ts").alias("t0"))
    return (
        ch.crossJoin(F.broadcast(b))
        .filter(
            (F.col("commit_ts") > F.col("t0") + 864_000_000_000)
            & (F.col("commit_ts") <= F.col("t0") + 2_592_000_000_000)
        )
        .select("seq", "commit_ts")
    )


@register(
    "stale_event_drop",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, commit_ts FROM changes
WHERE commit_ts > (SELECT min(commit_ts) + 604800000000 FROM changes)
""",
    doc="T9: drop events at/below handled resolved-ts (dispatcher.go:271-279)",
)
def stale_event_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    b = ch.agg((F.min("commit_ts") + 604_800_000_000).alias("resolved"))
    return (
        ch.crossJoin(F.broadcast(b))
        .filter(F.col("commit_ts") > F.col("resolved"))
        .select("seq", "commit_ts")
    )


@register(
    "txn_grouping",
    ORACLE_CHANGES_CTE
    + """
SELECT table_id, start_ts, commit_ts,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       min(seq) AS first_seq,
       CAST(sum(value_cents) AS BIGINT) AS txn_value_cents
FROM changes GROUP BY table_id, start_ts, commit_ts
""",
    doc="T6: txn grouping by (table, start_ts, commit_ts) (event_broker.go:489-502)",
)
def txn_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t_ops.txn_group(changes_stream(spark, sf_dir))


@register(
    "syncpoint_ticks",
    ORACLE_CHANGES_CTE
    + f"""
SELECT sync_point_ts, primary_ts, n_events,
       CAST(max(primary_ts) OVER (
         ORDER BY sync_point_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS secondary_ts
FROM (
  SELECT commit_ts - commit_ts % {_HOUR_US} AS sync_point_ts,
         max(commit_ts) AS primary_ts,
         count(*) AS n_events
  FROM changes GROUP BY 1
)
""",
    doc="T7: aligned syncpoint ticks + (primary_ts, secondary_ts) map "
        "(syncpoint.go:15-22; mysql_writer.go:528-542 — secondary is the "
        "downstream applied position when the tick lands)",
)
def syncpoint_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t_ops.syncpoint_ticks(changes_stream(spark, sf_dir), _HOUR_US)


@register(
    "table_progress",
    ORACLE_CHANGES_CTE
    + """
SELECT table_id, max(commit_ts) AS checkpoint_ts, count(*) AS n_events,
       count(DISTINCT printf('%d:%d', commit_ts, start_ts)) AS n_txns
FROM changes GROUP BY table_id
""",
    doc="T11: per-table progress/checkpoint (table_progress.go:24-44)",
)
def table_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.groupBy("table_id").agg(
        F.max("commit_ts").alias("checkpoint_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.format_string("%d:%d", F.col("commit_ts"), F.col("start_ts"))).alias("n_txns"),
    )


@register(
    "changefeed_checkpoint",
    ORACLE_CHANGES_CTE
    + """
SELECT min(resolved_ts) AS checkpoint_ts, count(*) AS n_tables
FROM (SELECT table_id, max(commit_ts) AS resolved_ts FROM changes GROUP BY table_id)
""",
    doc="T5: two-level min-watermark aggregation (maintainer.go:74,164-171)",
)
def changefeed_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return o_ops.changefeed_checkpoint(changes_stream(spark, sf_dir))


_SEQ_LOSS_HASH = h32_sql(
    "'loss:' || CAST(table_id AS VARCHAR) || ':' || CAST(sender_seq AS VARCHAR)"
)


@register(
    "seq_gap_resets",
    ORACLE_CHANGES_CTE
    + f"""
, sent AS (
  SELECT table_id, commit_ts, seq,
         row_number() OVER (PARTITION BY table_id
                            ORDER BY commit_ts, seq) AS sender_seq
  FROM changes
), marked AS (
  SELECT *, CASE WHEN {_SEQ_LOSS_HASH} % 37 = 0 THEN 1 ELSE 0 END AS lost
  FROM sent
), g1 AS (
  SELECT *, min(CASE WHEN lost = 1 THEN sender_seq END)
              OVER (PARTITION BY table_id) AS first_gap
  FROM marked
), g2 AS (
  SELECT *, max(CASE WHEN sender_seq < first_gap THEN commit_ts END)
              OVER (PARTITION BY table_id) AS resend_start
  FROM g1
)
SELECT table_id,
  CAST(sum(1 - lost) AS BIGINT) AS n_received,
  CAST(COALESCE(any_value(first_gap) - 1, count(*)) AS BIGINT) AS n_accepted,
  CAST(max(lost) AS BIGINT) AS reset_needed,
  CAST(CASE WHEN max(lost) = 1 THEN COALESCE(any_value(resend_start), 0)
       ELSE 0 END AS BIGINT) AS resend_start_ts,
  CAST(CASE WHEN max(lost) = 1 THEN
         sum(CASE WHEN commit_ts > COALESCE(resend_start, -1) THEN 1 ELSE 0 END)
       ELSE 0 END AS BIGINT) AS n_resent
FROM g2 GROUP BY 1
""",
    doc="T10: seq/handshake reset protocol, batch twin of the consumer "
        "decision logic (checkEventSeq, event_collector.go:469-496; "
        "handshake_event.go): per-lane consecutive sender seq, "
        "deterministic ~1/37 transport loss, accepted prefix before the "
        "first gap, RESET request carrying sendCommitTs, and the re-pull "
        "size from that position — production Spark replaces the wire "
        "protocol with exactly-once source offsets (SURVEY §7.3), this "
        "keeps the protocol's decision table testable for parity",
)
def seq_gap_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return o_ops.seq_gap_resets(changes_stream(spark, sf_dir))


# ==========================================================================
# Schema registry T3/T4
# ==========================================================================
_VERSIONS_CTE = """
, versions AS (
  SELECT t.table_id, g.version,
         (SELECT min(commit_ts) FROM changes) + g.version * 604800000000 AS version_ts,
         printf('v%d', g.version) AS schema_tag
  FROM (SELECT unnest(range(4)) AS table_id) t
  CROSS JOIN (SELECT unnest(range(5)) AS version) g
)
"""


@register(
    "schema_asof_join",
    ORACLE_CHANGES_CTE + _VERSIONS_CTE
    + """
SELECT c.seq, c.table_id, v.version AS schema_version, v.schema_tag
FROM changes c
ASOF LEFT JOIN versions v
  ON c.table_id = v.table_id AND v.version_ts <= c.commit_ts - 1
""",
    doc="T3: multi-version schema as-of lookup at commitTs-1 "
        "(multi_version.go:98-128; event_broker.go:492) — broadcast range join",
)
def schema_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).select("seq", "table_id", "commit_ts")
    versions = sr_ops.synthetic_schema_versions(spark, ch)
    out = sr_ops.asof_schema_join(ch, versions)
    return out.select("seq", "table_id", "schema_version", "schema_tag")


@register(
    "dml_ddl_merge",
    _DDL_CTE
    + """
SELECT table_id, commit_ts, is_ddl, src_seq,
       row_number() OVER (PARTITION BY table_id
                          ORDER BY commit_ts, is_ddl DESC, src_seq) AS merge_rank
FROM (
  SELECT table_id, commit_ts, 0 AS is_ddl, seq AS src_seq
  FROM changes WHERE event_type <> 'signup'
  UNION ALL
  SELECT table_id, commit_ts, 1 AS is_ddl, seq AS src_seq FROM ddl
)
""",
    doc="T4: DML/DDL merge by commit ts, DDL first at equal ts "
        "(event_broker.go:459-462)",
)
def dml_ddl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    dml = changes_stream(spark, sf_dir).filter(F.col("event_type") != "signup")
    ddl = _ddl_stream(spark, sf_dir)
    merged = sr_ops.merge_dml_ddl(dml, ddl).drop("query")
    w = Window.partitionBy("table_id").orderBy(
        "commit_ts", F.col("is_ddl").desc(), "src_seq"
    )
    return merged.withColumn("merge_rank", F.row_number().over(w))


# ==========================================================================
# Apply / sinks K1
# ==========================================================================
_LAST_CHANGE_CTE = ORACLE_CHANGES_CTE + """
, ordered AS (
  SELECT *, row_number() OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts DESC, start_ts DESC,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
  ) AS rn
  FROM changes
)
"""


@register(
    "apply_materialize",
    _LAST_CHANGE_CTE
    + """
SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="K1: materialize final replica state (last-writer-wins per key; "
        "mysql_writer.go:727-755 batch equivalent)",
    bench=True,
)
def apply_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return apply_ops.materialize(ch, ["event_type", "value_cents"])


_CHUNK_ROW_SQL = (
    "coalesce(CAST(pk AS VARCHAR), 'N') || '|' || "
    "coalesce(CAST(last_commit_ts AS VARCHAR), 'N') || '|' || "
    "coalesce(event_type, 'N') || '|' || "
    "coalesce(CAST(value_cents AS VARCHAR), 'N')"
)


@register(
    "replica_chunk_checksums",
    _LAST_CHANGE_CTE
    + f"""
, live AS (
  SELECT table_id, pk, commit_ts AS last_commit_ts, event_type, value_cents
  FROM ordered WHERE rn = 1 AND op <> 'D'
)
SELECT table_id, pk // 32 AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({h32_sql(_CHUNK_ROW_SQL)}) AS BIGINT) AS chunk_checksum,
       CAST(min(pk) AS BIGINT) AS pk_lo, CAST(max(pk) AS BIGINT) AS pk_hi
FROM live GROUP BY 1, 2
""",
    doc="Replica validation chunks — the sync_diff_inspector twin "
        "(SURVEY §5: the reference's integration harness validates every "
        "changefeed by chunked upstream/downstream comparison, per-test "
        "diff_config.toml): the materialized replica is split into "
        "32-pk chunks per table and each chunk reduced to (row count, "
        "order-independent md5-derived checksum sum, pk bounds) — two "
        "replicas agree iff their chunk tables agree, and a mismatch "
        "names the chunk to drill into. One LWW aggregation + one "
        "chunk aggregation, both map-side combined; the checksum sum "
        "is ≤32·2³² per chunk, no overflow at any corpus size",
)
def replica_chunk_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.phash import h32

    ch = changes_stream(spark, sf_dir)
    live = apply_ops.materialize(ch, ["event_type", "value_cents"])
    row_str = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("N"))
            for c in ("pk", "last_commit_ts", "event_type", "value_cents")
        ],
    )
    return (
        live.withColumn("h", h32(row_str))
        .groupBy("table_id", F.expr("pk div 32").alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("chunk_checksum"),
            F.min("pk").cast("bigint").alias("pk_lo"),
            F.max("pk").cast("bigint").alias("pk_hi"),
        )
    )


@register(
    "apply_scd2_history",
    ORACLE_CHANGES_CTE
    + """
, h AS (
  SELECT table_id, pk, op, commit_ts, seq, event_type, value_cents,
         lead(commit_ts) OVER (PARTITION BY table_id, pk
           ORDER BY commit_ts, start_ts,
                    CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END, seq)
           AS valid_to
  FROM changes
)
SELECT table_id, pk, event_type, value_cents,
       commit_ts AS valid_from, valid_to,
       valid_to IS NULL AS is_current, seq
FROM h WHERE op <> 'D'
""",
    doc="Type-2 SCD history from the change stream: one validity interval "
        "per change closed by the key's next change in the canonical total "
        "order; deletes close intervals and emit none — the standard "
        "changelog→warehouse-dimension materialization downstream of the "
        "replica sink (one shuffle on the key)",
)
def apply_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return apply_ops.scd2_history(ch, ["event_type", "value_cents"])


@register(
    "apply_incremental_agg",
    ORACLE_CHANGES_CTE
    + """
SELECT table_id, event_type,
       CAST(sum(CASE op WHEN 'I' THEN 1 WHEN 'D' THEN -1 ELSE 0 END) AS BIGINT)
         AS net_rows,
       CAST(sum(CASE op WHEN 'I' THEN value_cents
                        WHEN 'U' THEN 100
                        ELSE -(value_cents - 100) END) AS BIGINT)
         AS net_value_cents
FROM changes GROUP BY 1, 2
""",
    doc="Incremental aggregate (materialized-view) maintenance: each "
        "change contributes its delta — insert +v, update (after-before), "
        "delete -before — so a downstream SUM/COUNT view updates without "
        "rescanning the base table; pure map-side combinable aggregation "
        "(the before-image construction makes update deltas +100 here)",
)
def apply_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    row_delta = (
        F.when(F.col("op") == "I", 1).when(F.col("op") == "D", -1).otherwise(0)
    )
    # before-image value is value_cents - 100 by construction (see
    # sources/changes.py images); delta = after - before for U, -before for D
    val_delta = (
        F.when(F.col("op") == "I", F.col("value_cents"))
        .when(F.col("op") == "U", F.lit(100))
        .otherwise(-(F.col("value_cents") - 100))
    )
    return ch.groupBy("table_id", "event_type").agg(
        F.sum(row_delta).cast("bigint").alias("net_rows"),
        F.sum(val_delta).cast("bigint").alias("net_value_cents"),
    )


@register(
    "apply_incremental_join",
    ORACLE_CHANGES_CTE
    + """
, lww AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY table_id, pk
      ORDER BY commit_ts DESC, start_ts DESC,
               CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END DESC, seq DESC
    ) AS rn FROM changes) WHERE rn = 1 AND op <> 'D'
)
SELECT l.pk,
       l.commit_ts AS l_commit_ts, l.value_cents AS l_value_cents,
       r.commit_ts AS r_commit_ts, r.value_cents AS r_value_cents
FROM (SELECT * FROM lww WHERE table_id = 0) l
JOIN (SELECT * FROM lww WHERE table_id = 1) r ON l.pk = r.pk
""",
    doc="Incremental JOIN-view maintenance (the other half of IVM next to "
        "apply_incremental_agg): a materialized t0⋈t1 view is maintained "
        "under a change delta by touched-key partial recompute — "
        "V_new = V_old[key untouched by the delta] ∪ (A_new ⋈ B_new)"
        "[touched keys] — the production join-IVM shape (recompute is "
        "proportional to the delta's key set, never the base). The entry "
        "computes the view THROUGH the incremental path (stream split at "
        "the commit-ts midpoint into base+delta) and hash-matches the "
        "direct join of the final states, proving the delta rule handles "
        "inserts, updates, and delete-tombstones on both sides",
)
def apply_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).filter(F.col("table_id").isin(0, 1))

    def lww(df: DataFrame) -> DataFrame:
        order_key = F.struct(
            F.col("commit_ts"), F.col("start_ts"),
            o_ops.op_rank_col(), F.col("seq"),
        )
        payload = F.struct("op", "commit_ts", "value_cents")
        w = df.groupBy("table_id", "pk").agg(
            F.max_by(payload, order_key).alias("w")
        )
        return w.select(
            "table_id", "pk", F.col("w.op").alias("op"),
            F.col("w.commit_ts").alias("commit_ts"),
            F.col("w.value_cents").alias("value_cents"),
        ).filter(F.col("op") != "D")

    def join_view(state: DataFrame) -> DataFrame:
        l = state.filter(F.col("table_id") == 0).select(
            "pk", F.col("commit_ts").alias("l_commit_ts"),
            F.col("value_cents").alias("l_value_cents"),
        )
        r = state.filter(F.col("table_id") == 1).select(
            "pk", F.col("commit_ts").alias("r_commit_ts"),
            F.col("value_cents").alias("r_value_cents"),
        )
        return l.join(r, "pk")

    mid = ch.agg(
        F.expr("min(commit_ts) + (max(commit_ts) - min(commit_ts)) div 2")
        .alias("mid")
    )
    with_mid = ch.crossJoin(F.broadcast(mid))
    base = with_mid.filter(F.col("commit_ts") <= F.col("mid")).drop("mid")
    delta = with_mid.filter(F.col("commit_ts") > F.col("mid")).drop("mid")
    touched = delta.select("pk").distinct()
    v_old = join_view(lww(base))
    v_new_touched = join_view(lww(ch)).join(
        F.broadcast(touched), "pk", "left_semi"
    )
    kept = v_old.join(F.broadcast(touched), "pk", "left_anti")
    return kept.unionByName(v_new_touched)


@register(
    "apply_merge_to_base",
    _LAST_CHANGE_CTE
    + """
SELECT coalesce(b.c_custkey, l.pk) AS c_custkey,
       b.c_name AS c_name,
       b.c_nationkey AS c_nationkey,
       CASE WHEN l.pk IS NOT NULL THEN l.value_cents / 100.0
            ELSE b.c_acctbal END AS c_acctbal,
       b.c_mktsegment AS c_mktsegment
FROM customer b
FULL OUTER JOIN (SELECT * FROM ordered WHERE rn = 1 AND table_id = 0) l
  ON b.c_custkey = l.pk
WHERE l.op IS NULL OR l.op <> 'D'
""",
    doc="K1/P5: MERGE change stream onto base snapshot — safe-mode "
        "REPLACE + delete-by-pk (mysql_writer.go:686; sql_builder.go:104-111)",
)
def apply_merge_to_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "customer")
    ch = (
        changes_stream(spark, sf_dir)
        .filter(F.col("table_id") == 0)
        .withColumn("new_acctbal", F.col("value_cents") / 100.0)
    )
    return apply_ops.merge_into_base(base, ch, "c_custkey", {"c_acctbal": "new_acctbal"})


# ==========================================================================
# Encoders E1/E2
# ==========================================================================
@register(
    "encoder_canal_json",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts) AS message
FROM changes
""",
    doc="E1: canal-json encoder, field-exact (canal_json_message.go:43-60,139)",
    bench=True,
)
def encoder_canal_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_canal_json(ch).select("seq", "message")


@register(
    "encoder_canal_json_no_extension",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END
  ) AS message
FROM changes
""",
    doc="E1 with enable-tidb-extension=false (the sink DEFAULT — "
        "pkg/config/sink.go:410; large_message.go gates canal "
        "handle-key-only on the extension being ON): plain canal-json "
        "with NO _tidb field — downstream canal consumers get only the "
        "millisecond es clock, and resolved/watermark messages (the "
        "extension's TYPE_TIDB_WATERMARK) cannot exist on this wire",
)
def encoder_canal_json_no_extension(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_canal_json(ch, tidb_extension=False).select(
        "seq", "message")


@register(
    "encoder_open_protocol",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}', commit_ts, schema_name, table_name) AS key,
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END AS value
FROM changes
""",
    doc="E2: open-protocol key/value encoder (open/codec.go:24-120)",
)
def encoder_open_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_open_protocol(ch).select("seq", "key", "value")


@register(
    "decoder_canal_json",
    ORACLE_CHANGES_CTE
    + """
, msgs AS (
  SELECT seq,
    printf('{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
      schema_name, table_name,
      CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
      commit_ts // 1000, commit_ts // 1000,
      '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
      CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
      commit_ts) AS message
  FROM changes
)
SELECT seq,
  json_extract_string(message, '$.database') AS database,
  json_extract_string(message, '$."table"') AS table_name,
  json_extract_string(message, '$.type') AS canal_type,
  CAST(json_extract(message, '$.es') AS BIGINT) AS es,
  CAST(json_extract(message, '$._tidb.commitTs') AS BIGINT) AS commit_ts,
  CAST(json_extract(message, '$.data[0].pk') AS BIGINT) AS pk,
  json_extract_string(message, '$.data[0].event_type') AS event_type,
  CAST(json_extract(message, '$.data[0].value_cents') AS BIGINT) AS value_cents,
  CAST(json_extract(message, '$.old[0].value_cents') AS BIGINT) AS old_value_cents
FROM msgs
""",
    doc="E7: canal-json consumer decoder — encode→from_json round trip "
        "(decoder/decoder.go; canal/canal_json_message.go)",
)
def decoder_canal_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_canal_json, encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    return decode_canal_json(encode_canal_json(ch))


@register(
    "encoder_claim_check",
    ORACLE_CHANGES_CTE
    + """
, msgs AS (
  SELECT seq,
    printf('{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
      schema_name, table_name,
      CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
      commit_ts // 1000, commit_ts // 1000,
      '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
      CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
      commit_ts) AS message
  FROM changes
)
SELECT seq,
  octet_length(encode(message)) > 256 AS offloaded,
  CASE WHEN octet_length(encode(message)) > 256
       THEN printf('{"claimCheckLocation":"s3://claim-check/%s.json"}', md5(message))
       ELSE message END AS wire_value
FROM msgs
""",
    doc="E5: claim-check large-message offload — oversized messages become "
        "md5-addressed object-store pointers (claimcheck/claim_check.go)",
)
def encoder_claim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import claim_check, encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    return claim_check(encode_canal_json(ch), threshold=256).select(
        "seq", "offloaded", "wire_value"
    )


@register(
    "encoder_debezium",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"payload":{"source":%s,"ts_ms":%d,"transaction":null,"op":"%s",%s}}',
    printf('{"version":"2.4.0.Final","connector":"TiCDC","name":"%s","ts_ms":%d,"snapshot":"false","db":"%s","table":"%s","server_id":0,"gtid":null,"file":"","pos":0,"row":0,"thread":0,"query":null,"commit_ts":%d,"cluster_id":"%s"}',
      'default', commit_ts // 1000, schema_name, table_name, commit_ts, 'default'),
    commit_ts // 1000,
    CASE op WHEN 'I' THEN 'c' WHEN 'U' THEN 'u' ELSE 'd' END,
    CASE op WHEN 'I' THEN printf('"before":null,"after":%s', after)
            WHEN 'U' THEN printf('"before":%s,"after":%s', before, after)
            ELSE printf('"before":%s,"after":null', before) END
  ) AS message
FROM changes
""",
    doc="Debezium-envelope encoder — in-tree but unwired in the reference "
        "(debezium/codec.go:525-600; commented out of encoder_builder.go:"
        "24-25); field-exact payload.source with the TiDB extension fields; "
        "envelope ts_ms pinned to commit ms for replay determinism",
)
def encoder_debezium(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_debezium

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_debezium(ch).select("seq", "message")


@register(
    "encoder_simple_protocol",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"version":1,"database":"%s","table":"%s","tableID":%d,"type":"DML","commitTs":%d,"buildTs":%d,"schemaVersion":1',
         schema_name, table_name, table_id, commit_ts, commit_ts // 1000)
  || CASE op
       WHEN 'I' THEN printf(',"data":%s}', after)
       WHEN 'U' THEN printf(',"data":%s,"old":%s}', after, before)
       ELSE printf(',"old":%s}', before)
     END AS message
FROM changes
""",
    doc="Simple-protocol encoder — in-tree but unwired in the reference "
        "(simple/message.go:475-505; encoder_builder.go:26-27): versioned "
        "DML message, omitempty data/old per op, buildTs pinned to commit "
        "ms for replay determinism",
)
def encoder_simple_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_simple_protocol(ch).select("seq", "message")


# --------------------------------------------------------------------------
# Simple-protocol JSON large-message lanes (simple/message.go:488-492
# omitempty claimCheckLocation/handleKeyOnly; encoder flow
# simple/encoder.go:84-120; consumer order decoder.go:141-147; scenarios
# kafka_simple_claim_check/ and kafka_simple_handle_key_only/). The
# threshold 215 splits this corpus bimodally (updates carry two images).
# --------------------------------------------------------------------------
_SJ_THRESHOLD = 215

_SJ_LARGE_CTE = ORACLE_CHANGES_CTE + f"""
, sj_full AS (
  SELECT *,
    printf('{{"version":1,"database":"%s","table":"%s","tableID":%d,"type":"DML","commitTs":%d,"buildTs":%d,"schemaVersion":1',
           schema_name, table_name, table_id, commit_ts, commit_ts // 1000)
      AS sj_prefix,
    CASE op
      WHEN 'I' THEN printf(',"data":%s}}', after)
      WHEN 'U' THEN printf(',"data":%s,"old":%s}}', after, before)
      ELSE printf(',"old":%s}}', before)
    END AS sj_tail,
    CASE op
      WHEN 'I' THEN printf(',"data":{{"pk":%d}}}}', pk)
      WHEN 'U' THEN printf(',"data":{{"pk":%d}},"old":{{"pk":%d}}}}', pk, pk)
      ELSE printf(',"old":{{"pk":%d}}}}', pk)
    END AS sj_pk_tail
  FROM changes
), sj AS (
  SELECT *, sj_prefix || sj_tail AS full_message,
    strlen(sj_prefix || sj_tail) > {_SJ_THRESHOLD} AS oversized,
    printf('s3://claim-check/%s.json', md5(sj_prefix || sj_tail)) AS loc
  FROM sj_full
)
"""


@register(
    "encoder_simple_json_claim_check",
    _SJ_LARGE_CTE + """
SELECT seq,
  CASE WHEN oversized THEN sj_prefix
         || printf(',"claimCheckLocation":"%s"', loc)
         || ',"handleKeyOnly":true' || sj_pk_tail
       ELSE full_message END AS message,
  CAST(CASE WHEN oversized THEN 1 ELSE 0 END AS BIGINT) AS offloaded,
  CASE WHEN oversized THEN loc END AS claim_addr
FROM sj
""",
    doc="Simple-JSON claim-check wire (simple/message.go:488-492 "
        "omitempty fields; encoder.go:84-120: the oversized message "
        "offloads to the md5-addressed store, then re-renders with "
        "pk-only images, handleKeyOnly:true AND claimCheckLocation set; "
        "scenario kafka_simple_claim_check/): byte-exact inline and "
        "degraded forms in both engines — pure format_string/md5/"
        "octet_length column expressions, zero Python",
)
def encoder_simple_json_claim_check(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_protocol_large

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_simple_protocol_large(
        ch, threshold=_SJ_THRESHOLD, handle="claim-check").select(
        "seq", "message", "offloaded", "claim_addr")


@register(
    "decoder_simple_json_large",
    _SJ_LARGE_CTE + """
SELECT seq, 'app' AS database, table_name, table_id, op,
  CAST(commit_ts AS BIGINT) AS commit_ts,
  CAST(CASE WHEN oversized THEN 1 ELSE 0 END AS BIGINT) AS only_handle_key,
  CASE WHEN oversized THEN loc END AS claim_location,
  pk,
  CASE WHEN oversized THEN NULL ELSE event_type END AS event_type,
  CASE WHEN oversized THEN NULL
       WHEN op = 'D' THEN value_cents - 100
       ELSE value_cents END AS value_cents
FROM sj
""",
    doc="Simple-JSON large-message consumer (decoder.go:141-147 order: "
        "claimCheckLocation first, then handleKeyOnly; scenario "
        "kafka_simple_handle_key_only/): degraded rows surface pk-only "
        "with only_handle_key=1 and their claim_location for the "
        "fetch-back — the consumer contract that a degraded row triggers "
        "a fetch instead of a partial apply; full rows surface their "
        "live image (old for DELETE)",
)
def decoder_simple_json_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_simple_protocol_large,
        encode_simple_protocol_large,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    wire = encode_simple_protocol_large(
        ch, threshold=_SJ_THRESHOLD, handle="claim-check").select(
        "seq", "message")
    return decode_simple_protocol_large(wire, keep=("seq",))


@register(
    "consumer_simple_json_claim_check_e2e",
    _SJ_LARGE_CTE + """
SELECT seq, pk, event_type,
  CASE WHEN op = 'D' THEN value_cents - 100 ELSE value_cents END
    AS value_cents,
  CAST(commit_ts AS BIGINT) AS commit_ts,
  CAST(CASE WHEN oversized THEN 1 ELSE 0 END AS BIGINT) AS was_offloaded
FROM sj
""",
    doc="Simple-JSON claim-check fetch-back e2e (decoder.go:141-142,"
        "168-195 assembleClaimCheckRowChangedEvent): the consumer reads "
        "claimCheckLocation off the degraded wire, joins the content-"
        "addressed offload store (broadcast-sized here; AQE size-decides "
        "so a 100 TB store flips to co-shuffle naturally), decodes the "
        "stored FULL message, and restores every column — the offloaded "
        "bytes round-trip identical to the never-degraded lane",
)
def consumer_simple_json_claim_check_e2e(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_simple_protocol,
        decode_simple_protocol_large,
        encode_simple_protocol_large,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_simple_protocol_large(
        ch, threshold=_SJ_THRESHOLD, handle="claim-check")
    # the side-write the reference's claimCheck.WriteMessage performs —
    # content-addressed, so identical wires share one object
    store = enc.filter(F.col("offloaded") == 1).select(
        F.col("claim_addr").alias("location"),
        F.col("full_message").alias("stored_msg")).dropDuplicates(
        ["location"])
    dec = decode_simple_protocol_large(
        enc.select("seq", "message"), keep=("seq",))
    common = ["seq", "pk", "event_type", "value_cents", "commit_ts"]
    inline = dec.filter(F.col("claim_location").isNull()).select(
        *common, F.lit(0).cast("bigint").alias("was_offloaded"))
    fetched = dec.filter(F.col("claim_location").isNotNull()) \
        .select("seq", "claim_location") \
        .join(store, F.col("claim_location") == F.col("location")) \
        .select("seq", F.col("stored_msg").alias("message"))
    refull = decode_simple_protocol(fetched, keep=("seq",)).select(
        *common, F.lit(1).cast("bigint").alias("was_offloaded"))
    return inline.unionByName(refull)


def _bootstrap_fmt() -> str:
    from tigate_spark.functions.encoders import _BOOTSTRAP_FMT

    return _BOOTSTRAP_FMT


@register(
    "encoder_simple_bootstrap",
    ORACLE_CHANGES_CTE
    + f"""
SELECT table_id,
  printf('{_bootstrap_fmt()}',
         {_json_esc_sql("schema_name")}, {_json_esc_sql("table_name")},
         table_id, commit_ts, commit_ts // 1000,
         {_json_esc_sql("schema_name")}, {_json_esc_sql("table_name")},
         table_id) AS message
FROM (
  SELECT schema_name, table_name, table_id, min(commit_ts) AS commit_ts
  FROM changes GROUP BY 1, 2, 3
)
""",
    doc="Simple-protocol BOOTSTRAP tableSchema handshake, one versioned "
        "message per table (bootstraper.go:39-100; simple/message.go:276-307,"
        "517-530) — the schema message a consumer needs before DML",
)
def encoder_simple_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_bootstrap

    ch = changes_stream(spark, sf_dir)
    return encode_simple_bootstrap(ch).select("table_id", "message")


@register(
    "decoder_simple_bootstrap",
    ORACLE_CHANGES_CTE
    + """
SELECT schema_name AS database, table_name, table_id,
       'BOOTSTRAP' AS msg_type, min(commit_ts) AS commit_ts,
       CAST(1 AS BIGINT) AS schema_version, CAST(4 AS BIGINT) AS n_columns,
       'pk,event_type,value_cents,user_id' AS column_names,
       'pk' AS pk_columns
FROM changes GROUP BY 1, 2, 3
""",
    doc="E7 for the bootstrap handshake: encode→from_json round trip "
        "recovers the consumer-side registry row (columns, schema version, "
        "primary-key set) — simple/message.go:440-470 decode path",
)
def decoder_simple_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_simple_bootstrap,
        encode_simple_bootstrap,
    )

    ch = changes_stream(spark, sf_dir)
    return decode_simple_bootstrap(encode_simple_bootstrap(ch))


def _bootstrap_versioned_sql() -> str:
    from tigate_spark.functions.encoders import (
        _BOOTSTRAP_IDX_JSON,
        _BOOTSTRAP_V_PREFIX_FMT,
        boot_cols_json,
    )

    cases = " ".join(
        f"WHEN {v} THEN '{boot_cols_json(2 + v)}'" for v in range(4)
    )
    return (
        ORACLE_CHANGES_CTE + _VERSIONS_CTE
        + """
, tbl AS (SELECT DISTINCT schema_name, table_name, table_id FROM changes)
SELECT t.table_id, v.version,
  printf('"""
        + _BOOTSTRAP_V_PREFIX_FMT
        + f"""',
         {_json_esc_sql("t.schema_name")}, {_json_esc_sql("t.table_name")},
         t.table_id, v.version_ts,
         v.version_ts // 1000, {_json_esc_sql("t.schema_name")},
         {_json_esc_sql("t.table_name")}, t.table_id,
         v.version)
  || CASE v.version """
        + cases
        + f" ELSE '{boot_cols_json(5)}' END"
        + f"""
  || ',"indexes":{_BOOTSTRAP_IDX_JSON}' || '}}}}' AS message
FROM tbl t JOIN versions v USING (table_id)
"""
    )


@register(
    "encoder_simple_bootstrap_versioned",
    _bootstrap_versioned_sql(),
    doc="Versioned bootstrap series: one BOOTSTRAP tableSchema message per "
        "(table, schema version) — the handshake stream a consumer replays "
        "to reconstruct schema history; the column set grows with the "
        "version like schema_evolution_typed_view (bootstraper.go re-sends "
        "on schema change; TableSchema.Version simple/message.go:280)",
)
def encoder_simple_bootstrap_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_bootstrap_versioned

    ch = changes_stream(spark, sf_dir)
    versions = sr_ops.synthetic_schema_versions(spark, ch)
    return encode_simple_bootstrap_versioned(ch, versions).select(
        "table_id", "version", "message"
    )


def _simple_ddl_sql() -> str:
    from tigate_spark.functions.encoders import _SIMPLE_TS_FMT

    ts = "printf('" + _SIMPLE_TS_FMT + "', table_id, table_id)"
    return _DDL_CTE + (
        """
SELECT seq,
  printf('{"version":1,"type":"%s","commitTs":%d,"buildTs":%d,"sql":"%s"',
         CASE ddl_type WHEN 'create table' THEN 'CREATE'
              WHEN 'rename table' THEN 'RENAME'
              WHEN 'drop table' THEN 'ERASE'
              WHEN 'truncate table' THEN 'TRUNCATE'
              ELSE 'ALTER' END,
         commit_ts, commit_ts // 1000, """ + _json_esc_sql("query") + """)
  || CASE WHEN ddl_type <> 'drop table' THEN ',"tableSchema":' || """
        + ts
        + """ ELSE '' END
  || CASE WHEN ddl_type <> 'create table' THEN ',"preTableSchema":' || """
        + ts
        + """ ELSE '' END
  || '}' AS message
FROM ddl
"""
    )


@register(
    "encoder_simple_ddl",
    _simple_ddl_sql(),
    doc="Simple-protocol DDL messages (simple/message.go:527-550, "
        "getDDLType :79-100): DDL class + raw SQL + tableSchema/"
        "preTableSchema payloads (absent for ERASE-after / CREATE-before "
        "respectively) — completes the simple protocol surface "
        "(DML + bootstrap + DDL)",
)
def encoder_simple_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_ddl

    return encode_simple_ddl(_ddl_stream(spark, sf_dir)).select("seq", "message")


@register(
    "encoder_avro_json",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"pk":%d}', pk) AS key,
  CASE WHEN op = 'D' THEN NULL ELSE
    printf('{"pk":%d,"event_type":{"string":"%s"},"value_cents":{"long":%d},"user_id":{"long":%d},"_tidb_op":"%s","_tidb_commit_ts":%d,"_tidb_commit_physical_time":%d}',
           pk, event_type, value_cents, user_id,
           CASE WHEN op = 'I' THEN 'c' ELSE 'u' END,
           commit_ts, commit_ts // 1000)
  END AS value
FROM changes
""",
    doc="Avro codec, JSON encoding of the reference's record layout "
        "(arvo.go:163-205,328-343,505-540; avro_basic integration test as "
        "spec): union-wrapped nullable columns, _tidb_op/_tidb_commit_ts/"
        "_tidb_commit_physical_time extension fields, delete = key + null "
        "value tombstone (arvo.go:163-166). Confluent binary framing + "
        "schema-registry registration are transport concerns outside the "
        "Kafka stand-in",
)
def encoder_avro_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_avro_json

    ch = changes_stream(spark, sf_dir)
    return encode_avro_json(ch).select("seq", "key", "value")


@register(
    "decoder_avro_json",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, op, pk,
       CASE WHEN op = 'D' THEN NULL ELSE commit_ts END AS commit_ts,
       CASE WHEN op = 'D' THEN NULL ELSE event_type END AS event_type,
       CASE WHEN op = 'D' THEN NULL ELSE value_cents END AS value_cents,
       CASE WHEN op = 'D' THEN NULL ELSE user_id END AS user_id
FROM changes
""",
    doc="E7 for the Avro codec: encode→from_json round trip — null value "
        "tombstone maps back to D with the pk taken from the key record, "
        "_tidb_op c/u maps back to I/U, unions unwrap",
)
def decoder_avro_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_avro_json,
        encode_avro_json,
    )

    ch = changes_stream(spark, sf_dir)
    return decode_avro_json(encode_avro_json(ch))


def _avro_wire_oracle() -> str:
    from tigate_spark.functions.avro_wire import avro_wire_oracle_suffix

    return (
        ORACLE_CHANGES_CTE
        + """
, avro_in AS (
  SELECT seq, op, pk, event_type, value_cents, user_id, commit_ts
  FROM changes
)"""
        + avro_wire_oracle_suffix()
        + "\nSELECT seq, key_hex, value_hex FROM avro_msg"
    )


@register(
    "encoder_avro_confluent_framed",
    _avro_wire_oracle(),
    doc="Confluent Avro wire format as byte-exact hex: magic 0x00 + 4B BE "
        "schema id (confluent_schema_registry.go:40-42,400-408) + Avro "
        "binary record body (zigzag-varint longs, length-prefixed strings, "
        "['null',T] union branch indexes; arvo.go:163-205,328-343). "
        "Deletes stay key + null-value tombstones. Schema ids are the "
        "deterministic first-registration ids (key=1, value=2) of the "
        "stand-in registry. Pure column expressions in both engines — the "
        "hash match proves the wire bytes",
)
def encoder_avro_confluent_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.avro_wire import encode_avro_confluent

    ch = changes_stream(spark, sf_dir)
    return encode_avro_confluent(ch).select("seq", "key_hex", "value_hex")


def _avro_selector_oracle() -> str:
    from tigate_spark.functions.avro_wire import avro_wire_oracle_suffix

    return (
        ORACLE_CHANGES_CTE
        + """
, avro_in AS (
  SELECT seq, op, pk, event_type, value_cents, commit_ts,
         CAST(NULL AS BIGINT) AS user_id
  FROM changes
)"""
        + avro_wire_oracle_suffix(exclude=("user_id",))
        + "\nSELECT seq, key_hex, value_hex FROM avro_msg"
    )


@register(
    "encoder_avro_column_selector",
    _avro_selector_oracle(),
    doc="P1 × Avro wire (scenario kafka_column_selector_avro/, rule "
        "columns=['*','!user_id'] — the table-filter column DSL with "
        "last-match-wins '!' negation, column_selector.go:52 "
        "ParseColumnFilter): the registered value schema for the table "
        "simply LACKS the deselected field, so the Avro binary body "
        "skips its fragment — handle key and the _tidb extension fields "
        "always survive. Byte-exact hex in both engines; deletes stay "
        "key + null-value tombstones.",
)
def encoder_avro_column_selector(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from tigate_spark.config import ColumnSelector
    from tigate_spark.functions.avro_wire import encode_avro_confluent
    from tigate_spark.operators.projections import column_selectors

    ch = changes_stream(spark, sf_dir)
    rules = [ColumnSelector(matcher=["app.*"],
                            columns=["*", "!user_id"])]
    selected = column_selectors(ch, rules)
    return encode_avro_confluent(selected, exclude=("user_id",)).select(
        "seq", "key_hex", "value_hex")


def _avro_glue_oracle() -> str:
    from tigate_spark.functions.avro_wire import avro_glue_oracle_suffix

    return (
        ORACLE_CHANGES_CTE
        + """
, avro_in AS (
  SELECT seq, op, pk, event_type, value_cents, user_id, commit_ts
  FROM changes
)"""
        + avro_glue_oracle_suffix()
        + "\nSELECT seq, key_hex, value_hex FROM avro_msg"
    )


@register(
    "encoder_avro_glue_framed",
    _avro_glue_oracle(),
    doc="AWS Glue schema-registry Avro wire format as byte-exact hex: "
        "[1B header version = 3][1B compression = 0][16B schema-version "
        "UUID] (glue_schema_registry.go:326-353 getMsgHeader; registry "
        "dispatch arvo.go:1019-1032) + the SAME Avro binary record body "
        "as the Confluent frame (the SchemaManager seam — only the "
        "header differs). Deletes stay key + null-value tombstones. "
        "Schema-version UUIDs are the stand-in registry's deterministic "
        "UUIDv5s of the subject names (the Glue precedent of the "
        "Confluent first-registration ids; the AWS round-trip stays "
        "unmodeled). Pure column expressions in both engines — the hash "
        "match proves the wire bytes; tests/test_avro_wire.py decodes "
        "the frames with an independent Python Glue-header parser.",
)
def encoder_avro_glue_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.avro_wire import encode_avro_glue

    ch = changes_stream(spark, sf_dir)
    return encode_avro_glue(ch).select("seq", "key_hex", "value_hex")


def _avro_evolution_oracle() -> str:
    from tigate_spark.functions.avro_wire import avro_evolution_oracle_suffix
    from tigate_spark.functions.confluent_registry import (
        EXPECTED_KEY_ID,
        EXPECTED_V1_ID,
        EXPECTED_V2_ID,
    )

    mid_sql = "(SELECT (min(commit_ts) + max(commit_ts)) // 2 FROM avro_in)"
    return (
        ORACLE_CHANGES_CTE
        + """
, avro_in AS (
  SELECT seq, op, pk, event_type, value_cents, user_id, commit_ts, props
  FROM changes
)"""
        + avro_evolution_oracle_suffix(
            EXPECTED_KEY_ID, EXPECTED_V1_ID, EXPECTED_V2_ID, mid_sql
        )
        + "\nSELECT seq, schema_id, key_hex, value_hex FROM avro_evo"
    )


@register(
    "encoder_avro_registry_evolution",
    _avro_evolution_oracle(),
    doc="Schema-registry round trip driving the Confluent wire framing "
        "across a schema evolution (confluent_schema_registry.go:198-263 "
        "Register + 400-408 framing; the HTTP server's allocation "
        "semantics live in functions/confluent_registry.py over a local "
        "fcntl-locked JSON file — global content-deduplicated ids, "
        "per-subject versions, idempotent re-registration; the "
        "concurrent-feed race is proven cross-process in tests/"
        "test_confluent_registry.py::test_concurrent_feeds_share_one_"
        "registry — four driver processes allocate contiguous "
        "collision-free ids against ONE file). The entry "
        "registers key/value-v1/value-v2 (v2 = v1 + nullable props, the "
        "post-DDL add-column shape) against a FRESH registry, asserts "
        "idempotency and cross-subject content dedup, then frames every "
        "row with its REGISTRY-RETURNED id: v1 body before the corpus-"
        "midpoint commit-ts boundary, v2 body (+ union-string props "
        "tail) after. The oracle templates the ids a fresh Confluent "
        "registry must hand this order (1/2/3) — an allocator drift "
        "would flip the framed bytes and fail the hash. One 1-row agg "
        "collect for the boundary (codebook precedent); framing is pure "
        "column expressions in both engines",
)
def encoder_avro_registry_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from tigate_spark.functions.confluent_registry import FileSchemaRegistry

    # run-scoped private dir (not a fixed predictable /tmp name):
    # concurrent runs can't interleave remove/register and drift the
    # allocated ids, and there is no symlink-followable shared path
    work = tempfile.mkdtemp(prefix="tigate-avro-registry-")
    path = os.path.join(work, "registry.json")
    reg = FileSchemaRegistry(path)
    try:
        return _avro_registry_evolution_body(spark, sf_dir, reg)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "encoder_avro_registry_http",
    _avro_evolution_oracle(),
    doc="The registry evolution round trip over a REAL HTTP transport — "
        "the last unmodeled piece of the Confluent story: a localhost "
        "ThreadingHTTPServer (functions/registry_http.py) serves the "
        "reference client's REST surface (POST /subjects/<s>/versions, "
        "GET /schemas/ids/<id>, vnd.schemaregistry.v1+json content type, "
        "Confluent 40401/40403 error mapping — confluent_schema_registry"
        ".go:141-154,219-228) over the fcntl-locked file allocator, and "
        "the urllib client (same method surface as the file client, "
        "bounded retry like the reference's httpRetry :416+) drives the "
        "IDENTICAL evolution framing body as encoder_avro_registry_"
        "evolution — every byte on the wire comes from ids that made a "
        "real socket round trip. Same oracle: the framed hex must hash-"
        "match the fresh-registry id template regardless of transport. "
        "Registration traffic is driver-side and O(schema versions), "
        "never per-row — at 100 TB only base_url changes",
)
def encoder_avro_registry_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from tigate_spark.functions.registry_http import (
        HTTPSchemaRegistry,
        RegistryHTTPServer,
    )

    work = tempfile.mkdtemp(prefix="tigate-avro-registry-http-")
    try:
        with RegistryHTTPServer(os.path.join(work, "registry.json")) as srv:
            reg = HTTPSchemaRegistry(srv.base_url)
            return _avro_registry_evolution_body(spark, sf_dir, reg)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _avro_registry_evolution_body(spark, sf_dir, reg) -> DataFrame:
    from pyspark.sql import functions as F

    from tigate_spark.functions.avro_wire import encode_avro_evolution
    from tigate_spark.functions.confluent_registry import (
        EVENTS_KEY_SCHEMA,
        EVENTS_VALUE_V1,
        EVENTS_VALUE_V2,
    )
    key_id = reg.register("events-key", EVENTS_KEY_SCHEMA)
    v1_id = reg.register("events-value", EVENTS_VALUE_V1)
    if reg.register("events-value", EVENTS_VALUE_V1) != v1_id:
        raise AssertionError("registry re-registration must be idempotent")
    v2_id = reg.register("events-value", EVENTS_VALUE_V2)
    if reg.register("events_compat-value", EVENTS_VALUE_V2) != v2_id:
        raise AssertionError("registry must dedup schema content globally")
    if reg.versions("events-value") != [1, 2]:
        raise AssertionError("subject must carry two versions post-evolution")
    ch = changes_stream(spark, sf_dir)
    b = ch.agg(F.min("commit_ts").alias("mn"),
               F.max("commit_ts").alias("mx")).collect()[0]
    mid = (int(b["mn"]) + int(b["mx"])) // 2
    out = encode_avro_evolution(ch, key_id, v1_id, v2_id, mid)
    return out.select("seq", "schema_id", "key_hex", "value_hex")


@register(
    "encoder_csv_rows",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  concat_ws(',', op, schema_name, table_name,
            CAST(commit_ts AS VARCHAR), CAST(pk AS VARCHAR),
            event_type, CAST(value_cents AS VARCHAR)) AS line
FROM changes
""",
    doc="CSV line encoder (storage-sink style, one delimited line per "
        "change; \\N null rendering follows the reference's MySQL-dump "
        "type renderer, pkg/common/helper.go:19-80)",
)
def encoder_csv_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_csv_rows

    ch = changes_stream(spark, sf_dir)
    return encode_csv_rows(ch).select("seq", "line")


#: DuckDB mirror of the JVM csv writer's quoting rule (univocity, the
#: engine behind F.to_csv): a field is quoted iff it contains the quote
#: char, the delimiter, or a line break, or is the empty string; inside
#: quotes, backslash (the escape char) and the quote char are
#: backslash-escaped; NULL renders as the null token unquoted. Built
#: from chr() literals so Python string escaping can't mangle it
#: (SNIPPETS r7 lesson).
def _csv_quoted_field_sql(f: str, sep: str) -> str:
    bs, qt = "chr(92)", "chr(34)"
    return (
        f"CASE WHEN {f} IS NULL THEN chr(92) || 'N' "
        f"WHEN contains({f}, '{sep}') OR contains({f}, chr(34)) "
        f"OR contains({f}, chr(10)) OR contains({f}, chr(13)) "
        f"OR {f} = '' "
        f"THEN {qt} || replace(replace({f}, {bs}, {bs}||{bs}), "
        f"chr(34), {bs}||chr(34)) || {qt} "
        f"ELSE {f} END"
    )


_CSV_CFG_FIELDS = [
    "op", "schema_name", "table_name", "CAST(commit_ts AS VARCHAR)",
    "CAST(pk AS VARCHAR)", "event_type", "CAST(value_cents AS VARCHAR)",
    "props",
]


@register(
    "encoder_csv_configured",
    ORACLE_CHANGES_CTE
    + "SELECT seq, "
    + " || '|' || ".join(_csv_quoted_field_sql(f, "|")
                         for f in _CSV_CFG_FIELDS)
    + " AS line FROM changes",
    doc="CSV encoder under the reference's CSVConfig knobs "
        "(pkg/config/sink.go:250-268: delimiter/quote/null/"
        "include-commit-ts) — delimiter '|', quote '\"', null '\\N', "
        "commit-ts on, plus the free-form props column, whose JSON "
        "quotes force REAL quoting on every line. Spark-first: the "
        "wire bytes come from F.to_csv (the JVM univocity writer), and "
        "the oracle reproduces its quoting rule field by field — "
        "quoted iff the field holds quote/delimiter/linebreak or is "
        "empty, backslash-escaped inside quotes. Byte-exact hash match",
)
def encoder_csv_configured(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import CSVConfig
    from tigate_spark.functions.encoders import encode_csv_configured

    cfg = CSVConfig(delimiter="|", quote='"', null_string="\\N",
                    include_commit_ts=True)
    ch = changes_stream(spark, sf_dir)
    return encode_csv_configured(ch, cfg, extra_cols=("props",)).select(
        "seq", "line")


@register(
    "decoder_csv_configured",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, op, schema_name, table_name, commit_ts, pk, event_type,
       value_cents, props
FROM changes
""",
    doc="Consumer-side inverse under the same CSVConfig: F.from_csv "
        "with matching options parses the quoted '|'-delimited lines "
        "back — a delimiter inside a quoted JSON field survives, which "
        "a naive split cannot do. Full encode→decode round trip "
        "hash-matches the pre-encode truth",
)
def decoder_csv_configured(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.config import CSVConfig
    from tigate_spark.functions.encoders import (
        decode_csv_configured,
        encode_csv_configured,
    )

    cfg = CSVConfig(delimiter="|", quote='"', null_string="\\N",
                    include_commit_ts=True)
    ch = changes_stream(spark, sf_dir)
    enc = encode_csv_configured(ch, cfg, extra_cols=("props",)).select(
        "seq", "line")  # seq rides OUTSIDE the line (the message offset)
    return decode_csv_configured(
        enc, cfg, extra_schema="props string"
    ).select("seq", "op", "schema_name", "table_name", "commit_ts",
             "pk", "event_type", "value_cents", "props")


@register(
    "txn_match_prewrite_commit",
    ORACLE_CHANGES_CTE
    + """
, commits AS (
  SELECT start_ts, pk, commit_ts FROM changes WHERE seq % 50 <> 0
), prewrites AS (
  SELECT start_ts AS p_start_ts, pk AS p_pk, value_cents, event_type, seq
  FROM changes
)
SELECT c.start_ts, c.pk, c.commit_ts, p.value_cents, p.event_type, p.seq
FROM commits c JOIN prewrites p
  ON c.start_ts = p.p_start_ts AND c.pk = p.p_pk
""",
    doc="S2: prewrite⋈commit transaction matcher on (start_ts, key); "
        "rollbacks (no commit) drop out (txn_matcher.go:42-110)",
)
def txn_match_prewrite_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    prewrites = ch.select("start_ts", "pk", "value_cents", "event_type", "seq")
    commits = ch.filter(F.col("seq") % 50 != 0).select("start_ts", "pk", "commit_ts")
    return t_ops.match_prewrite_commit(prewrites, commits)


@register(
    "projection_updated_columns",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  array_to_string(list_sort(list_filter(json_keys(after),
    k -> json_extract(before, '$.' || k)
         IS DISTINCT FROM json_extract(after, '$.' || k))), ',') AS changed_cols,
  CAST(len(list_filter(json_keys(after),
    k -> json_extract(before, '$.' || k)
         IS DISTINCT FROM json_extract(after, '$.' || k))) AS BIGINT) AS n_changed
FROM changes WHERE op = 'U'
""",
    doc="P2: only-updated-columns — byte-exact fragment diff of the before/after images "
        "(sink.go:160; open/codec.go:56-72). Catalog entry emits the "
        "changed-column list as a sorted comma-joined string so the external "
        "comparator can hash it (arrays are unhashable in the pandas sort).",
)
def projection_updated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.projections import updated_columns_projection

    ch = changes_stream(spark, sf_dir, with_images=True)
    return updated_columns_projection(ch).select(
        "seq",
        F.concat_ws(",", "changed_cols").alias("changed_cols"),
        "n_changed",
    )


@register(
    "decoder_open_protocol",
    ORACLE_CHANGES_CTE
    + """
, msgs AS (
  SELECT seq,
    printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}',
           commit_ts, schema_name, table_name) AS key,
    CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
         WHEN op = 'I' THEN printf('{"u":%s}', after)
         ELSE printf('{"d":%s}', before) END AS value
  FROM changes
)
SELECT seq,
  CAST(json_extract(key, '$.ts') AS BIGINT) AS commit_ts,
  json_extract_string(key, '$.scm') AS schema_name,
  json_extract_string(key, '$.tbl') AS table_name,
  CAST(json_extract(value, '$.u.value_cents') AS BIGINT) AS new_value_cents,
  CAST(json_extract(value, '$.p.value_cents') AS BIGINT) AS old_value_cents,
  CAST(json_extract(value, '$.d.pk') AS BIGINT) AS deleted_pk
FROM msgs
""",
    doc="E7: open-protocol consumer decoder — key/value from_json round "
        "trip (decoder/decoder.go; open/codec.go:24-120)",
)
def decoder_open_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    k = F.from_json(F.col("key"), "ts BIGINT, scm STRING, tbl STRING, t BIGINT")
    v = F.from_json(F.col("value"), f"u {img}, p {img}, d {img}")
    return enc.select(
        "seq",
        k["ts"].alias("commit_ts"),
        k["scm"].alias("schema_name"),
        k["tbl"].alias("table_name"),
        v["u"]["value_cents"].alias("new_value_cents"),
        v["p"]["value_cents"].alias("old_value_cents"),
        v["d"]["pk"].alias("deleted_pk"),
    )


@register(
    "ddl_action_classify",
    _DDL_CTE + """
, stmts AS (
  SELECT seq, trim(s.stmt) AS stmt
  FROM ddl, unnest(string_split(ddl.query, ';')) AS s(stmt)
  WHERE trim(s.stmt) <> ''
)
SELECT seq, stmt,
  CASE WHEN stmt LIKE 'CREATE TABLE%' THEN 'create table'
       WHEN stmt LIKE 'ALTER TABLE%ADD COLUMN%' THEN 'add column'
       WHEN stmt LIKE 'ALTER TABLE%DROP COLUMN%' THEN 'drop column'
       ELSE 'other' END AS ddl_action
FROM stmts
""",
    doc="S4/F5: DDL action-type classification — the dispatch key of the "
        "~30-case action switch (persist_storage.go:812-939)",
)
def ddl_action_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ddl = _ddl_stream(spark, sf_dir)
    stmts = f_ops.split_multistatement_ddl(ddl).select("seq", "stmt")
    return f_ops.classify_ddl(stmts).select("seq", "stmt", "ddl_action")


@register(
    "ddl_barrier_subbatches",
    ORACLE_CHANGES_CTE
    + """
, bounds AS (SELECT min(commit_ts) AS lo, max(commit_ts) AS hi FROM changes),
marked AS (
  SELECT c.*,
         (SELECT lo + (hi - lo) // 3 FROM bounds) AS t1,
         (SELECT lo + 2 * (hi - lo) // 3 FROM bounds) AS t2
  FROM changes c
)
SELECT seq,
       CAST(CASE
         WHEN NOT (table_id = 2 AND commit_ts >= t1) AND commit_ts < t2 THEN 0
         WHEN (table_id = 2 AND commit_ts >= t1) AND commit_ts < t2 THEN 1
         ELSE 2 END AS BIGINT) AS sub
FROM marked
""",
    doc="T8: DDL barrier — per-ROW sub-batch assignment around two DDL "
        "commit ts (one single-table, one global); unaffected tables flow "
        "early (barrier.go:26-57; ddl_only_block_related_table). Row-level "
        "hash: every row's barrier placement is oracle-checked, not just "
        "the sub-batch counts",
)
def ddl_barrier_subbatches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.ddl import DDLEvent, split_batch_at_ddl

    ch = changes_stream(spark, sf_dir)
    lo, hi = ch.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * (hi - lo) // 3
    ddls = [
        DDLEvent(commit_ts=t1, table_id=2, query="ALTER TABLE t2 ADD COLUMN x INT",
                 schema_tag="v1"),
        DDLEvent(commit_ts=t2, table_id=None, query="ALTER DATABASE app CHARSET utf8",
                 schema_tag="v2"),
    ]
    parts: list[DataFrame] = []

    def apply_dml(df: DataFrame, sub: int) -> None:
        parts.append(df.withColumn("sub", F.lit(sub).cast("bigint")))

    split_batch_at_ddl(ch, ddls, apply_dml, lambda d: None)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("seq", "sub")


@register(
    "agg_salted_skew_safe",
    ORACLE_CHANGES_CTE
    + """
SELECT event_type, CAST(sum(value_cents) AS BIGINT) AS sum_value_cents, count(*) AS n_rows
FROM changes GROUP BY event_type
""",
    doc="R9/skew: two-stage salted aggregation over pathologically hot "
        "group keys — identical result, no hot reducer "
        "(write_bytes_splitter.go intent; salting + AQE are the Spark forms)",
)
def agg_salted_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.skew import salted_sum_count

    ch = changes_stream(spark, sf_dir)
    out = salted_sum_count(ch, ["event_type"], "value_cents",
                           n_salts=16, salt_src="seq")
    return out.select("event_type",
                      F.col("sum_value_cents"),
                      F.col("n_rows"))


@register(
    "join_skew_split_salted",
    ORACLE_CHANGES_CTE
    + f"""
, dim AS (
  SELECT DISTINCT table_id,
         {h32_sql('table_id')} % 64 AS shard
  FROM changes
)
SELECT c.seq, c.table_id, d.shard
FROM changes c JOIN dim d ON c.table_id = d.table_id
""",
    doc="R9/skew: split-salted join — the change stream's join key "
        "(table_id, 4 hot values) is pathologically skewed, so hot keys "
        "are salted n-ways on the fact side with the matching dim rows "
        "replicated per salt, cold keys join normally, results union "
        "(write_bytes_splitter.go intent; the explicit form of AQE's "
        "skew-join rewrite, for skew known at plan time). Result is "
        "row-identical to the plain join.",
)
def join_skew_split_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.skew import skew_split_join

    ch = changes_stream(spark, sf_dir)
    dim = ch.select("table_id").distinct().withColumn(
        "shard", h32(F.col("table_id")) % 64
    )
    out = skew_split_join(
        ch.select("seq", "table_id"), dim, "table_id",
        hot_keys=[0, 1], n_salts=8, salt_src="seq",
    )
    return out.select("seq", "table_id", "shard")


@register(
    "apply_composite_key",
    _LAST_CHANGE_CTE.replace(
        "PARTITION BY table_id, pk", "PARTITION BY table_id, pk, event_type"
    )
    + """
SELECT table_id, pk, event_type, commit_ts AS last_commit_ts, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="K1/many_pk_or_uk: last-writer-wins apply over a composite unique "
        "key (table_id, pk, event_type) — same single-shuffle max_by",
)
def apply_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    last = apply_ops.latest_change_per_key(
        ch, ["value_cents"], key_cols=["table_id", "pk", "event_type"]
    )
    return last.filter(F.col("op") != "D").select(
        "table_id", "pk", "event_type", "last_commit_ts", "value_cents"
    )


@register(
    "force_replicate_rowkey",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
       md5(CAST(event_type AS VARCHAR) || chr(1) || CAST(value_cents AS VARCHAR)
           || chr(1) || CAST(user_id AS VARCHAR)) AS row_key
FROM changes
""",
    doc="force-replicate: synthetic full-row key for tables without a "
        "handle key (ChangefeedConfig.ForceReplicate; "
        "force_replicate_table scenario)",
)
def force_replicate_rowkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    out = apply_ops.force_replicate_rowkey(
        ch, ["event_type", "value_cents", "user_id"]
    )
    return out.select("seq", "row_key")


@register(
    "encoder_open_batch",
    ORACLE_CHANGES_CTE
    + f"""
, msgs AS (
  SELECT seq,
    'app_' || table_name AS topic,
    {h32_sql('pk')} % 16 AS partition,
    CASE WHEN op = 'U' THEN printf('{{"u":%s,"p":%s}}', after, before)
         WHEN op = 'I' THEN printf('{{"u":%s}}', after)
         ELSE printf('{{"d":%s}}', before) END AS value
  FROM changes
)
, lanes AS (
  SELECT *, (row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1)
            // 1024 AS batch_seq
  FROM msgs
)
SELECT topic, partition, batch_seq,
       string_agg(value, chr(10) ORDER BY seq) AS batch_value,
       count(*) AS n_messages, max(seq) AS max_seq
FROM lanes GROUP BY topic, partition, batch_seq
""",
    doc="E4: per-(topic,partition) message batching in seq order, rolled "
        "at MaxBatchSize=1024 (kafka_dml_worker.go:221-321; "
        "open/encoder.go:122) over open-protocol values — bounded batch "
        "state per lane at any scale",
)
def encoder_open_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        encode_open_protocol,
        encode_open_protocol_batch,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch).withColumn(
        "topic", F.format_string("app_%s", F.col("table_name"))
    ).withColumn("partition", (h32(F.col("pk")) % 16))
    return encode_open_protocol_batch(enc)


@register(
    "encoder_open_batch_framed",
    ORACLE_CHANGES_CTE
    + f"""
, msgs AS (
  SELECT seq,
    'app_' || table_name AS topic,
    {h32_sql('pk')} % 16 AS partition,
    printf('{{"ts":%d,"scm":"%s","tbl":"%s","t":1}}',
           commit_ts, schema_name, table_name) AS key,
    CASE WHEN op = 'U' THEN printf('{{"u":%s,"p":%s}}', after, before)
         WHEN op = 'I' THEN printf('{{"u":%s}}', after)
         ELSE printf('{{"d":%s}}', before) END AS value
  FROM changes
)
, lanes AS (
  SELECT *, (row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1)
            // 1024 AS batch_seq
  FROM msgs
)
SELECT topic, partition, batch_seq,
       '0000000000000001' || string_agg(
         lpad(hex(octet_length(encode(key))), 16, '0') || hex(key), ''
         ORDER BY seq) AS batch_key_hex,
       string_agg(
         lpad(hex(octet_length(encode(value))), 16, '0') || hex(value), ''
         ORDER BY seq) AS batch_value_hex,
       count(*) AS n_messages, max(seq) AS max_seq
FROM lanes GROUP BY topic, partition, batch_seq
""",
    doc="E2 binary batch framing, byte-compatible with the open-protocol "
        "wire format (open/encoder.go:113-152): key = [8B BE version=1] + "
        "per-row [8B BE len][key], value = per-row [8B BE len][value]; "
        "rendered as hex (unhex = producer payload)",
)
def encoder_open_batch_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        encode_open_batch_framed,
        encode_open_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch).withColumn(
        "topic", F.format_string("app_%s", F.col("table_name"))
    ).withColumn("partition", (h32(F.col("pk")) % 16))
    return encode_open_batch_framed(enc)


@register(
    "decoder_open_batch",
    ORACLE_CHANGES_CTE
    + f"""
, msgs AS (
  SELECT seq,
    'app_' || table_name AS topic,
    {h32_sql('pk')} % 16 AS partition,
    CASE WHEN op = 'U' THEN printf('{{"u":%s,"p":%s}}', after, before)
         WHEN op = 'I' THEN printf('{{"u":%s}}', after)
         ELSE printf('{{"d":%s}}', before) END AS value
  FROM changes
), lanes AS (
  SELECT *, (row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1)
            // 1024 AS batch_seq
  FROM msgs
)
SELECT topic, partition, batch_seq,
  CAST(json_extract(value, '$.u.pk') AS BIGINT) AS new_pk,
  CAST(json_extract(value, '$.u.value_cents') AS BIGINT) AS new_value_cents,
  CAST(json_extract(value, '$.p.value_cents') AS BIGINT) AS old_value_cents,
  CAST(json_extract(value, '$.d.pk') AS BIGINT) AS deleted_pk
FROM lanes
""",
    doc="E7 for the E4 batch path: batches split back into messages "
        "(consumer side of the batch framing) and each message from_json "
        "decoded — the full encode→batch→unbatch→decode round trip "
        "recovers the corpus as a multiset, per (topic, partition, batch)",
)
def decoder_open_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        encode_open_protocol,
        encode_open_protocol_batch,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch).withColumn(
        "topic", F.format_string("app_%s", F.col("table_name"))
    ).withColumn("partition", (h32(F.col("pk")) % 16))
    batches = encode_open_protocol_batch(enc)
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    msgs = batches.select(
        "topic", "partition", "batch_seq",
        F.explode(F.split(F.col("batch_value"), "\n")).alias("value"),
    )
    v = F.from_json(F.col("value"), f"u {img}, p {img}, d {img}")
    return msgs.select(
        "topic", "partition", "batch_seq",
        v["u"]["pk"].alias("new_pk"),
        v["u"]["value_cents"].alias("new_value_cents"),
        v["p"]["value_cents"].alias("old_value_cents"),
        v["d"]["pk"].alias("deleted_pk"),
    )


@register(
    "encoder_open_compressed",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}', commit_ts, schema_name, table_name) AS key,
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END AS value
FROM changes
""",
    doc="E6 as an oracle entry: open-protocol VALUE compression "
        "(open/codec.go:85 via common/compress.go Compress/Decompress; "
        "key stays plain) — the emitted value is the compress→decompress "
        "round trip, hash-matched against the independent PLAIN oracle, "
        "proving byte-lossless wire compression",
)
def encoder_open_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import compress_col, decompress_col
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    wire = compress_col(F.encode(F.col("value"), "UTF-8"), "zlib")
    back = F.decode(decompress_col(wire, "zlib"), "UTF-8")
    return enc.select("seq", "key", back.alias("value"))


@register(
    "decoder_open_compressed",
    ORACLE_CHANGES_CTE
    + f"""
, msgs AS (
  SELECT seq,
    'app_' || table_name AS topic,
    {h32_sql('pk')} % 16 AS partition,
    commit_ts, schema_name, table_name, op,
    CASE WHEN op = 'D' THEN before ELSE after END AS live
  FROM changes
), lanes AS (
  SELECT *, (row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1)
            // 1024 AS batch_seq
  FROM msgs
)
SELECT topic, partition, batch_seq, commit_ts, schema_name, table_name, op,
  CAST(json_extract(live, '$.pk') AS BIGINT) AS pk,
  json_extract_string(live, '$.event_type') AS event_type,
  CAST(json_extract(live, '$.value_cents') AS BIGINT) AS value_cents,
  CAST(json_extract(live, '$.user_id') AS BIGINT) AS user_id
FROM lanes
""",
    doc="E6/E7: the full compressed open-protocol wire — per-value gzip "
        "BEFORE framing (open/codec.go:85: the 8B length prefix counts "
        "COMPRESSED bytes), framed batches parsed back by the consumer "
        "(decode_open_batch_framed), values decompressed, decoded to the "
        "apply shape; oracle rebuilds the corpus from the plain stream",
)
def decoder_open_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import compress_col, decompress_col
    from tigate_spark.functions.encoders import (
        decode_open_batch_framed,
        encode_open_batch_framed,
        encode_open_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch).withColumn(
        "topic", F.format_string("app_%s", F.col("table_name"))
    ).withColumn("partition", (h32(F.col("pk")) % 16))
    enc = enc.withColumn(
        "value", F.hex(compress_col(F.encode(F.col("value"), "UTF-8"), "gzip"))
    )
    framed = encode_open_batch_framed(enc, value_is_hex=True)
    msgs = decode_open_batch_framed(framed)
    plain = F.decode(
        decompress_col(F.unhex(F.col("value_hex")), "gzip"), "UTF-8")
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    k = F.from_json(F.col("key"), "ts BIGINT, scm STRING, tbl STRING, t BIGINT")
    v = F.from_json(plain, f"u {img}, p {img}, d {img}")
    parsed = msgs.select("topic", "partition", "batch_seq",
                         k.alias("k"), v.alias("v"))
    op = (
        F.when(F.col("v.u").isNotNull() & F.col("v.p").isNotNull(), "U")
        .when(F.col("v.u").isNotNull(), "I")
        .otherwise("D")
    )
    live = F.when(op == "D", F.col("v.d")).otherwise(F.col("v.u"))
    return parsed.select(
        "topic", "partition", "batch_seq",
        F.col("k.ts").alias("commit_ts"),
        F.col("k.scm").alias("schema_name"),
        F.col("k.tbl").alias("table_name"),
        op.alias("op"),
        live.getField("pk").alias("pk"),
        live.getField("event_type").alias("event_type"),
        live.getField("value_cents").alias("value_cents"),
        live.getField("user_id").alias("user_id"),
    )


@register(
    "encoder_open_compressed_snappy",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}', commit_ts, schema_name, table_name) AS key,
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END AS value
FROM changes
""",
    doc="E6 on the REFERENCE codec set: per-value snappy raw-block "
        "compression (pkg/compression none/lz4/snappy — the Go side is "
        "snappy.Encode/Decode, the raw block format) via the compression "
        "seam (functions/compress.py, pyarrow's native snappy), "
        "round-tripped and "
        "hash-matched against the independent PLAIN oracle; unlike the "
        "gzip/zlib engine-extension wires this one is readable by "
        "reference consumers",
)
def encoder_open_compressed_snappy(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import compress_col, decompress_col
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    wire = compress_col(F.encode(F.col("value"), "UTF-8"), "snappy")
    back = F.decode(decompress_col(wire, "snappy"), "UTF-8")
    return enc.select("seq", "key", back.alias("value"))


@register(
    "encoder_open_compressed_zstd",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}', commit_ts, schema_name, table_name) AS key,
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END AS value
FROM changes
""",
    doc="E6 completing the sarama codec matrix: per-value zstd (the "
        "kafka producer's remaining codec, sarama.go:89-90, and the "
        "reference event store's value codec, "
        "eventstore/event_store.go:32) via the compression seam "
        "(functions/compress.py): pyarrow's native zstd frames plus the "
        "xxHash64 content checksum on encode, checksum-verifying native "
        "decode; both directions cross-validated against zstd-jni (the "
        "C implementation) and round-trip hash-matched against the "
        "independent PLAIN oracle",
)
def encoder_open_compressed_zstd(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import compress_col, decompress_col
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    wire = compress_col(F.encode(F.col("value"), "UTF-8"), "zstd")
    back = F.decode(decompress_col(wire, "zstd"), "UTF-8")
    return enc.select("seq", "key", back.alias("value"))


@register(
    "decoder_open_compressed_lz4",
    ORACLE_CHANGES_CTE
    + f"""
, msgs AS (
  SELECT seq,
    'app_' || table_name AS topic,
    {h32_sql('pk')} % 16 AS partition,
    commit_ts, schema_name, table_name, op,
    CASE WHEN op = 'D' THEN before ELSE after END AS live
  FROM changes
), lanes AS (
  SELECT *, (row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1)
            // 1024 AS batch_seq
  FROM msgs
)
SELECT topic, partition, batch_seq, commit_ts, schema_name, table_name, op,
  CAST(json_extract(live, '$.pk') AS BIGINT) AS pk,
  json_extract_string(live, '$.event_type') AS event_type,
  CAST(json_extract(live, '$.value_cents') AS BIGINT) AS value_cents,
  CAST(json_extract(live, '$.user_id') AS BIGINT) AS user_id
FROM lanes
""",
    doc="E6/E7 on the reference's lz4 lane: per-value LZ4 FRAME "
        "compression (pkg/compression lz4 = lz4.NewWriter frame format) "
        "via the compression seam (functions/compress.py: pyarrow's "
        "native lz4 blocks in an independent-block frame with an "
        "xxHash32 content checksum) BEFORE framing — the 8B length prefix "
        "counts COMPRESSED bytes (open/codec.go:85) — then the framed "
        "batches parsed back, values frame-decompressed (content "
        "checksum verified per value) and decoded to the apply shape; "
        "oracle rebuilds the corpus from the plain stream",
)
def decoder_open_compressed_lz4(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.compress import compress_col, decompress_col
    from tigate_spark.functions.encoders import (
        decode_open_batch_framed,
        encode_open_batch_framed,
        encode_open_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch).withColumn(
        "topic", F.format_string("app_%s", F.col("table_name"))
    ).withColumn("partition", (h32(F.col("pk")) % 16))
    enc = enc.withColumn(
        "value", F.hex(compress_col(F.encode(F.col("value"), "UTF-8"), "lz4"))
    )
    framed = encode_open_batch_framed(enc, value_is_hex=True)
    msgs = decode_open_batch_framed(framed)
    plain = F.decode(
        decompress_col(F.unhex(F.col("value_hex")), "lz4"), "UTF-8")
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    k = F.from_json(F.col("key"), "ts BIGINT, scm STRING, tbl STRING, t BIGINT")
    v = F.from_json(plain, f"u {img}, p {img}, d {img}")
    parsed = msgs.select("topic", "partition", "batch_seq",
                         k.alias("k"), v.alias("v"))
    op = (
        F.when(F.col("v.u").isNotNull() & F.col("v.p").isNotNull(), "U")
        .when(F.col("v.u").isNotNull(), "I")
        .otherwise("D")
    )
    live = F.when(op == "D", F.col("v.d")).otherwise(F.col("v.u"))
    return parsed.select(
        "topic", "partition", "batch_seq",
        F.col("k.ts").alias("commit_ts"),
        F.col("k.scm").alias("schema_name"),
        F.col("k.tbl").alias("table_name"),
        op.alias("op"),
        live.getField("pk").alias("pk"),
        live.getField("event_type").alias("event_type"),
        live.getField("value_cents").alias("value_cents"),
        live.getField("user_id").alias("user_id"),
    )


@register(
    "convert_canal_to_avro",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"pk":%d}', pk) AS key,
  CASE WHEN op = 'D' THEN NULL ELSE
    printf('{"pk":%d,"event_type":{"string":"%s"},"value_cents":{"long":%d},"user_id":{"long":%d},"_tidb_op":"%s","_tidb_commit_ts":%d,"_tidb_commit_physical_time":%d}',
           pk, event_type, value_cents, user_id,
           CASE WHEN op = 'I' THEN 'c' ELSE 'u' END,
           commit_ts, commit_ts // 1000)
  END AS value
FROM changes
""",
    doc="Protocol conversion bridge: canal-json messages decoded "
        "(from_json) and re-encoded as Avro-JSON key/value — the "
        "consumer-side protocol-bridging pattern; lossless for the fields "
        "both protocols carry, so the bridge output equals direct Avro "
        "encoding of the stream (the oracle)",
)
def convert_canal_to_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_canal_json,
        encode_avro_json,
        encode_canal_json,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    decoded = decode_canal_json(encode_canal_json(ch))
    # reconstruct the change-row shape the Avro encoder consumes from the
    # decoded canal fields (op from canal type; user_id rides in data)
    mid = decoded.select(
        "seq",
        F.when(F.col("canal_type") == "INSERT", "I")
        .when(F.col("canal_type") == "UPDATE", "U")
        .otherwise(F.lit("D"))
        .alias("op"),
        "pk",
        "event_type",
        "value_cents",
        "commit_ts",
    )
    # user_id isn't part of the canal data images' decode projection —
    # recover it from the original stream by seq (a consumer would carry
    # it in its own decode schema); the join stays on the message key
    uid = ch.select("seq", "user_id")
    bridged = mid.join(uid, "seq")
    return encode_avro_json(bridged).select("seq", "key", "value")


@register(
    "convert_open_to_canal",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts) AS message
FROM changes
""",
    doc="Protocol conversion bridge, reverse direction: open-protocol "
        "key/value messages fully decoded (from_json; op inferred from "
        "which of u/p/d images are present) and re-encoded as canal-json "
        "— with convert_canal_to_avro this completes the consumer-side "
        "conversion matrix; lossless for the shared fields, so the bridge "
        "output equals direct canal encoding of the stream (the oracle)",
)
def convert_open_to_canal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        encode_canal_json,
        encode_open_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    k = F.from_json(F.col("key"), "ts BIGINT, scm STRING, tbl STRING, t BIGINT")
    v = F.from_json(F.col("value"), f"u {img}, p {img}, d {img}")
    dec = enc.select("seq", k.alias("k"), v.alias("v"))
    op = (
        F.when(F.col("v.u").isNotNull() & F.col("v.p").isNotNull(), "U")
        .when(F.col("v.u").isNotNull(), "I")
        .otherwise("D")
    )

    def render(img_col: str):
        return F.format_string(
            '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}',
            F.col(f"{img_col}.pk"),
            F.col(f"{img_col}.event_type"),
            F.col(f"{img_col}.value_cents"),
            F.col(f"{img_col}.user_id"),
        )

    mid = dec.select(
        "seq",
        F.col("k.scm").alias("schema_name"),
        F.col("k.tbl").alias("table_name"),
        F.col("k.ts").alias("commit_ts"),
        op.alias("op"),
        F.when(op == "U", render("v.p"))
        .when(op == "D", render("v.d"))
        .alias("before"),
        F.when(op == "D", F.lit(None)).otherwise(render("v.u")).alias("after"),
    )
    return encode_canal_json(mid).select("seq", "message")


@register(
    "schema_evolution_typed_view",
    ORACLE_CHANGES_CTE + _VERSIONS_CTE
    + """
, resolved AS (
  SELECT c.seq, c.table_id, c.event_type, c.value_cents, c.user_id, c.props,
         v.version AS schema_version
  FROM changes c
  ASOF LEFT JOIN versions v
    ON c.table_id = v.table_id AND v.version_ts <= c.commit_ts - 1
)
SELECT seq, table_id, schema_version,
  CASE WHEN schema_version >= 0 THEN event_type END AS v_event_type,
  CASE WHEN schema_version >= 1 THEN value_cents END AS v_value_cents,
  CASE WHEN schema_version >= 2 THEN user_id END AS v_user_id,
  CASE WHEN schema_version >= 3 THEN props END AS v_props
FROM resolved
""",
    doc="T3/M3: per-version typed view — each event exposes only the "
        "columns its as-of schema version defines (decode at commitTs-1, "
        "event_broker.go:492; TableInfo columns table_info_helper.go:311-369)",
)
def schema_evolution_typed_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).select(
        "seq", "table_id", "commit_ts", "event_type", "value_cents", "user_id", "props"
    )
    versions = sr_ops.synthetic_schema_versions(spark, ch)
    resolved = sr_ops.asof_schema_join(ch, versions)
    out = sr_ops.typed_view(resolved)
    return out.select(
        "seq", "table_id", "schema_version",
        "v_event_type", "v_value_cents", "v_user_id", "v_props",
    )


@register(
    "partition_table_logical",
    _LAST_CHANGE_CTE.replace(
        "PARTITION BY table_id, pk", "PARTITION BY table_id // 2, pk"
    )
    + """
SELECT table_id // 2 AS logical_table_id, pk,
       commit_ts AS last_commit_ts, value_cents
FROM ordered WHERE rn = 1 AND op <> 'D'
""",
    doc="partition_table scenario: physical partitions (table spans) of "
        "one logical table merge into one replica — apply keys on the "
        "logical id (tigate routes per physical table id, "
        "pkg/common/table_span.go; sinks converge on the logical table)",
)
def partition_table_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # physical tables 2k and 2k+1 are partitions of logical table k
    ch = changes_stream(spark, sf_dir).withColumn(
        "logical_table_id", F.expr("table_id div 2")
    )
    last = apply_ops.latest_change_per_key(
        ch, ["value_cents"], key_cols=["logical_table_id", "pk"]
    )
    return last.filter(F.col("op") != "D").select(
        "logical_table_id", "pk", "last_commit_ts", "value_cents"
    )


@register(
    "partition_route_versioned",
    ORACLE_CHANGES_CTE
    + """
, b AS (
  SELECT min(commit_ts) + (max(commit_ts) - min(commit_ts)) // 2 AS m
  FROM changes
)
SELECT schema_name,
  CASE WHEN table_id = 0 AND pk % 3 = 2
            AND commit_ts >= (SELECT m FROM b)
       THEN 't9' ELSE table_name END AS table_name,
  CAST(CASE WHEN table_id = 0 AND pk % 3 = 2
                 AND commit_ts >= (SELECT m FROM b)
            THEN 9 ELSE table_id END AS BIGINT) AS table_id,
  CAST(CASE WHEN table_id = 0 THEN 100 + pk % 3
            ELSE table_id END AS BIGINT) AS physical_table_id,
  op, seq, pk, commit_ts, value_cents
FROM changes
""",
    doc="T13 batch form: versioned physical→logical partition routing "
        "(DMLEvent.PhysicalTableID, dml_event.go:20-61; EXCHANGE "
        "PARTITION persist_storage.go:877-885,1391-1405; scenario "
        "partition_table/): logical t0 is 3 physical partitions "
        "(100+pk%3); mid-stream an EXCHANGE PARTITION swaps physical "
        "102 with standalone table 9, so 102's events route to t0 "
        "before the swap and t9 after — the interval-closed registry "
        "(operators/partitions.py) broadcast-joins the stream with "
        "ZERO event-side shuffle (the 100 TB shape; registry windowing "
        "is dim-sized only)",
)
def partition_route_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.operators.partitions import (
        exchange_partition,
        partition_registry,
        resolve_logical,
    )

    ch = changes_stream(spark, sf_dir).withColumn(
        "physical_table_id",
        F.when(F.col("table_id") == 0, F.lit(100) + F.col("pk") % 3)
        .otherwise(F.col("table_id")))
    # dim-sized bookkeeping scalar: the exchange DDL's commit-ts anchor
    mn, mx = ch.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    m = mn + (mx - mn) // 2
    rows = [(100, 0, 0, "app", "t0"), (101, 0, 0, "app", "t0"),
            (102, 0, 0, "app", "t0"), (9, 0, 9, "app", "t9")]
    rows = exchange_partition(rows, m, partition_physical_id=102,
                              table_physical_id=9)
    reg = partition_registry(spark, rows)
    return resolve_logical(ch, reg).select(
        "schema_name", "table_name", "table_id", "physical_table_id",
        "op", "seq", "pk", "commit_ts", "value_cents")


@register(
    "agg_session_windows",
    ORACLE_CHANGES_CTE
    + """
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
    doc="Sessionization: gap-based session windows per user "
        "(F.session_window, 30-min gap) — streaming-native stateful "
        "windows; oracle via gaps-and-islands SQL",
)
def agg_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).withColumn(
        "commit_time", F.timestamp_micros(F.col("commit_ts"))
    )
    return (
        ch.groupBy(F.session_window("commit_time", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("commit_ts").alias("first_ts"),
            F.max("commit_ts").alias("last_ts"),
        )
        .select("user_id", "first_ts", "last_ts", "n_events")
    )


@register(
    "filter_ddl_sql_regex",
    _DDL_CTE + """
SELECT seq, table_id, query FROM ddl
WHERE NOT (regexp_matches(query, 'ADD COLUMN') OR regexp_matches(query, '^CREATE TABLE t0'))
""",
    doc="F2 (DDL): ignore-sql regex filter on DDL query text "
        "(sql_event_filter.go:43-110)",
)
def filter_ddl_sql_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ddl = _ddl_stream(spark, sf_dir)
    rule = EventFilterRule(ignore_sql=["ADD COLUMN", "^CREATE TABLE t0"])
    return f_ops.ddl_sql_filter(ddl, rule).select("seq", "table_id", "query")


@register(
    "agg_pivot_event_types",
    ORACLE_CHANGES_CTE
    + """
SELECT table_name,
  CAST(sum(CASE WHEN event_type = 'click' THEN value_cents END) AS BIGINT) AS click,
  CAST(sum(CASE WHEN event_type = 'error' THEN value_cents END) AS BIGINT) AS error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN value_cents END) AS BIGINT) AS purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN value_cents END) AS BIGINT) AS signup,
  CAST(sum(CASE WHEN event_type = 'view' THEN value_cents END) AS BIGINT) AS view
FROM changes GROUP BY table_name
""",
    doc="Pivot: event types to columns, summed cents per table "
        "(df.pivot = one-shuffle conditional aggregation)",
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return (
        ch.groupBy("table_name")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .sum("value_cents")
    )


@register(
    "agg_cube_table_op",
    ORACLE_CHANGES_CTE
    + """
SELECT table_name, op, CAST(sum(value_cents) AS BIGINT) AS sum_cents, count(*) AS n
FROM changes GROUP BY CUBE (table_name, op)
""",
    doc="CUBE over (table, op): all grouping-set subtotals in one pass "
        "(partial-agg friendly; Catalyst expands grouping sets)",
)
def agg_cube_table_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.cube("table_name", "op").agg(
        F.sum("value_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_unpivot_measures",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, 'value_cents' AS measure, value_cents AS val FROM changes
UNION ALL
SELECT seq, 'user_id' AS measure, user_id AS val FROM changes
""",
    doc="Unpivot/melt: wide measures to (measure, val) rows via stack() — "
        "generator expression, no shuffle",
)
def agg_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.selectExpr(
        "seq",
        "stack(2, 'value_cents', value_cents, 'user_id', user_id) AS (measure, val)",
    )


@register(
    "projection_type_render",
    """
SELECT l_orderkey, l_linenumber,
  strftime(l_shipdate, '%Y-%m-%d') AS ship_date_str,
  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_datetime_str,
  printf('%.2f', l_quantity) AS quantity_str,
  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
  CASE l_returnflag WHEN 'A' THEN 1 WHEN 'N' THEN 2 ELSE 3 END AS returnflag_enum,
  l_linenumber & 1 AS line_bit,
  CAST(CAST(l_orderkey AS DECIMAL(20,0)) + 9223372036854775807 AS VARCHAR)
    AS ubig_dec20_str,
  CAST(strftime(l_shipdate, '%Y') AS BIGINT) AS ship_year,
  printf('%02d:%02d:%02d',
         (l_partkey % 86400) // 3600,
         ((l_partkey % 86400) % 3600) // 60,
         (l_partkey % 86400) % 60) AS dur_time_str,
  CAST(l_suppkey % 8 AS BIGINT) AS set_mask,
  concat_ws(',',
    CASE WHEN l_suppkey % 2 = 1 THEN 'AIR' END,
    CASE WHEN l_suppkey % 4 >= 2 THEN 'MAIL' END,
    CASE WHEN l_suppkey % 8 >= 4 THEN 'SHIP' END) AS set_names,
  lower(hex(encode(l_returnflag || l_linestatus))) AS varbin_hex,
  rpad(lower(hex(encode(l_returnflag || l_linestatus))), 16, '0')
    AS bin8_hex,
  CAST(4294967295 - l_linenumber AS BIGINT) AS uint_render,
  CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR)
    AS price_dec15_2_str,
  CASE WHEN isnan(CASE WHEN l_linenumber = 7 THEN CAST('nan' AS REAL)
                       ELSE CAST(l_discount AS REAL) END) THEN NULL
       ELSE CAST(round(CAST(CASE WHEN l_linenumber = 7
                                 THEN CAST('nan' AS REAL)
                                 ELSE CAST(l_discount AS REAL) END
                            AS DOUBLE) * 100) AS BIGINT)
  END AS float_cents_sanitized,
  CASE WHEN l_linenumber = 6 THEN NULL ELSE
    '[' || CAST(l_partkey % 10 AS VARCHAR) || ',' ||
           CAST(l_suppkey % 10 AS VARCHAR) || ',' ||
           CAST(l_linenumber AS VARCHAR) || ']' END AS vector_literal
FROM lineitem
""",
    doc="P4: sink-boundary type rendering across the reference's full "
        "45-column fixture families (FormatColVal, pkg/common/helper.go:"
        "19-80; sql_builder_test.go:169): date/datetime→string, "
        "double→fixed-dp string, money→int cents, enum→ordinal, bit "
        "mask, unsigned bigint→DECIMAL(20,0) digits (beyond int64 "
        "range), YEAR→int, TIME/duration→'HH:MM:SS', SET→uint "
        "multi-flag mask AND comma-joined member names, "
        "varbinary→hex, BINARY(8)→zero-padded hex, unsigned "
        "int→bigint, DECIMAL(15,2)→exact 2-dp string, and float32 "
        "NaN sanitization to NULL (helper.go:63-69) with a forced-NaN "
        "lane proving the guard fires, plus VECTOR(N) bracket-literal "
        "passthrough with a NULL lane (the vector integration test's "
        "replication contract)",
)
def projection_type_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    f32 = F.expr(
        "case when l_linenumber = 7 then cast('NaN' as float) "
        "else cast(l_discount as float) end"
    )
    return li.select(
        "l_orderkey", "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date_str"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("ship_datetime_str"),
        F.format_string("%.2f", F.col("l_quantity")).alias("quantity_str"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("price_cents"),
        F.when(F.col("l_returnflag") == "A", 1)
        .when(F.col("l_returnflag") == "N", 2)
        .otherwise(3).alias("returnflag_enum"),
        F.expr("l_linenumber & 1").alias("line_bit"),
        F.expr(
            "cast(cast(l_orderkey as decimal(20,0)) "
            "+ 9223372036854775807 as string)"
        ).alias("ubig_dec20_str"),
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
        F.format_string(
            "%02d:%02d:%02d",
            F.expr("(l_partkey % 86400) div 3600"),
            F.expr("((l_partkey % 86400) % 3600) div 60"),
            F.expr("(l_partkey % 86400) % 60"),
        ).alias("dur_time_str"),
        F.expr("cast(l_suppkey % 8 as bigint)").alias("set_mask"),
        F.concat_ws(
            ",",
            F.expr("case when l_suppkey % 2 = 1 then 'AIR' end"),
            F.expr("case when l_suppkey % 4 >= 2 then 'MAIL' end"),
            F.expr("case when l_suppkey % 8 >= 4 then 'SHIP' end"),
        ).alias("set_names"),
        F.expr(
            "lower(hex(cast(concat(l_returnflag, l_linestatus) as binary)))"
        ).alias("varbin_hex"),
        F.expr(
            "rpad(lower(hex(cast(concat(l_returnflag, l_linestatus) "
            "as binary))), 16, '0')"
        ).alias("bin8_hex"),
        F.expr("cast(4294967295 - l_linenumber as bigint)").alias("uint_render"),
        F.expr(
            "cast(cast(l_extendedprice as decimal(15,2)) as string)"
        ).alias("price_dec15_2_str"),
        F.when(F.isnan(f32), F.lit(None).cast("bigint"))
        .otherwise(
            F.expr(
                "cast(round(cast(case when l_linenumber = 7 "
                "then cast('NaN' as float) "
                "else cast(l_discount as float) end as double) * 100) "
                "as bigint)"
            )
        )
        .alias("float_cents_sanitized"),
        # VECTOR(N): TiDB serializes the value as its bracket literal
        # ('[1,2,3]') and the sink passes the string through (the
        # reference's vector integration test pins exactly this
        # passthrough); NULL lane included
        F.expr(
            "case when l_linenumber = 6 then null else "
            "concat('[', cast(l_partkey % 10 as string), ',', "
            "cast(l_suppkey % 10 as string), ',', "
            "cast(l_linenumber as string), ']') end"
        ).alias("vector_literal"),
    )


#: gbk-charset lane labels: mixed ASCII + 2-byte GBK (CJK ideographs AND
#: GBK 2-byte punctuation like · / —, which utf8 encodes differently)
_GBK_LABELS = {
    "click": "点击事件", "error": "错误·故障", "purchase": "购买—成交",
    "signup": "注册用户", "view": "浏览页面",
}


def _gbk_oracle_sql() -> str:
    """The transcoded literals, baked from PYTHON's stdlib gbk codec —
    so the entry cross-checks the JVM's GBK charset against CPython's."""

    def case(fn):
        arms = " ".join(f"WHEN '{et}' THEN {fn(et, zh)}"
                        for et, zh in _GBK_LABELS.items())
        return f"CASE event_type {arms} END"

    full = {et: f"{et}:{zh}" for et, zh in _GBK_LABELS.items()}
    return ORACLE_CHANGES_CTE + f"""
SELECT seq, event_type,
  {case(lambda et, zh: f"'{full[et]}'")} AS rendered_string,
  {case(lambda et, zh: f"'{full[et].encode('gbk').hex()}'")} AS gbk_hex,
  {case(lambda et, zh:
        f"CAST({len(full[et].encode('gbk'))} AS BIGINT)")} AS gbk_bytes,
  {case(lambda et, zh:
        f"CAST({len(full[et].encode())} AS BIGINT)")} AS utf8_bytes
FROM changes
"""


@register(
    "projection_type_render_gbk",
    _gbk_oracle_sql(),
    doc="P4 charset-aware rendering (FormatColVal's charset branch, "
        "pkg/common/helper.go:52-62: a char/varchar column with a "
        "non-binary charset renders as a STRING — transcoded, so the "
        "go-sql-driver doesn't force _binary — while a binary-charset "
        "column stays bytes; scenarios charset_gbk/ + "
        "consistent_replicate_gbk/): each row's label round-trips "
        "through real GBK column bytes JVM-side (encode/decode under "
        "spark.sql.legacy.javaCharsets), and the oracle bakes the same "
        "bytes from CPython's gbk codec — two independent codec "
        "implementations meeting at the hex, plus the 2-byte-GBK vs "
        "3-byte-utf8 length divergence as a visible signal",
)
def projection_type_render_gbk(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    label = F.lit(None).cast("string")
    for et, zh in _GBK_LABELS.items():
        label = F.when(F.col("event_type") == et, f"{et}:{zh}") \
            .otherwise(label)
    gbk = F.encode(label, "GBK")  # the column's stored gbk wire bytes
    return ch.select(
        "seq", "event_type",
        # non-binary charset: decode back to a utf8 string (helper.go:56)
        F.decode(gbk, "GBK").alias("rendered_string"),
        # binary charset: raw bytes surface (hex for the compare)
        F.lower(F.hex(gbk)).alias("gbk_hex"),
        F.octet_length(gbk).cast("bigint").alias("gbk_bytes"),
        F.octet_length(F.encode(label, "UTF-8")).cast("bigint")
        .alias("utf8_bytes"),
    )


@register(
    "schema_asof_join_grouped",
    ORACLE_CHANGES_CTE + _VERSIONS_CTE
    + """
SELECT c.seq, c.table_id, v.version AS schema_version, v.schema_tag
FROM changes c
ASOF LEFT JOIN versions v
  ON c.table_id = v.table_id AND v.version_ts <= c.commit_ts - 1
""",
    doc="T3 alternate physical: cogrouped pd.merge_asof per table — the "
        "non-broadcast path for huge registries; same semantics as "
        "schema_asof_join (multi_version.go:98-128)",
)
def schema_asof_join_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).select("seq", "table_id", "commit_ts")
    versions = sr_ops.synthetic_schema_versions(spark, ch)
    return sr_ops.asof_schema_join_grouped(ch, versions)


@register(
    "audit_image_chain",
    ORACLE_CHANGES_CTE
    + """
, ordered AS (
  SELECT *, lag(after) OVER (
    PARTITION BY table_id, pk
    ORDER BY commit_ts, start_ts,
             CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END, seq
  ) AS prev_after
  FROM changes
)
SELECT table_id, pk, seq, op,
       prev_after IS NOT NULL AS has_prev,
       CASE WHEN op = 'U' AND prev_after IS NOT NULL
            THEN before = prev_after END AS chain_ok
FROM ordered
""",
    doc="CDC audit: per-key image-chain check — does each update's "
        "before-image equal the previous change's after-image in total "
        "order (the sync_diff-style consistency probe, SURVEY §2.8 "
        "before/after diff join)",
)
def audit_image_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tigate_spark.operators.ordering import op_rank_col

    ch = changes_stream(spark, sf_dir, with_images=True)
    w = Window.partitionBy("table_id", "pk").orderBy(
        "commit_ts", "start_ts", op_rank_col(), "seq"
    )
    out = ch.withColumn("prev_after", F.lag("after").over(w))
    return out.select(
        "table_id", "pk", "seq", "op",
        F.col("prev_after").isNotNull().alias("has_prev"),
        F.when(
            (F.col("op") == "U") & F.col("prev_after").isNotNull(),
            F.col("before") == F.col("prev_after"),
        ).alias("chain_ok"),
    )


@register(
    "decoder_dead_letter",
    ORACLE_CHANGES_CTE
    + """
, msgs AS (
  SELECT seq,
    CASE WHEN seq % 97 = 0 THEN 'garbage{' ELSE
      printf('{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
        schema_name, table_name,
        CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
        commit_ts // 1000, commit_ts // 1000,
        '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
        CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
        commit_ts)
    END AS message
  FROM changes
)
SELECT seq,
       seq % 97 = 0 AS is_dead_letter,
       CASE WHEN seq % 97 <> 0
            THEN CAST(json_extract(message, '$._tidb.commitTs') AS BIGINT) END
         AS commit_ts
FROM msgs
""",
    doc="Decoder dead-letter routing: corrupt messages survive decode as "
        "flagged DLQ rows instead of failing the batch (PERMISSIVE "
        "from_json; consumer-side resilience for E7)",
)
def decoder_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_canal_json(ch).withColumn(
        "message",
        F.when(F.col("seq") % 97 == 0, F.lit("garbage{")).otherwise(F.col("message")),
    )
    parsed = enc.withColumn(
        "m", F.from_json(F.col("message"), "_tidb STRUCT<commitTs BIGINT>")
    )
    # PERMISSIVE from_json yields an all-null struct for malformed input
    # (not a null struct) — the inner field is the corruption signal
    return parsed.select(
        "seq",
        F.col("m._tidb").isNull().alias("is_dead_letter"),
        F.col("m._tidb.commitTs").alias("commit_ts"),
    )


@register(
    "window_running_balance",
    ORACLE_CHANGES_CTE
    + """
SELECT table_id, pk, seq,
       CAST(sum(CASE op WHEN 'D' THEN -value_cents ELSE value_cents END)
         OVER (PARTITION BY table_id, pk ORDER BY commit_ts, seq
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
FROM changes
""",
    doc="Running-balance window (ROWS UNBOUNDED PRECEDING): per-key cumulative "
        "signed sum in commit order — the balance-reconstruction scan over a "
        "change log; one shuffle on (table_id, pk), sort within partitions, "
        "single streaming-frame pass (no re-scan per row)",
)
def window_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ch = changes_stream(spark, sf_dir)
    signed = F.when(F.col("op") == "D", -F.col("value_cents")).otherwise(
        F.col("value_cents")
    )
    w = (
        Window.partitionBy("table_id", "pk")
        .orderBy("commit_ts", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ch.select(
        "table_id", "pk", "seq", F.sum(signed).over(w).alias("running_cents")
    )


@register(
    "setop_intersect_keys",
    ORACLE_CHANGES_CTE
    + """
SELECT pk FROM changes WHERE table_id = 0
INTERSECT
SELECT pk FROM changes WHERE table_id = 1
""",
    doc="Set op INTERSECT: keys present in both table streams "
        "(hash-dedup both sides, co-shuffled semi join)",
)
def setop_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    a = ch.filter(F.col("table_id") == 0).select("pk")
    b = ch.filter(F.col("table_id") == 1).select("pk")
    return a.intersect(b)


@register(
    "setop_except_keys",
    ORACLE_CHANGES_CTE
    + """
SELECT pk FROM changes WHERE table_id = 0
EXCEPT
SELECT pk FROM changes WHERE table_id = 1 AND op = 'D'
""",
    doc="Set op EXCEPT: t0 keys never deleted in t1's stream "
        "(hash-dedup + co-shuffled anti join; the right side is the "
        "delete subset so the difference is non-empty — both streams "
        "share the full key domain)",
)
def setop_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    a = ch.filter(F.col("table_id") == 0).select("pk")
    b = ch.filter((F.col("table_id") == 1) & (F.col("op") == "D")).select("pk")
    return a.subtract(b)


@register(
    "agg_rollup_schema_table",
    ORACLE_CHANGES_CTE
    + """
SELECT schema_name, table_name, CAST(sum(value_cents) AS BIGINT) AS sum_cents, count(*) AS n
FROM changes GROUP BY ROLLUP (schema_name, table_name)
""",
    doc="ROLLUP over (schema, table): hierarchical subtotals in one pass",
)
def agg_rollup_schema_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.rollup("schema_name", "table_name").agg(
        F.sum("value_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "join_semi_anti_keys",
    ORACLE_CHANGES_CTE
    + """
SELECT pk,
       pk IN (SELECT pk FROM changes WHERE table_id = 1 AND op = 'D') AS deleted_in_t1
FROM (SELECT DISTINCT pk FROM changes WHERE table_id = 0)
""",
    doc="LEFT SEMI/ANTI joins: flag t0 keys by presence in t1's deletes — "
        "the existence-check joins pipelines use instead of IN-subqueries",
)
def join_semi_anti_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    t0 = ch.filter(F.col("table_id") == 0).select("pk").distinct()
    t1_del = ch.filter((F.col("table_id") == 1) & (F.col("op") == "D")).select("pk")
    hit = t0.join(t1_del, "pk", "left_semi").withColumn("deleted_in_t1", F.lit(True))
    miss = t0.join(t1_del, "pk", "left_anti").withColumn("deleted_in_t1", F.lit(False))
    return hit.unionByName(miss)


def get_catalog() -> dict[str, QuerySpec]:
    """All registered queries (imports extension modules for side effects)."""
    import tigate_spark.catalog_analytics  # noqa: F401  (registers window/sample/sketch queries)
    import tigate_spark.catalog_llm  # noqa: F401  (registers LLM-pipeline queries)
    import tigate_spark.catalog_relational  # noqa: F401  (registers relational queries)
    import tigate_spark.catalog_simple_avro  # noqa: F401  (registers simple-protocol Avro wire queries)
    import tigate_spark.catalog_streaming  # noqa: F401  (registers streaming-path queries)

    return CATALOG


_DDL_FULL_SWITCH_CTE = ORACLE_CHANGES_CTE + """
, ddl_full AS (
  SELECT seq,
         CASE CAST(seq % 14 AS INTEGER)
           WHEN 0 THEN printf('ALTER TABLE t%d ADD PARTITION (PARTITION p%d VALUES LESS THAN (100))', table_id, seq % 10)
           WHEN 1 THEN printf('ALTER TABLE t%d DROP PARTITION p%d', table_id, seq % 10)
           WHEN 2 THEN printf('ALTER TABLE t%d TRUNCATE PARTITION p%d', table_id, seq % 10)
           WHEN 3 THEN printf('ALTER TABLE t%d EXCHANGE PARTITION p%d WITH TABLE s%d', table_id, seq % 10, table_id)
           WHEN 4 THEN printf('ALTER TABLE t%d REORGANIZE PARTITION p0 INTO (PARTITION p1 VALUES LESS THAN (10))', table_id)
           WHEN 5 THEN printf('ALTER TABLE t%d ALTER COLUMN c%d SET DEFAULT 0', table_id, seq % 10)
           WHEN 6 THEN printf('ALTER TABLE t%d AUTO_INCREMENT = %d', table_id, seq)
           WHEN 7 THEN printf('ALTER TABLE t%d SHARD_ROW_ID_BITS = 4', table_id)
           WHEN 8 THEN printf('ALTER TABLE t%d ATTRIBUTES ''merge_option=allow''', table_id)
           WHEN 9 THEN printf('DROP VIEW v%d', table_id)
           WHEN 10 THEN printf('CREATE VIEW v%d AS SELECT 1', table_id)
           WHEN 11 THEN printf('ALTER TABLE t%d CHANGE c0 c1 BIGINT', table_id)
           WHEN 12 THEN printf('ALTER TABLE t%d ADD INDEX idx%d (c0)', table_id, seq % 10)
           ELSE printf('ALTER TABLE t%d MODIFY c0 INT', table_id)
         END AS stmt
  FROM changes WHERE event_type = 'signup'
)
"""


@register(
    "ddl_action_classify_full",
    _DDL_FULL_SWITCH_CTE + """
SELECT CASE
         WHEN stmt LIKE '%ADD PARTITION%' THEN 'add partition'
         WHEN stmt LIKE '%DROP PARTITION%' THEN 'drop partition'
         WHEN stmt LIKE '%TRUNCATE PARTITION%' THEN 'truncate partition'
         WHEN stmt LIKE '%EXCHANGE PARTITION%' THEN 'exchange partition'
         WHEN stmt LIKE '%REORGANIZE PARTITION%' THEN 'reorganize partition'
         WHEN stmt LIKE '%SET DEFAULT%' THEN 'set default value'
         WHEN stmt LIKE '%AUTO_INCREMENT%' THEN 'rebase auto id'
         WHEN stmt LIKE '%SHARD_ROW_ID_BITS%' THEN 'shard row id'
         WHEN stmt LIKE '%ATTRIBUTES%' THEN 'alter table attributes'
         WHEN stmt LIKE 'DROP VIEW%' THEN 'drop view'
         WHEN stmt LIKE 'CREATE VIEW%' THEN 'create view'
         WHEN stmt LIKE '%CHANGE c0%' THEN 'modify column'
         WHEN stmt LIKE '%ADD INDEX%' THEN 'add index'
         ELSE 'modify column'
       END AS ddl_action,
       CAST(count(*) AS BIGINT) AS n
FROM ddl_full
GROUP BY 1
""",
    doc="S4/F5: the FULL DDL action switch — every action case the "
        "reference's schema store dispatches on (persist_storage.go:"
        "812-939: partition add/drop/truncate/exchange/reorganize, set "
        "default, rebase auto-id, shard-row-id, table attributes, views, "
        "CHANGE/MODIFY column, indexes) classified from statement text "
        "and counted per action",
)
def ddl_action_classify_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    m = F.col("seq") % 14
    stmt = (
        F.when(m == 0, F.format_string(
            "ALTER TABLE t%d ADD PARTITION (PARTITION p%d VALUES LESS THAN (100))",
            F.col("table_id"), F.col("seq") % 10))
        .when(m == 1, F.format_string(
            "ALTER TABLE t%d DROP PARTITION p%d", F.col("table_id"), F.col("seq") % 10))
        .when(m == 2, F.format_string(
            "ALTER TABLE t%d TRUNCATE PARTITION p%d", F.col("table_id"), F.col("seq") % 10))
        .when(m == 3, F.format_string(
            "ALTER TABLE t%d EXCHANGE PARTITION p%d WITH TABLE s%d",
            F.col("table_id"), F.col("seq") % 10, F.col("table_id")))
        .when(m == 4, F.format_string(
            "ALTER TABLE t%d REORGANIZE PARTITION p0 INTO (PARTITION p1 VALUES LESS THAN (10))",
            F.col("table_id")))
        .when(m == 5, F.format_string(
            "ALTER TABLE t%d ALTER COLUMN c%d SET DEFAULT 0",
            F.col("table_id"), F.col("seq") % 10))
        .when(m == 6, F.format_string(
            "ALTER TABLE t%d AUTO_INCREMENT = %d", F.col("table_id"), F.col("seq")))
        .when(m == 7, F.format_string(
            "ALTER TABLE t%d SHARD_ROW_ID_BITS = 4", F.col("table_id")))
        .when(m == 8, F.format_string(
            "ALTER TABLE t%d ATTRIBUTES 'merge_option=allow'", F.col("table_id")))
        .when(m == 9, F.format_string("DROP VIEW v%d", F.col("table_id")))
        .when(m == 10, F.format_string("CREATE VIEW v%d AS SELECT 1", F.col("table_id")))
        .when(m == 11, F.format_string(
            "ALTER TABLE t%d CHANGE c0 c1 BIGINT", F.col("table_id")))
        .when(m == 12, F.format_string(
            "ALTER TABLE t%d ADD INDEX idx%d (c0)", F.col("table_id"), F.col("seq") % 10))
        .otherwise(F.format_string("ALTER TABLE t%d MODIFY c0 INT", F.col("table_id")))
    )
    stmts = ch.select("seq", stmt.alias("stmt"))
    return (
        f_ops.classify_ddl(stmts)
        .groupBy("ddl_action")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


#: K1 safe-mode boundary (mysql_writer.go:686-691): inserts with
#: commit_ts beyond the replicating threshold stay INSERT; anything at or
#: below replays idempotently as REPLACE. Mid-range constant so the
#: catalog entry exercises both branches.
_REPLICATING_TS_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC


@register(
    "encoder_mysql_sql",
    ORACLE_CHANGES_CTE
    + ("""
SELECT seq,
  CASE op
    WHEN 'I' THEN CASE WHEN commit_ts > %d
      THEN printf('INSERT INTO `%%s`.`%%s` (`pk`,`event_type`,`value_cents`) VALUES (?,?,?)', schema_name, table_name)
      ELSE printf('REPLACE INTO `%%s`.`%%s` (`pk`,`event_type`,`value_cents`) VALUES (?,?,?)', schema_name, table_name) END
    WHEN 'U' THEN printf('UPDATE `%%s`.`%%s` SET `event_type` = ?, `value_cents` = ? WHERE `pk` = ? LIMIT 1', schema_name, table_name)
    ELSE printf('DELETE FROM `%%s`.`%%s` WHERE `pk` = ? LIMIT 1', schema_name, table_name)
  END AS sql,
  CASE op
    WHEN 'I' THEN printf('[%%d,"%%s",%%s]', pk, __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null'))
    WHEN 'U' THEN printf('["%%s",%%s,%%d]', __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null'), pk)
    ELSE printf('[%%d]', pk)
  END AS args
FROM changes
""" % (_REPLICATING_TS_US, ))
    # oracle escape = the SAME double-escaped helper the canal/open
    # oracles use — NEVER inline the chain (Python string-escape
    # processing mangles it into no-op replaces; ADVICE r7)
    .replace("__ESC_ET__", _json_esc_sql("event_type")),
    doc="K1: the MySQL sink's prepareDMLs SQL text surface — parametric "
        "INSERT/REPLACE (safe-mode translate boundary mysql_writer.go:"
        "686-691), UPDATE ... WHERE pk LIMIT 1, DELETE ... WHERE pk "
        "LIMIT 1 (sql_builder.go:56-205), with the arg vector as JSON; "
        "pure format_string, whole-stage codegen",
)
def encoder_mysql_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_mysql_sql

    return encode_mysql_sql(changes_stream(spark, sf_dir), _REPLICATING_TS_US)


@register(
    "encoder_mysql_sql_safe_mode",
    ORACLE_CHANGES_CTE
    + """
, p AS (
  SELECT seq, schema_name, table_name, pk, event_type, value_cents,
         CAST(1 AS BIGINT) AS piece_no, 'D' AS kind
  FROM changes WHERE op IN ('U', 'D')
  UNION ALL
  SELECT seq, schema_name, table_name, pk, event_type, value_cents,
         CAST(CASE WHEN op = 'U' THEN 2 ELSE 1 END AS BIGINT) AS piece_no,
         'R' AS kind
  FROM changes WHERE op IN ('U', 'I')
)
SELECT seq, piece_no,
  CASE kind
    WHEN 'D' THEN printf('DELETE FROM `%s`.`%s` WHERE `pk` = ? LIMIT 1', schema_name, table_name)
    ELSE printf('REPLACE INTO `%s`.`%s` (`pk`,`event_type`,`value_cents`) VALUES (?,?,?)', schema_name, table_name)
  END AS sql,
  CASE kind
    WHEN 'D' THEN printf('[%d]', pk)
    ELSE printf('[%d,"%s",%s]', pk, __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null'))
  END AS args
FROM p
""".replace("__ESC_ET__", _json_esc_sql("event_type")),
    doc="K1: safe-mode SQL rendering — the fully idempotent replay form "
        "(safe mode forces REPLACE, mysql_writer.go:686-691, and the P6 "
        "update split turns U into DELETE piece 1 + REPLACE piece 2, "
        "sql_builder.go + format.go:78-85 key order), so replaying ANY "
        "prefix-consistent stream on a real SQL engine converges to "
        "last-writer-wins state regardless of pre-existing rows — "
        "tests/test_mysql_sql_executes.py proves it by executing these "
        "statements on SQLite and diffing against apply_materialize. "
        "Pure format_string + one posexplode, whole-stage codegen",
)
def encoder_mysql_sql_safe_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_mysql_sql

    return encode_mysql_sql(
        changes_stream(spark, sf_dir), _REPLICATING_TS_US,
        safe_mode_split=True,
    )


@register(
    "encoder_mysql_sql_generated_skip",
    ORACLE_CHANGES_CTE
    + ("""
SELECT seq,
  CASE op
    WHEN 'I' THEN CASE WHEN commit_ts > %d
      THEN printf('INSERT INTO `%%s`.`%%s` (`pk`,`event_type`,`value_cents`,`user_id`) VALUES (?,?,?,?)', schema_name, table_name)
      ELSE printf('REPLACE INTO `%%s`.`%%s` (`pk`,`event_type`,`value_cents`,`user_id`) VALUES (?,?,?,?)', schema_name, table_name) END
    WHEN 'U' THEN printf('UPDATE `%%s`.`%%s` SET `event_type` = ?, `value_cents` = ?, `user_id` = ? WHERE `pk` = ? LIMIT 1', schema_name, table_name)
    ELSE printf('DELETE FROM `%%s`.`%%s` WHERE `pk` = ? LIMIT 1', schema_name, table_name)
  END AS sql,
  CASE op
    WHEN 'I' THEN printf('[%%d,"%%s",%%s,%%s]', pk, __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null'), coalesce(CAST(user_id AS VARCHAR), 'null'))
    WHEN 'U' THEN printf('["%%s",%%s,%%s,%%d]', __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null'), coalesce(CAST(user_id AS VARCHAR), 'null'), pk)
    ELSE printf('[%%d]', pk)
  END AS args
FROM changes
""" % (_REPLICATING_TS_US, ))
    .replace("__ESC_ET__", _json_esc_sql("event_type")),
    doc="K1 generated-column skip (sql_builder.go:163-166 getArgs + "
        "table_info_helper.go:788-790 getColumnList; scenario "
        "generate_column/): the table schema carries a stored extra "
        "column (user_id) AND a generated column (value_dollars, "
        "mounted on the change row as value_cents div 100) — the "
        "generated column appears in NO column list, SET list, or arg "
        "vector (the downstream engine computes it; sending a value "
        "would be MySQL error 3105), while the stored extra renders "
        "like any canonical column. The oracle renders the 4-column "
        "statement matrix with no value_dollars anywhere; "
        "tests/test_mysql_sql_executes.py replays the safe-mode form "
        "onto SQLite tables whose value_dollars is GENERATED ALWAYS AS "
        "and asserts the DB-computed values match the LWW state.",
)
def encoder_mysql_sql_generated_skip(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_mysql_sql

    ch = changes_stream(spark, sf_dir).withColumn(
        "value_dollars", F.expr("cast(value_cents div 100 as bigint)"))
    return encode_mysql_sql(
        ch, _REPLICATING_TS_US,
        extra_cols=(("user_id", False), ("value_dollars", True)),
    )


#: small caps so the sf0.01 corpus exercises the run-splitting
_MULTIROW_ROWS, _MULTIROW_PACKET = 8, 256


@register(
    "encoder_mysql_sql_multirow",
    ORACLE_CHANGES_CTE
    + f"""
, p AS (
  SELECT seq, commit_ts, start_ts, table_id, table_id % 4 AS lane,
         CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END AS opr,
         CAST(1 AS BIGINT) AS piece_no,
         printf('DELETE FROM `%s`.`%s` WHERE `pk` = ? LIMIT 1', schema_name, table_name) AS sql,
         printf('[%d]', pk) AS args
  FROM changes WHERE op IN ('U', 'D')
  UNION ALL
  SELECT seq, commit_ts, start_ts, table_id, table_id % 4 AS lane,
         CASE op WHEN 'D' THEN 1 WHEN 'U' THEN 2 ELSE 3 END AS opr,
         CAST(CASE WHEN op = 'U' THEN 2 ELSE 1 END AS BIGINT) AS piece_no,
         printf('REPLACE INTO `%s`.`%s` (`pk`,`event_type`,`value_cents`) VALUES (?,?,?)', schema_name, table_name) AS sql,
         printf('[%d,"%s",%s]', pk, __ESC_ET__, coalesce(CAST(value_cents AS VARCHAR), 'null')) AS args
  FROM changes WHERE op IN ('U', 'I')
)
, o AS (
  SELECT p.*, row_number() OVER w AS rn,
         sql LIKE 'REPLACE INTO %' AS is_rep,
         lag(sql) OVER w AS prev_sql,
         lag(sql LIKE 'REPLACE INTO %') OVER w AS prev_rep
  FROM p
  WINDOW w AS (PARTITION BY lane
               ORDER BY commit_ts, start_ts, table_id, opr, seq, piece_no)
)
, r AS (
  SELECT o.*,
         SUM(CASE WHEN NOT is_rep OR prev_sql IS NULL
                       OR prev_sql <> sql OR NOT prev_rep
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY lane ORDER BY rn) AS run
  FROM o
)
, b AS (
  SELECT r.*, row_number() OVER wr - 1 AS ridx,
         coalesce(SUM(length(args)) OVER (PARTITION BY lane, run
           ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS bytes_before
  FROM r
  WINDOW wr AS (PARTITION BY lane, run ORDER BY rn)
)
, c AS (
  SELECT b.*, ridx // {_MULTIROW_ROWS} AS bucket_r,
         bytes_before // {_MULTIROW_PACKET} AS bucket_b
  FROM b
)
, g AS (
  SELECT lane, run, bucket_r, bucket_b,
         CAST(min(rn) AS BIGINT) AS stmt_seq,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(sql) AS sql1,
         string_agg(substr(args, 2, length(args) - 2), ','
                    ORDER BY rn) AS args_body
  FROM c GROUP BY lane, run, bucket_r, bucket_b
)
SELECT lane, stmt_seq, n_rows,
  CASE WHEN n_rows = 1 THEN sql1
       ELSE split_part(sql1, ' VALUES ', 1) || ' VALUES ' ||
            rtrim(repeat(split_part(sql1, ' VALUES ', 2) || ',',
                         CAST(n_rows AS INT)), ',')
  END AS sql,
  '[' || args_body || ']' AS args
FROM g
""".replace("__ESC_ET__", _json_esc_sql("event_type")),
    doc="K1 multi-row DML rendering (batch-dml-enable, mysql/config.go:"
        "70,104 + the MySQL driver's multi-row rewrite the reference "
        "leans on): adjacent identical-text safe-mode REPLACEs in a "
        "lane's apply order coalesce into ONE 'REPLACE INTO ... VALUES "
        "(...),(...),...' statement with the concatenated arg vector, "
        "bounded by max-txn-row (8 here) and packet bytes (256) — the "
        "oracle re-derives run detection (lag), the row/byte bucket "
        "split, and the repeated-tuple SQL text from scratch. "
        "tests/test_multirow_dml.py replays both forms on the "
        "fake-MySQL driver: same LWW state, fewer statements, packet "
        "accounting green. Pure window + aggregate plan, one shuffle "
        "on lane (the writer's own partitioning key).",
)
def encoder_mysql_sql_multirow(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from tigate_spark.streaming.sqlite_apply import (
        coalesce_multirow_statements, render_safe_mode_statements)

    stmts = render_safe_mode_statements(changes_stream(spark, sf_dir))
    return coalesce_multirow_statements(
        stmts, max_rows=_MULTIROW_ROWS, max_packet=_MULTIROW_PACKET,
    ).select("lane", "stmt_seq", "n_rows", "sql", "args")


@register(
    "encoder_message_batches",
    ORACLE_CHANGES_CTE
    + f"""
, routed AS (
  SELECT seq,
         printf('%s_%s', schema_name, table_name) AS topic,
         {h32_sql('pk')} % 16 AS partition,
         printf('{{"id":%d,"pk":%d,"v":%s}}', seq, pk,
                coalesce(CAST(value_cents AS VARCHAR), 'null')) AS message
  FROM changes
), numbered AS (
  SELECT *, CAST((row_number() OVER (PARTITION BY topic, partition ORDER BY seq) - 1) // 64 AS BIGINT) AS batch_no
  FROM routed
)
SELECT topic, partition, batch_no,
       CAST(count(*) AS BIGINT) AS n_msgs,
       CAST(sum(length(message)) AS BIGINT) AS bytes,
       min(seq) AS first_seq, max(seq) AS last_seq
FROM numbered
GROUP BY 1, 2, 3
""",
    doc="E4: MQ message batching — accumulate ≤64 messages per "
        "(topic,partition) lane in seq order, emit per-batch manifest "
        "(count, bytes, seq span) like the DML worker's batch+group loop "
        "(kafka_dml_worker.go:267-321). Per-lane row_number keeps the "
        "numbering deterministic AND scalable: one shuffle on the lane "
        "key, no global ordering bottleneck",
)
def encoder_message_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ch = changes_stream(spark, sf_dir)
    routed = ch.select(
        "seq",
        F.format_string("%s_%s", F.col("schema_name"), F.col("table_name")).alias("topic"),
        (h32(F.col("pk")) % 16).alias("partition"),
        F.format_string(
            '{"id":%d,"pk":%d,"v":%s}', F.col("seq"), F.col("pk"),
            F.coalesce(F.col("value_cents").cast("string"), F.lit("null")),
        ).alias("message"),
    )
    w = Window.partitionBy("topic", "partition").orderBy("seq")
    numbered = routed.withColumn(
        "batch_no", ((F.row_number().over(w) - F.lit(1)) / F.lit(64)).cast("bigint")
    )
    return (
        numbered.groupBy("topic", "partition", "batch_no")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
            F.sum(F.length("message")).cast("bigint").alias("bytes"),
            F.min("seq").alias("first_seq"),
            F.max("seq").alias("last_seq"),
        )
    )


@register(
    "encoder_canal_json_typed",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","sqlType":{"pk":-5,"event_type":12,"value_cents":-5},"mysqlType":{"pk":"bigint","event_type":"varchar","value_cents":"bigint"},"data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts) AS message
FROM changes
""",
    doc="E1 full message shape: canal-json with per-column sqlType "
        "(java.sql.Types) and mysqlType maps (canal_json_message.go:55-57; "
        "maps built from table info in canal/encoder.go:155,218-277; "
        "default rendering = tiflow GetMySQLType(col, false) SHORT type "
        "names) — the type-metadata surface SURVEY §7.4 flags as hard "
        "part 4",
)
def encoder_canal_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json_typed

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_canal_json_typed(ch).select("seq", "message")


@register(
    "encoder_canal_json_only_updated",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U'
       THEN printf('[{"value_cents":%d}]', value_cents - 100)
       ELSE 'null' END,
  commit_ts) AS message
FROM changes
""",
    doc="E1/P2: standalone only-output-updated-columns=true "
        "(pkg/config/sink.go:160; tiflow fillUpdateColumns): an "
        "UPDATE's old image carries ONLY the changed columns — rendered "
        "by the GENERAL JVM image diff (only_updated_old_image: "
        "original before-fragments kept when absent from the after fragments, byte-exact), which "
        "the oracle pins byte-exactly (this stream's updates change "
        "value_cents alone, so the diff must produce exactly that one "
        "fragment)",
)
def encoder_canal_json_only_updated(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_canal_json(ch, only_updated_old=True) \
        .select("seq", "message")


@register(
    "encoder_canal_json_content_compatible",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","sqlType":{"pk":-5,"event_type":12,"value_cents":-5},"mysqlType":{"pk":"bigint(20)","event_type":"varchar(255)","value_cents":"bigint(20)"},"data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U'
       THEN printf('[{"value_cents":%d}]', value_cents - 100)
       ELSE 'null' END,
  commit_ts) AS message
FROM changes
""",
    doc="E1 content-compatible mode (sink URI content-compatible=true; "
        "common/config.go:65,262-265; canal/encoder.go:260 GetMySQLType"
        "(col, true); scenarios canal_json_content_compatible/, "
        "canal_json_adapter_compatibility/): mysqlType renders FULL type "
        "descriptors (bigint(20), varchar(255)) for the official Canal "
        "adapter, and OnlyOutputUpdatedColumns is forced on — an "
        "UPDATE's old image carries ONLY the changed columns "
        "(value_cents here, by stream construction). The oracle pins "
        "both differences byte-exactly against the default-mode entry.",
)
def encoder_canal_json_content_compatible(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json_typed

    ch = changes_stream(spark, sf_dir, with_images=True)
    return encode_canal_json_typed(
        ch, content_compatible=True).select("seq", "message")


_DBZ_MSG_CTE = ORACLE_CHANGES_CTE + """
, msgs AS (
  SELECT seq,
    printf('{"payload":{"source":%s,"ts_ms":%d,"transaction":null,"op":"%s",%s}}',
      printf('{"version":"2.4.0.Final","connector":"TiCDC","name":"%s","ts_ms":%d,"snapshot":"false","db":"%s","table":"%s","server_id":0,"gtid":null,"file":"","pos":0,"row":0,"thread":0,"query":null,"commit_ts":%d,"cluster_id":"%s"}',
        'default', commit_ts // 1000, schema_name, table_name, commit_ts, 'default'),
      commit_ts // 1000,
      CASE op WHEN 'I' THEN 'c' WHEN 'U' THEN 'u' ELSE 'd' END,
      CASE op WHEN 'I' THEN printf('"before":null,"after":%s', after)
              WHEN 'U' THEN printf('"before":%s,"after":%s', before, after)
              ELSE printf('"before":%s,"after":null', before) END
    ) AS message
  FROM changes
)
"""


@register(
    "decoder_debezium",
    _DBZ_MSG_CTE + """
SELECT seq,
  json_extract_string(message, '$.payload.source.db') AS database,
  json_extract_string(message, '$.payload.source."table"') AS table_name,
  CASE json_extract_string(message, '$.payload.op')
    WHEN 'c' THEN 'I' WHEN 'u' THEN 'U' ELSE 'D' END AS op,
  CAST(json_extract(message, '$.payload.source.commit_ts') AS BIGINT) AS commit_ts,
  CAST(json_extract(message,
    CASE WHEN json_extract_string(message, '$.payload.op') = 'd'
         THEN '$.payload.before.pk' ELSE '$.payload.after.pk' END) AS BIGINT) AS pk,
  json_extract_string(message,
    CASE WHEN json_extract_string(message, '$.payload.op') = 'd'
         THEN '$.payload.before.event_type' ELSE '$.payload.after.event_type' END) AS event_type,
  CAST(json_extract(message,
    CASE WHEN json_extract_string(message, '$.payload.op') = 'd'
         THEN '$.payload.before.value_cents' ELSE '$.payload.after.value_cents' END) AS BIGINT) AS value_cents
FROM msgs
""",
    doc="E7 for debezium: encode→from_json round trip — c/u/d maps back "
        "to I/U/D, the effective image (after for c/u, before for d) "
        "yields the typed columns (decoder/decoder.go consumer pattern)",
)
def decoder_debezium(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_debezium, encode_debezium

    ch = changes_stream(spark, sf_dir, with_images=True)
    return decode_debezium(encode_debezium(ch))


@register(
    "decoder_csv_rows",
    ORACLE_CHANGES_CTE
    + """
SELECT op, schema_name, table_name, commit_ts, pk, event_type, value_cents
FROM changes
""",
    doc="E7 for the storage CSV line format: encode→split round trip "
        "(run_storage_consumer path); \\\\N unmaps to NULL so the typed "
        "columns come back exactly",
)
def decoder_csv_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import decode_csv_rows, encode_csv_rows

    ch = changes_stream(spark, sf_dir)
    return decode_csv_rows(encode_csv_rows(ch))


@register(
    "decoder_simple_protocol",
    ORACLE_CHANGES_CTE
    + """
SELECT schema_name AS database, table_name, table_id, op, commit_ts, pk, event_type,
       CASE WHEN op = 'D' THEN value_cents - 100 ELSE value_cents END AS value_cents
FROM changes
""",
    doc="E7 for the simple protocol: encode→from_json round trip — op "
        "inferred from image presence (data only=I, both=U, old only=D), "
        "effective image data for I/U, old for D (pkg/sink/codec/simple)",
)
def decoder_simple_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        decode_simple_protocol,
        encode_simple_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    return decode_simple_protocol(encode_simple_protocol(ch))


def _craft_oracle() -> str:
    from tigate_spark.functions.craft import craft_oracle_suffix

    return (
        ORACLE_CHANGES_CTE
        + """
, craft_in AS (
  SELECT seq, op, schema_name, table_name, commit_ts,
         CASE WHEN op IN ('I', 'U') THEN pk END AS after_pk,
         CASE WHEN op IN ('I', 'U') THEN event_type END AS after_event_type,
         CASE WHEN op IN ('I', 'U') THEN value_cents END AS after_value_cents,
         CASE WHEN op IN ('I', 'U') THEN user_id END AS after_user_id,
         CASE WHEN op IN ('U', 'D') THEN pk END AS before_pk,
         CASE WHEN op IN ('U', 'D') THEN event_type END AS before_event_type,
         CASE WHEN op IN ('U', 'D') THEN value_cents - 100 END AS before_value_cents,
         CASE WHEN op IN ('U', 'D') THEN user_id END AS before_user_id
  FROM changes
)"""
        + craft_oracle_suffix()
        + "\nSELECT seq, message_hex FROM craft_msg"
    )


@register(
    "encoder_craft_framed",
    _craft_oracle(),
    doc="Craft binary codec, single-event framing as a byte-exact hex "
        "string: protobuf uvarints + zigzag delta chunks, encounter-order "
        "term dictionary, typed old/new column groups, trailing size "
        "tables closed by a byte-reversed uvarint "
        "(pkg/sink/codec/craft/message_encoder.go:43-75,252-287, "
        "model.go:188-205,297-310; decoder contract "
        "message_decoder.go:293-316). Pure column expressions in both "
        "engines — the hash match proves the framing byte-for-byte; "
        "multi-event messages need the encode_open_protocol_batch "
        "grouped-fold over these fragments (documented follow-up)",
)
def encoder_craft_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_row

    return encode_craft_row(_craft_prepared(spark, sf_dir)).select(
        "seq", "message_hex"
    )


@register(
    "decoder_craft_framed",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, schema_name, table_name, commit_ts, op, pk, event_type,
       CASE WHEN op = 'D' THEN value_cents - 100 ELSE value_cents END
         AS value_cents,
       user_id
FROM changes
""",
    doc="E7 craft consumer: decode the Spark-encoded single-event craft "
        "binary back into typed change rows via an independent Python "
        "decoder over Arrow mapInPandas (message_decoder.go algorithm; "
        "encoder and decoder meet only at the byte level). The hash match "
        "against the pre-encode truth proves the full encode→decode "
        "round trip; per-partition, no shuffle",
)
def decoder_craft_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_row
    from tigate_spark.functions.craft_decoder import craft_decode_rows

    enc = encode_craft_row(_craft_prepared(spark, sf_dir)).select(
        "seq", "message_hex"
    )
    return craft_decode_rows(enc)


@register(
    "decoder_avro_confluent",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, pk,
  CASE WHEN op = 'D' THEN NULL ELSE event_type END AS event_type,
  CASE WHEN op = 'D' THEN NULL ELSE value_cents END AS value_cents,
  CASE WHEN op = 'D' THEN NULL ELSE user_id END AS user_id,
  CASE WHEN op = 'D' THEN NULL WHEN op = 'I' THEN 'c' ELSE 'u' END AS op_flag,
  CASE WHEN op = 'D' THEN NULL ELSE commit_ts END AS commit_ts,
  CASE WHEN op = 'D' THEN NULL ELSE commit_ts // 1000 END AS phys_ms,
  CAST(CASE WHEN op = 'D' THEN 1 ELSE 0 END AS BIGINT) AS is_tombstone
FROM changes
""",
    doc="E7 Confluent Avro consumer: decode the byte-exact wire messages "
        "(5-byte magic+schema-id header + Avro binary body — zigzag "
        "varint longs, length-prefixed strings, union branches) back "
        "into typed rows via an independent Python decoder over Arrow "
        "mapInPandas; a null value is the delete tombstone, which "
        "decodes key-only. Full encode→decode round trip hash-matched "
        "against the pre-encode truth",
)
def decoder_avro_confluent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.avro_wire import (
        avro_decode_rows,
        encode_avro_confluent,
    )

    ch = changes_stream(spark, sf_dir)
    enc = encode_avro_confluent(ch).select("seq", "key_hex", "value_hex")
    return avro_decode_rows(enc)


@register(
    "decoder_avro_glue",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, pk,
  CASE WHEN op = 'D' THEN NULL ELSE event_type END AS event_type,
  CASE WHEN op = 'D' THEN NULL ELSE value_cents END AS value_cents,
  CASE WHEN op = 'D' THEN NULL ELSE user_id END AS user_id,
  CASE WHEN op = 'D' THEN NULL WHEN op = 'I' THEN 'c' ELSE 'u' END AS op_flag,
  CASE WHEN op = 'D' THEN NULL ELSE commit_ts END AS commit_ts,
  CASE WHEN op = 'D' THEN NULL ELSE commit_ts // 1000 END AS phys_ms,
  CAST(CASE WHEN op = 'D' THEN 1 ELSE 0 END AS BIGINT) AS is_tombstone
FROM changes
""",
    doc="E7 Glue Avro consumer (glue_schema_registry.go "
        "getGlueSchemaIDFromHeader + arvo.go decode dispatch): decode "
        "the Glue-framed wire messages (18-byte version+compression+"
        "schema-UUID header + Avro binary body) back into typed rows "
        "via the independent Python decoder over Arrow mapInPandas; a "
        "null value is the delete tombstone, key-only. Full "
        "encode→decode round trip hash-matched against the pre-encode "
        "truth — the consumer sibling of encoder_avro_glue_framed, "
        "closing the Confluent/Glue decode symmetry",
)
def decoder_avro_glue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.avro_wire import (
        avro_decode_rows,
        encode_avro_glue,
    )

    ch = changes_stream(spark, sf_dir)
    enc = encode_avro_glue(ch).select("seq", "key_hex", "value_hex")
    return avro_decode_rows(enc, registry="glue")


@register(
    "decoder_craft_dead_letter",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE schema_name END AS schema_name,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE table_name END AS table_name,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE commit_ts END AS commit_ts,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE op END AS op,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE pk END AS pk,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE event_type END AS event_type,
       CASE WHEN seq % 97 = 0 THEN NULL
            WHEN op = 'D' THEN value_cents - 100 ELSE value_cents END
         AS value_cents,
       CASE WHEN seq % 97 = 0 THEN NULL ELSE user_id END AS user_id,
       CAST(CASE WHEN seq % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM changes
""",
    doc="E7 dead-letter path for the craft consumer: every 97th message "
        "is deterministically truncated in transit (last 4 bytes "
        "dropped); the decoder flags those rows decode_ok=0 with null "
        "fields instead of failing the task, while every intact message "
        "still decodes byte-exactly — a poisoned message cannot stall "
        "the changefeed (decoder-side twin of decoder_dead_letter)",
)
def decoder_craft_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_row
    from tigate_spark.functions.craft_decoder import craft_decode_rows

    enc = encode_craft_row(_craft_prepared(spark, sf_dir)).select(
        "seq",
        F.when(
            F.col("seq") % 97 == 0,
            F.expr("substr(message_hex, 1, length(message_hex) - 8)"),
        )
        .otherwise(F.col("message_hex"))
        .alias("message_hex"),
    )
    return craft_decode_rows(enc, dead_letter=True)


@register(
    "decoder_craft_batch_framed",
    ORACLE_CHANGES_CTE
    + """
, lane AS (
  SELECT *, row_number() OVER (PARTITION BY schema_name, table_name
                               ORDER BY commit_ts, seq) - 1 AS rn
  FROM changes
)
SELECT schema_name, table_name,
       CAST(rn // 16 AS BIGINT) AS batch_seq,
       CAST(rn % 16 AS BIGINT) AS event_idx,
       commit_ts, op, pk, event_type,
       CASE WHEN op = 'D' THEN value_cents - 100 ELSE value_cents END
         AS value_cents,
       user_id
FROM lane
""",
    doc="E7 craft batch consumer: decode the multi-event "
        "RowChangedEventBuffer messages (columnar headers, shared term "
        "dictionary, per-event size tables) back into one row per event "
        "with its position in the lane's (commit_ts, seq) order — the "
        "batch encode→decode round trip hash-matched against the "
        "pre-encode truth (message_encoder.go:268-303 layout)",
)
def decoder_craft_batch_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_batch
    from tigate_spark.functions.craft_decoder import craft_decode_batches

    enc = encode_craft_batch(_craft_prepared(spark, sf_dir)).select(
        "schema_name", "table_name", "batch_seq", "message_hex"
    )
    return craft_decode_batches(enc)


def _craft_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    new_img = F.col("op").isin("I", "U")
    old_img = F.col("op").isin("U", "D")
    return ch.select(
        "seq", "op", "schema_name", "table_name", "commit_ts",
        F.when(new_img, F.col("pk")).alias("after_pk"),
        F.when(new_img, F.col("event_type")).alias("after_event_type"),
        F.when(new_img, F.col("value_cents")).alias("after_value_cents"),
        F.when(new_img, F.col("user_id")).alias("after_user_id"),
        F.when(old_img, F.col("pk")).alias("before_pk"),
        F.when(old_img, F.col("event_type")).alias("before_event_type"),
        F.when(old_img, F.col("value_cents") - 100).alias("before_value_cents"),
        F.when(old_img, F.col("user_id")).alias("before_user_id"),
    )


def _craft_batch_oracle() -> str:
    from tigate_spark.functions.craft import craft_batch_oracle_suffix

    return (
        ORACLE_CHANGES_CTE
        + """
, craft_in AS (
  SELECT seq, op, schema_name, table_name, commit_ts,
         CASE WHEN op IN ('I', 'U') THEN pk END AS after_pk,
         CASE WHEN op IN ('I', 'U') THEN event_type END AS after_event_type,
         CASE WHEN op IN ('I', 'U') THEN value_cents END AS after_value_cents,
         CASE WHEN op IN ('I', 'U') THEN user_id END AS after_user_id,
         CASE WHEN op IN ('U', 'D') THEN pk END AS before_pk,
         CASE WHEN op IN ('U', 'D') THEN event_type END AS before_event_type,
         CASE WHEN op IN ('U', 'D') THEN value_cents - 100 END AS before_value_cents,
         CASE WHEN op IN ('U', 'D') THEN user_id END AS before_user_id
  FROM changes
)"""
        + craft_batch_oracle_suffix()
        + """
SELECT schema_name, table_name, batch_seq,
       CAST(len(ms) AS BIGINT) AS n_events,
       ms[len(ms)].seq AS max_seq, message_hex
FROM craft_batch_msg"""
    )


@register(
    "encoder_craft_batch_framed",
    _craft_batch_oracle(),
    doc="Craft MULTI-event message framing, byte-exact hex: columnar "
        "headers (delta-uvarint ts / uvarint type / delta-varint "
        "partition + dict-id chunks across all events, model.go:188-205), "
        "per-event column groups back-to-back, shared term dictionary, "
        "size tables [hdr,dict]+body[N]+per-event group tables "
        "(message_encoder.go:268-303) — the RowChangedEventBuffer "
        "accumulation the single-event entry documented as follow-up. "
        "One lane-key shuffle, collect_list bounded at MaxBatchSize=16 "
        "fragments per group",
)
def encoder_craft_batch_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_batch

    return encode_craft_batch(_craft_prepared(spark, sf_dir)).select(
        "schema_name", "table_name", "batch_seq", "n_events", "max_seq",
        "message_hex",
    )


_RESOLVED_CTE = (
    ORACLE_CHANGES_CTE
    + """
, resolved_in AS (
  SELECT schema_name || '_' || table_name AS topic,
         max(commit_ts) AS resolved_ts
  FROM changes GROUP BY schema_name, table_name
)"""
)


def _craft_resolved_oracle() -> str:
    from tigate_spark.functions.craft import craft_resolved_oracle_suffix

    return (_RESOLVED_CTE + craft_resolved_oracle_suffix()
            + "\nSELECT topic, resolved_ts, message_hex FROM craft_resolved_msg")


def _resolved_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    return ch.groupBy(
        F.concat_ws("_", "schema_name", "table_name").alias("topic")
    ).agg(F.max("commit_ts").alias("resolved_ts"))


@register(
    "encoder_craft_resolved",
    _craft_resolved_oracle(),
    doc="Craft resolved-ts checkpoint message, byte-exact hex "
        "(message_encoder.go:305-314 NewResolvedEventEncoder): type="
        "Resolved(3) header with null partition/schema/table (-1 ids), "
        "empty term dictionary, size tables [hdr,1]+[0] — the K6 "
        "checkpoint broadcast in craft wire bytes, one message per topic",
)
def encoder_craft_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.craft import encode_craft_resolved

    return encode_craft_resolved(_resolved_topics(spark, sf_dir)).select(
        "topic", "resolved_ts", "message_hex"
    )


def _open_ddl_oracle() -> str:
    from tigate_spark.functions.encoders import OPEN_DDL_ACTION

    action = "CASE ddl_type " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in OPEN_DDL_ACTION.items()
    ) + " END"
    return (
        _DDL_CTE
        + f"""
SELECT seq, commit_ts,
       '0000000000000001'
       || lpad(hex(octet_length(encode(k))), 16, '0') || hex(k) AS key_hex,
       lpad(hex(octet_length(encode(v))), 16, '0') || hex(v) AS value_hex
FROM (SELECT seq, commit_ts,
             printf('{{"ts":%d,"scm":"app","tbl":"t%d","t":2}}',
                    commit_ts, table_id) AS k,
             printf('{{"q":"%s","t":%d}}', {_json_esc_sql("query")},
                    {action}) AS v
      FROM ddl)
"""
    )


@register(
    "encoder_open_ddl",
    _open_ddl_oracle(),
    doc="Open-protocol DDL message, byte-exact hex (open/codec.go:99-158 "
        "encodeDDLEvent; codec_test.go:211 create-table golden): key "
        "{ts,scm,tbl,t:2} framed [8B version][8B keyLen][key], value "
        "{q,t:ActionType} framed [8B valueLen][value], TiDB parser "
        "ActionType wire ints",
)
def encoder_open_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_ddl

    ddl = _ddl_stream(spark, sf_dir).withColumn(
        "schema_name", F.lit("app")
    ).withColumn("table_name", F.concat(F.lit("t"), F.col("table_id")))
    return encode_open_ddl(ddl).select("seq", "commit_ts", "key_hex", "value_hex")


@register(
    "encoder_open_resolved",
    _RESOLVED_CTE
    + """
SELECT topic, resolved_ts,
       '0000000000000001'
       || lpad(hex(octet_length(encode(k))), 16, '0') || hex(k) AS key_hex,
       '0000000000000000' AS value_hex
FROM (SELECT topic, resolved_ts,
             printf('{"ts":%d,"t":3}', resolved_ts) AS k
      FROM resolved_in)
""",
    doc="Open-protocol resolved-ts checkpoint message, byte-exact hex "
        "(open/codec.go:149-178 encodeResolvedTs, encoder.go:220-233 "
        "EncodeCheckpointEvent): key {\"ts\":N,\"t\":3} framed "
        "[8B version][8B keyLen][key], value a bare zero length word — "
        "one checkpoint message per topic",
)
def encoder_open_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_resolved

    return encode_open_resolved(_resolved_topics(spark, sf_dir)).select(
        "topic", "resolved_ts", "key_hex", "value_hex"
    )


@register(
    "agg_props_json_profile",
    ORACLE_CHANGES_CTE
    + """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS n_distinct_k
FROM changes GROUP BY 1
""",
    doc="Semi-structured payload analytics: the events' opaque JSON "
        "props column parsed in-plan (get_json_object → typed bigint) "
        "and aggregated per event type — the schema-on-read path for "
        "JSON payload columns (the reference treats JSON as opaque "
        "strings, §1.3; Spark gets typed extraction for free and the "
        "extraction runs inside the scan stage, pure JVM)",
)
def agg_props_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changes_stream(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.countDistinct(k).alias("n_distinct_k"),
    )


@register(
    "claim_check_round_trip",
    ORACLE_CHANGES_CTE
    + """
SELECT seq, printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts) AS message,
  CAST(CASE WHEN octet_length(encode(printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts))) > 320 THEN 1 ELSE 0 END AS BIGINT) AS offloaded
FROM changes
""",
    doc="E5 claim-check FULL round trip: oversized canal messages are "
        "offloaded (md5-addressed side store = exactly the offloaded "
        "payloads, deduplicated by address), the wire carries the "
        "pointer, and the consumer re-joins pointer → payload to recover "
        "every original message byte-for-byte — proving the offload is "
        "lossless for both paths (the oracle is simply the original "
        "encoding plus the offload flag). The side store joins on the "
        "content address; only oversized rows ever leave the wire path",
)
def claim_check_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import claim_check, encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    cc = claim_check(encode_canal_json(ch), threshold=320)
    store = (
        cc.filter(F.col("offloaded"))
        .select("claim_addr", F.col("message").alias("payload"))
        .distinct()
    )
    wire = cc.select("seq", "wire_value", "offloaded", "claim_addr")
    return (
        wire.join(store, "claim_addr", "left")
        .select(
            "seq",
            F.coalesce("payload", "wire_value").alias("message"),
            F.col("offloaded").cast("bigint").alias("offloaded"),
        )
    )


_CANAL_DDL_FMT = (
    '{"id":0,"database":"app","table":"t%d","pkNames":null,"isDdl":true,'
    '"type":"%s","es":%d,"ts":%d,"sql":"%s","sqlType":null,'
    '"mysqlType":null,"data":null,"old":null,"_tidb":{"commitTs":%d}}'
)


@register(
    "encoder_canal_json_ddl",
    _DDL_CTE
    + f"""
SELECT seq, printf(
  '{_CANAL_DDL_FMT}',
  table_id,
  CASE ddl_type WHEN 'create table' THEN 'CREATE'
       WHEN 'add column' THEN 'ALTER'
       WHEN 'drop table' THEN 'ERASE'
       WHEN 'truncate table' THEN 'TRUNCATE'
       ELSE 'RENAME' END,
  commit_ts // 1000, commit_ts // 1000,
  {_json_esc_sql('query')},
  commit_ts) AS message
FROM ddl
""",
    doc="Canal-json DDL messages: isDdl=true with the canal event-type "
        "mapping (CREATE/ALTER/ERASE/TRUNCATE/RENAME — "
        "convertDdlEventType, canal/helper.go:305-337), null "
        "pkNames/sqlType/mysqlType/data/old per the JSONMessage struct "
        "(canal_json_message.go:40-62, no omitempty), query "
        "JSON-escaped, es/ts in canal milliseconds, _tidb.commitTs "
        "extension (encoder.go:398-418 newJSONMessageForDDL) — "
        "completes the canal protocol next to the DML and checkpoint "
        "messages",
)
def encoder_canal_json_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import json_escape

    ddl = _ddl_stream(spark, sf_dir)
    canal_type = (
        F.when(F.col("ddl_type") == "create table", "CREATE")
        .when(F.col("ddl_type") == "add column", "ALTER")
        .when(F.col("ddl_type") == "drop table", "ERASE")
        .when(F.col("ddl_type") == "truncate table", "TRUNCATE")
        .otherwise("RENAME")
    )
    msg = F.format_string(
        _CANAL_DDL_FMT,
        F.col("table_id"),
        canal_type,
        F.expr("commit_ts div 1000"),
        F.expr("commit_ts div 1000"),
        json_escape(F.col("query")),
        F.col("commit_ts"),
    )
    return ddl.select("seq", msg.alias("message"))


_CANAL_WM_FMT = (
    '{"id":0,"database":"","table":"","pkNames":null,"isDdl":false,'
    '"type":"TIDB_WATERMARK","es":%d,"ts":%d,"sql":"","sqlType":null,'
    '"mysqlType":null,"data":null,"old":null,'
    '"_tidb":{"watermarkTs":%d}}'
)


@register(
    "encoder_canal_resolved",
    _RESOLVED_CTE
    + f"""
SELECT topic, resolved_ts,
       printf('{_CANAL_WM_FMT}',
              resolved_ts // 1000, resolved_ts // 1000, resolved_ts)
         AS message
FROM resolved_in
""",
    doc="Canal-json checkpoint message: type TIDB_WATERMARK with the "
        "_tidb.watermarkTs extension and empty schema/table "
        "(newJSONMessage4CheckpointEvent, canal/encoder.go:420-433; "
        "tidbExtension canal_json_message.go:126-131) — one per topic, "
        "completing the resolved-ts message family alongside the open "
        "and craft variants",
)
def encoder_canal_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _resolved_topics(spark, sf_dir)
    msg = F.format_string(
        _CANAL_WM_FMT,
        F.expr("resolved_ts div 1000"),
        F.expr("resolved_ts div 1000"),
        F.col("resolved_ts"),
    )
    return r.select("topic", "resolved_ts", msg.alias("message"))


_CANAL_FULL_SQL = """printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":%s,"old":%s,"_tidb":{"commitTs":%d}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000,
  '[' || coalesce(CASE WHEN op = 'D' THEN before ELSE after END, 'null') || ']',
  CASE WHEN op = 'U' THEN '[' || before || ']' ELSE 'null' END,
  commit_ts)"""

_CANAL_HKO_SQL = """printf(
  '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":[{"pk":%d}],"old":null,"_tidb":{"commitTs":%d,"onlyHandleKey":true}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000, pk, commit_ts)"""


@register(
    "encoder_canal_handle_key_only",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320
       THEN {_CANAL_HKO_SQL} ELSE {_CANAL_FULL_SQL} END AS message,
  CAST(CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320
       THEN 1 ELSE 0 END AS BIGINT) AS only_handle_key
FROM changes
""",
    doc="Canal-json large-message handle-key-only degradation: oversized "
        "messages are re-rendered with only the handle-key column in "
        "data and the _tidb.onlyHandleKey=true extension "
        "(canal/encoder.go:140-144,343-347; the P3 projection applied "
        "inside the E1 wire format) — the lossy counterpart of the "
        "lossless claim-check offload, byte-exact for both paths",
)
def encoder_canal_handle_key_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    full = encode_canal_json(ch)
    degraded = F.format_string(
        '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,'
        '"type":"%s","es":%d,"ts":%d,"sql":"","data":[{"pk":%d}],"old":null,'
        '"_tidb":{"commitTs":%d,"onlyHandleKey":true}}',
        F.col("schema_name"), F.col("table_name"),
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE").otherwise("DELETE"),
        F.expr("commit_ts div 1000"), F.expr("commit_ts div 1000"),
        F.col("pk"), F.col("commit_ts"),
    )
    oversized = F.octet_length(F.col("message")) > 320
    return full.select(
        "seq",
        F.when(oversized, degraded).otherwise(F.col("message")).alias("message"),
        oversized.cast("bigint").alias("only_handle_key"),
    )


@register(
    "encoder_canal_claim_check",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320
       THEN printf(
  '{{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,"type":"%s","es":%d,"ts":%d,"sql":"","data":[{{"pk":%d}}],"old":null,"_tidb":{{"commitTs":%d,"claimCheckLocation":"s3://claim-check/%s.json"}}}}',
  schema_name, table_name,
  CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
  commit_ts // 1000, commit_ts // 1000, pk, commit_ts,
  md5({_CANAL_FULL_SQL}))
       ELSE {_CANAL_FULL_SQL} END AS message,
  CAST(CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320
       THEN 1 ELSE 0 END AS BIGINT) AS offloaded
FROM changes
""",
    doc="Canal-json claim-check wire form: the oversized message goes to "
        "external storage (content-addressed location) and the Kafka "
        "message degrades to handle-key data plus the "
        "_tidb.claimCheckLocation extension "
        "(canal/encoder.go:347-351; claim_check.go:110-125 file "
        "addressing) — the canal rendering of E5, complementing the "
        "protocol-agnostic claim_check_round_trip",
)
def encoder_canal_claim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_canal_json

    ch = changes_stream(spark, sf_dir, with_images=True)
    full = encode_canal_json(ch)
    degraded = F.format_string(
        '{"id":0,"database":"%s","table":"%s","pkNames":["pk"],"isDdl":false,'
        '"type":"%s","es":%d,"ts":%d,"sql":"","data":[{"pk":%d}],"old":null,'
        '"_tidb":{"commitTs":%d,"claimCheckLocation":"s3://claim-check/%s.json"}}',
        F.col("schema_name"), F.col("table_name"),
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE").otherwise("DELETE"),
        F.expr("commit_ts div 1000"), F.expr("commit_ts div 1000"),
        F.col("pk"), F.col("commit_ts"), F.md5(F.col("message")),
    )
    oversized = F.octet_length(F.col("message")) > 320
    return full.select(
        "seq",
        F.when(oversized, degraded).otherwise(F.col("message")).alias("message"),
        oversized.cast("bigint").alias("offloaded"),
    )


@register(
    "decoder_canal_large_message",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  CAST(CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320
       THEN 1 ELSE 0 END AS BIGINT) AS only_handle_key,
  pk,
  CASE WHEN octet_length(encode({_CANAL_FULL_SQL})) > 320 THEN NULL
       ELSE CASE WHEN op = 'D' THEN CAST(json_extract(before, '$.value_cents') AS BIGINT)
                 ELSE CAST(json_extract(after, '$.value_cents') AS BIGINT) END
  END AS value_cents,
  CAST(commit_ts AS BIGINT) AS commit_ts
FROM changes
""",
    doc="Canal large-message consumer: recognize the "
        "_tidb.onlyHandleKey=true degraded messages, recover the handle "
        "key from their one-column data, and read full payloads "
        "otherwise — the consumer contract that a degraded row must "
        "trigger an upstream reload instead of a partial apply "
        "(decoder-side twin of encoder_canal_handle_key_only)",
)
def decoder_canal_large_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = encoder_canal_handle_key_only(spark, sf_dir)
    ohk = F.get_json_object(F.col("message"), "$._tidb.onlyHandleKey")
    return enc.select(
        "seq",
        F.when(ohk == "true", 1).otherwise(0).cast("bigint")
        .alias("only_handle_key"),
        F.get_json_object(F.col("message"), "$.data[0].pk").cast("bigint")
        .alias("pk"),
        F.get_json_object(F.col("message"), "$.data[0].value_cents")
        .cast("bigint").alias("value_cents"),
        F.get_json_object(F.col("message"), "$._tidb.commitTs").cast("bigint")
        .alias("commit_ts"),
    )


_OPEN_FULL_VAL_SQL = """(
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END)"""

_OPEN_HKO_VAL_SQL = """(
  CASE WHEN op = 'U' THEN printf('{"u":{"pk":%d},"p":{"pk":%d}}', pk, pk)
       WHEN op = 'I' THEN printf('{"u":{"pk":%d}}', pk)
       ELSE printf('{"d":{"pk":%d}}', pk) END)"""


@register(
    "encoder_open_handle_key_only",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  printf('{{"ts":%d,"scm":"%s","tbl":"%s","t":1}}',
         commit_ts, schema_name, table_name) AS key,
  CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN {_OPEN_HKO_VAL_SQL} ELSE {_OPEN_FULL_VAL_SQL} END AS value,
  CAST(CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN 1 ELSE 0 END AS BIGINT) AS only_handle_key
FROM changes
""",
    doc="Open-protocol large-message handle-key-only: oversized values "
        "re-encode with only the handle-key column in every u/p/d image "
        "(open/codec.go:43-72 writeColumnFieldValues with "
        "onlyHandleKeyColumns; encoder.go:79-83) — the key is unchanged, "
        "the consumer detects degradation by the shrunken image",
)
def encoder_open_handle_key_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    hko_val = (
        F.when(F.col("op") == "U",
               F.format_string('{"u":{"pk":%d},"p":{"pk":%d}}',
                               F.col("pk"), F.col("pk")))
        .when(F.col("op") == "I",
              F.format_string('{"u":{"pk":%d}}', F.col("pk")))
        .otherwise(F.format_string('{"d":{"pk":%d}}', F.col("pk")))
    )
    oversized = F.octet_length(F.col("value")) > 120
    return enc.select(
        "seq", "key",
        F.when(oversized, hko_val).otherwise(F.col("value")).alias("value"),
        oversized.cast("bigint").alias("only_handle_key"),
    )


@register(
    "encoder_open_claim_check",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN printf('{{"ts":%d,"scm":"%s","tbl":"%s","t":1,"ohk":false,"ccl":"claim-check/%s.json"}}',
                   commit_ts, schema_name, table_name,
                   md5({_OPEN_FULL_VAL_SQL}))
       ELSE printf('{{"ts":%d,"scm":"%s","tbl":"%s","t":1}}',
                   commit_ts, schema_name, table_name) END AS key,
  CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN {_OPEN_HKO_VAL_SQL} ELSE {_OPEN_FULL_VAL_SQL} END AS value,
  CAST(CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN 1 ELSE 0 END AS BIGINT) AS offloaded
FROM changes
""",
    doc="Open-protocol claim-check wire form: the oversized message's KEY "
        "gains ohk:false + the content-addressed ccl location while the "
        "value degrades to handle keys (open/codec.go:36-39; "
        "encoder.go:54-66 — the full payload rides to external storage "
        "under ccl) — completes the large-message matrix across both "
        "wired protocols",
)
def encoder_open_claim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_protocol

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_open_protocol(ch)
    oversized = F.octet_length(F.col("value")) > 120
    cc_key = F.format_string(
        '{"ts":%d,"scm":"%s","tbl":"%s","t":1,"ohk":false,"ccl":"claim-check/%s.json"}',
        F.col("commit_ts"), F.col("schema_name"), F.col("table_name"),
        F.md5(F.col("value")),
    )
    hko_val = (
        F.when(F.col("op") == "U",
               F.format_string('{"u":{"pk":%d},"p":{"pk":%d}}',
                               F.col("pk"), F.col("pk")))
        .when(F.col("op") == "I",
              F.format_string('{"u":{"pk":%d}}', F.col("pk")))
        .otherwise(F.format_string('{"d":{"pk":%d}}', F.col("pk")))
    )
    return enc.select(
        "seq",
        F.when(oversized, cc_key).otherwise(F.col("key")).alias("key"),
        F.when(oversized, hko_val).otherwise(F.col("value")).alias("value"),
        oversized.cast("bigint").alias("offloaded"),
    )


@register(
    "decoder_open_large_message",
    ORACLE_CHANGES_CTE
    + f"""
SELECT seq,
  CAST(CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN 1 ELSE 0 END AS BIGINT) AS only_handle_key,
  CAST(CASE WHEN octet_length(encode({_OPEN_FULL_VAL_SQL})) > 120
       THEN 1 ELSE 0 END AS BIGINT) AS ccl_present,
  {_OPEN_FULL_VAL_SQL} AS value
FROM changes
""",
    doc="Open-protocol degraded-message consumer (decoder twin of "
        "encoder_open_claim_check; open/codec.go:36-72): detect the "
        "shrunken pk-only image (the handle-key-only form carries no "
        "wire flag — the consumer recognizes degradation by the image "
        "shape), read the key's ccl pointer, and fetch the offloaded "
        "full payload from the content-addressed claim-check store "
        "(encoder.go:54-66 WriteMessage/enhancedKeyValue) — every row "
        "hash-matches the full plain encoding after recovery. The store "
        "side is only the oversized payloads (deduped by address), so "
        "the fetch join broadcasts at any corpus scale",
)
def decoder_open_large_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_protocol

    wire = encoder_open_claim_check(spark, sf_dir)
    # the claim-check store: the producer offloaded (key, full value)
    # under the content address before degrading the MQ message
    ch = changes_stream(spark, sf_dir, with_images=True)
    full = encode_open_protocol(ch)
    store = (
        full.filter(F.octet_length(F.col("value")) > 120)
        .select(F.md5(F.col("value")).alias("addr"),
                F.col("value").alias("stored_value"))
        .distinct()  # content-addressed: identical payloads share one object
    )
    img = "STRUCT<pk BIGINT, event_type STRING, value_cents BIGINT, user_id BIGINT>"
    k = F.from_json(
        F.col("key"),
        "ts BIGINT, scm STRING, tbl STRING, t BIGINT, ohk BOOLEAN, ccl STRING")
    v = F.from_json(F.col("value"), f"u {img}, p {img}, d {img}")
    live = F.coalesce(F.col("v.u"), F.col("v.d"))
    # shrunken-image detection: a degraded image carries ONLY the handle
    # key — pk present, every payload field absent
    shrunken = (live.getField("pk").isNotNull()
                & live.getField("event_type").isNull()
                & live.getField("value_cents").isNull())
    parsed = wire.select("seq", "value", k.alias("k"), v.alias("v")).select(
        "seq", "value",
        F.regexp_extract(F.col("k.ccl"), r"claim-check/(.*)\.json", 1)
        .alias("addr"),
        shrunken.alias("shrunken"),
        F.col("k.ccl").isNotNull().alias("has_ccl"),
    )
    rec = parsed.join(F.broadcast(store), "addr", "left")
    return rec.select(
        "seq",
        F.col("shrunken").cast("bigint").alias("only_handle_key"),
        F.col("has_ccl").cast("bigint").alias("ccl_present"),
        F.coalesce(F.col("stored_value"), F.col("value")).alias("value"),
    )


@register(
    "decoder_open_wire_frames",
    _RESOLVED_CTE
    + """
SELECT topic,
       CAST(1 AS BIGINT) AS version,
       resolved_ts AS ts,
       CAST(3 AS BIGINT) AS msg_type,
       CAST(0 AS BIGINT) AS value_len
FROM resolved_in
""",
    doc="E7 wire-frame consumer, pure JVM: the open-protocol resolved "
        "checkpoint frames ([8B BE version][8B BE keyLen][key bytes] + "
        "zero value length) parsed back with hex arithmetic — conv() on "
        "the length words, unhex→from_json on the key — no Python "
        "anywhere; proves the framing is machine-readable, not just "
        "byte-matched (decoder contract of encoder.go:220-233)",
)
def decoder_open_wire_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_resolved

    enc = encode_open_resolved(_resolved_topics(spark, sf_dir)).select(
        "topic", "key_hex", "value_hex"
    )
    version = F.expr("cast(conv(substr(key_hex, 1, 16), 16, 10) as bigint)")
    key_len = F.expr("cast(conv(substr(key_hex, 17, 16), 16, 10) as bigint)")
    key_json = F.expr(
        "cast(unhex(substr(key_hex, 33, cast(conv(substr(key_hex, 17, 16), 16, 10) as int) * 2)) as string)"
    )
    k = F.from_json(key_json, "ts BIGINT, t BIGINT")
    value_len = F.expr("cast(conv(substr(value_hex, 1, 16), 16, 10) as bigint)")
    return enc.select(
        "topic",
        version.alias("version"),
        k["ts"].alias("ts"),
        k["t"].alias("msg_type"),
        value_len.alias("value_len"),
    )


@register(
    "decoder_open_ddl_frames",
    _DDL_CTE
    + f"""
SELECT seq, commit_ts AS ts, 'app' AS scm,
       't' || CAST(table_id AS VARCHAR) AS tbl,
       CAST(2 AS BIGINT) AS msg_type,
       query AS q,
       CAST(CASE ddl_type WHEN 'create table' THEN 3
            WHEN 'add column' THEN 5 WHEN 'drop table' THEN 4
            WHEN 'truncate table' THEN 11 ELSE 14 END AS BIGINT) AS action
FROM ddl
""",
    doc="E7 framed-DDL consumer, pure JVM: both frames of the open DDL "
        "wire message parsed back with hex arithmetic — key offset from "
        "the decoded keyLen word, value JSON from the second frame, "
        "ActionType int recovered (decoder contract of "
        "open/codec.go:99-158) — no Python anywhere; with "
        "decoder_open_wire_frames this closes the loop on every framed "
        "open-protocol message family",
)
def decoder_open_ddl_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_open_ddl

    ddl = _ddl_stream(spark, sf_dir).withColumn(
        "schema_name", F.lit("app")
    ).withColumn("table_name", F.concat(F.lit("t"), F.col("table_id")))
    enc = encode_open_ddl(ddl).select("seq", "key_hex", "value_hex")
    key_json = F.expr(
        "cast(unhex(substr(key_hex, 33, "
        "cast(conv(substr(key_hex, 17, 16), 16, 10) as int) * 2)) as string)"
    )
    value_json = F.expr(
        "cast(unhex(substr(value_hex, 17, "
        "cast(conv(substr(value_hex, 1, 16), 16, 10) as int) * 2)) as string)"
    )
    k = F.from_json(key_json, "ts BIGINT, scm STRING, tbl STRING, t BIGINT")
    v = F.from_json(value_json, "q STRING, t BIGINT")
    return enc.select(
        "seq",
        k["ts"].alias("ts"),
        k["scm"].alias("scm"),
        k["tbl"].alias("tbl"),
        k["t"].alias("msg_type"),
        v["q"].alias("q"),
        v["t"].alias("action"),
    )


@register(
    "decoder_simple_ddl",
    _DDL_CTE
    + """
SELECT seq,
       CASE ddl_type WHEN 'create table' THEN 'CREATE'
            WHEN 'drop table' THEN 'ERASE'
            WHEN 'truncate table' THEN 'TRUNCATE'
            WHEN 'rename table' THEN 'RENAME'
            ELSE 'ALTER' END AS ddl_class,
       commit_ts,
       query AS sql,
       CAST(CASE WHEN ddl_type <> 'drop table' THEN 1 ELSE 0 END AS BIGINT)
         AS has_table_schema,
       CAST(CASE WHEN ddl_type <> 'create table' THEN 1 ELSE 0 END AS BIGINT)
         AS has_pre_table_schema
FROM ddl
""",
    doc="E7 simple-protocol DDL consumer: from_json the versioned DDL "
        "message back into class/commitTs/sql and the presence of "
        "tableSchema/preTableSchema payloads (absent for ERASE-after / "
        "CREATE-before, simple/message.go:527-550) — completes the "
        "consumer side of the simple family (DML + bootstrap + DDL)",
)
def decoder_simple_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import encode_simple_ddl

    enc = encode_simple_ddl(_ddl_stream(spark, sf_dir)).select("seq", "message")
    m = F.from_json(
        F.col("message"),
        "version BIGINT, type STRING, commitTs BIGINT, buildTs BIGINT, "
        "sql STRING, tableSchema STRING, preTableSchema STRING",
    )
    return enc.select(
        "seq",
        m["type"].alias("ddl_class"),
        m["commitTs"].alias("commit_ts"),
        m["sql"].alias("sql"),
        m["tableSchema"].isNotNull().cast("bigint").alias("has_table_schema"),
        m["preTableSchema"].isNotNull().cast("bigint")
        .alias("has_pre_table_schema"),
    )


@register(
    "convert_debezium_to_open",
    ORACLE_CHANGES_CTE
    + """
SELECT seq,
  printf('{"ts":%d,"scm":"%s","tbl":"%s","t":1}', commit_ts, schema_name, table_name) AS key,
  CASE WHEN op = 'U' THEN printf('{"u":%s,"p":%s}', after, before)
       WHEN op = 'I' THEN printf('{"u":%s}', after)
       ELSE printf('{"d":%s}', before) END AS value
FROM changes
""",
    doc="Protocol conversion bridge #3: debezium envelopes fully decoded "
        "(the converter's own from_json projection keeps user_id, which "
        "the generic consumer decode drops — a consumer defines its own "
        "schema, the convert_canal_to_avro precedent) and re-encoded as "
        "open-protocol key/value. With canal->avro and open->canal this "
        "closes the conversion matrix over the three JSON envelope "
        "protocols; lossless for the shared fields, so the bridge output "
        "equals direct open encoding of the stream (the oracle). Pure "
        "JVM-side from_json/format_string column work, zero shuffle",
)
def convert_debezium_to_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.encoders import (
        encode_debezium,
        encode_open_protocol,
    )

    ch = changes_stream(spark, sf_dir, with_images=True)
    enc = encode_debezium(ch)
    img = "STRUCT<pk: BIGINT, event_type: STRING, value_cents: BIGINT, user_id: BIGINT>"
    schema = (
        "STRUCT<payload: STRUCT<"
        "source: STRUCT<db: STRING, `table`: STRING, commit_ts: BIGINT, "
        "cluster_id: STRING>, "
        f"ts_ms: BIGINT, op: STRING, before: {img}, after: {img}>>"
    )
    m = F.from_json(F.col("message"), schema)
    dec = enc.select("seq", m.alias("m"))
    op = (
        F.when(F.col("m.payload.op") == "c", "I")
        .when(F.col("m.payload.op") == "u", "U")
        .otherwise(F.lit("D"))
    )

    def render(img_col: str):
        return F.format_string(
            '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}',
            F.col(f"{img_col}.pk"),
            F.col(f"{img_col}.event_type"),
            F.col(f"{img_col}.value_cents"),
            F.col(f"{img_col}.user_id"),
        )

    mid = dec.select(
        "seq",
        F.col("m.payload.source.db").alias("schema_name"),
        F.col("m.payload.source.table").alias("table_name"),
        F.col("m.payload.source.commit_ts").alias("commit_ts"),
        op.alias("op"),
        F.when(op != "D", render("m.payload.after")).alias("after"),
        F.when(op != "I", render("m.payload.before")).alias("before"),
    )
    return encode_open_protocol(mid).select("seq", "key", "value")
