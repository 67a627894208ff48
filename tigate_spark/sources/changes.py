"""Canonical change-event stream (the engine's DMLEvent equivalent).

Reference parity: tigate's ``DMLEvent`` carries
``(PhysicalTableID, StartTs, CommitTs, Seq, RowTypes[], Rows)``
(``pkg/common/event/dml_event.go:20-61``) with ``RowChange =
{PreRow, Row, RowType}`` (``dml_event.go:353-368``): insert has no
before-image, delete has no after-image, update has both
(``pkgg/common/event/mounter.go:48-109``).

Here the driver's ``events`` table plays the raw replayable change log
(S1). The derivation below is *deterministic arithmetic* so the DuckDB
oracle can reproduce it bit-for-bit:

- ``commit_ts``: event time in **microseconds**, derived dtype-adaptively
  by :func:`event_us` (the testdata has shipped ``ts`` both as parquet
  TIMESTAMP(MICROS) → Spark ``timestamp_ntz`` and as INT64 nanos → long);
  DuckDB reads the same column as ``epoch_us(ts)``; both yield the same
  integer for either vintage.
- ``op``: I/U/D from ``event_id % 10`` (6:3:1 mix).
- ``start_ts``: ``commit_ts - (event_id % 97 + 1) * 1000`` — txn start
  precedes commit, several events can share a txn.
- ``pk``: ``event_id % 200`` — repeated keys so ordering/apply semantics
  are exercised (same-key total order, ``logservice/eventstore/format.go:50-85``).
- ``before``/``after``: JSON images built with printf-style formatting so
  both engines emit byte-identical strings; update's before-image differs
  from its after-image by construction (value_cents - 100).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tigate_spark.functions.rounding import round_half_away_bigint
from tigate_spark.sources.batch import fan_out_if_small, load_table

#: number of logical tables the stream fans out to
N_TABLES = 4
#: pk cardinality per table
N_KEYS = 200

_IMG_FMT = '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}'


def event_us(ev: DataFrame):
    """Epoch-µs column for ``events.ts``, whatever dtype the parquet carries.

    Current testdata stores ``ts`` as parquet TIMESTAMP(MICROS) (Spark reads
    ``timestamp_ntz``); earlier vintages stored INT64 nanos (read as long
    under ``nanosAsLong``). Both map to the identical integer DuckDB's
    ``epoch_us(ts)`` produces (session tz pinned to UTC in session.py, so
    the ntz→tz cast is the identity on the wall-clock value).
    """
    dtype = dict(ev.dtypes).get("ts", "")
    if dtype.startswith("timestamp") or dtype == "string":
        # string vintage (ISO text) also round-trips through the cast
        return F.unix_micros(F.col("ts").cast("timestamp"))
    return F.expr("ts div 1000")


def changes_stream(spark: SparkSession, sf_dir: str, with_images: bool = False,
                   fan_out: bool | None = None) -> DataFrame:
    """events → canonical change rows (batch read).

    Columns: schema_name, table_name, table_id, op, start_ts, commit_ts,
    seq, pk, event_type, value_cents, user_id, props
    (+ before/after JSON images when ``with_images``).

    ``fan_out`` (default: ``with_images``) round-robins the RAW event rows
    through :func:`~tigate_spark.sources.batch.fan_out_if_small` before
    normalization, so the expensive
    image/encode projections run at full core width instead of inside the
    single scan task a one-file input produces. The raw rows must be
    exchanged — repartitioning *after* normalization leaves the to_json
    image rendering on the scan side of the exchange (measured r17:
    encode wall 0.41 s → 0.48 s when placed late vs 0.27 s raw-first).
    No-op at lake scale (see fan_out_if_small). Callers aggregating the
    stream (apply/agg entries) keep the default off: their partial
    aggregation belongs fused with the scan, and their single data
    exchange is the plan-gated design point.
    """
    ev = load_table(spark, sf_dir, "events")
    if fan_out is None:
        fan_out = with_images
    if fan_out:
        ev = fan_out_if_small(ev)
    return normalize_events(ev, with_images)


def normalize_events(ev: DataFrame, with_images: bool = False) -> DataFrame:
    """S1/S3 normalization on an events DataFrame — works identically on a
    batch read and on a ``readStream`` file source (same Catalyst plan), so
    the streaming changefeed reuses it verbatim."""
    us = event_us(ev)
    ch = ev.select(
        F.lit("app").alias("schema_name"),
        F.concat(F.lit("t"), (F.col("user_id") % N_TABLES).cast("string")).alias("table_name"),
        (F.col("user_id") % N_TABLES).cast("bigint").alias("table_id"),
        # DMLEvent.PhysicalTableID (dml_event.go:20-61): the physical
        # partition the rows came from — equals table_id unless the
        # upstream tags partitions (operators/partitions.py then routes
        # physical → logical). Sources expose it via _physical_table_id.
        (F.col("_physical_table_id")
         if "_physical_table_id" in ev.columns
         else F.col("user_id") % N_TABLES).cast("bigint")
        .alias("physical_table_id"),
        F.when(F.col("event_id") % 10 < 6, "I")
        .when(F.col("event_id") % 10 < 9, "U")
        .otherwise("D")
        .alias("op"),
        (us - (F.col("event_id") % 97 + 1) * 1000).alias("start_ts"),
        us.alias("commit_ts"),
        F.col("event_id").alias("seq"),
        (F.col("event_id") % N_KEYS).cast("bigint").alias("pk"),
        F.col("event_type"),
        # sign-aware (r18, VERDICT #4): the event value domain is not a
        # checked invariant — on arbitrary data a negative value must
        # still round like round(), not collapse to 0
        round_half_away_bigint(F.col("value") * 100).alias("value_cents"),
        F.col("user_id"),
        F.col("props"),
        # write-source attribution (tidb_cdc_write_source): rows applied
        # by a CDC carry its nonzero source id; application writes are 0.
        # Only exposed when the upstream provides it, so the canonical
        # schema is unchanged for plain event streams.
        *([F.coalesce(F.col("_source_id"), F.lit(0)).cast("bigint")
           .alias("source_id")] if "_source_id" in ev.columns else []),
    )
    if with_images:
        after = F.format_string(
            _IMG_FMT, F.col("pk"), F.col("event_type"), F.col("value_cents"), F.col("user_id")
        )
        before = F.format_string(
            _IMG_FMT, F.col("pk"), F.col("event_type"), F.col("value_cents") - 100, F.col("user_id")
        )
        ch = ch.withColumn(
            "before", F.when(F.col("op").isin("U", "D"), before)
        ).withColumn(
            "after", F.when(F.col("op").isin("I", "U"), after)
        )
    return ch


#: DuckDB CTE mirroring changes_stream(with_images=True) exactly.
ORACLE_CHANGES_CTE = """
WITH changes AS (
  SELECT
    'app' AS schema_name,
    't' || CAST(user_id % 4 AS VARCHAR) AS table_name,
    CAST(user_id % 4 AS BIGINT) AS table_id,
    CAST(user_id % 4 AS BIGINT) AS physical_table_id,
    CASE WHEN event_id % 10 < 6 THEN 'I'
         WHEN event_id % 10 < 9 THEN 'U'
         ELSE 'D' END AS op,
    epoch_us(ts) - (event_id % 97 + 1) * 1000 AS start_ts,
    epoch_us(ts) AS commit_ts,
    event_id AS seq,
    CAST(event_id % 200 AS BIGINT) AS pk,
    event_type,
    CAST(round(value * 100) AS BIGINT) AS value_cents,
    user_id,
    props,
    CASE WHEN event_id % 10 >= 6 THEN printf(
      '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}',
      CAST(event_id % 200 AS BIGINT), event_type,
      CAST(round(value * 100) AS BIGINT) - 100, user_id) END AS before,
    CASE WHEN event_id % 10 < 9 THEN printf(
      '{"pk":%d,"event_type":"%s","value_cents":%d,"user_id":%d}',
      CAST(event_id % 200 AS BIGINT), event_type,
      CAST(round(value * 100) AS BIGINT), user_id) END AS after
  FROM events
)
"""
