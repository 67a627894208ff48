"""SparkSession construction + the configs every entry point needs.

``events.ts`` has shipped in two parquet vintages: TIMESTAMP(MICROS)
(the current testdata — Spark reads ``timestamp_ntz``) and INT64
TIMESTAMP(NANOS) (older data, which Spark 4 refuses to read unless
``spark.sql.legacy.parquet.nanosAsLong=true``). We keep ``nanosAsLong``
set so both vintages load; the µs time base is derived dtype-adaptively
in ``sources/changes.py:event_us``. ``ensure_confs`` can fix up *any*
session (including one the correctness driver built) before the first
read.

Scale posture (100 TB): AQE on (skew-join + partition coalescing), broadcast
joins for dimension tables, Arrow for every Python boundary, and compiled
whole-stage-codegen classes reused across executions. Spark keeps generated
classes in one JVM-wide LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). One pass over the 13 ``bench=True`` catalog entries
compiles 152-154 distinct classes, so at the default each round-robin pass
evicted what the next one needed and recompiled 145-149 of them, on
executor task threads and on the driver's AQE stage threads alike.
``get_spark`` sets the cap to ``CODEGEN_CACHE_MAX_ENTRIES``, about 6x that
working set, because Guava's cache may evict before it reaches its cap; a
class costs at most ~30 KB of Metaspace, so the cap bounds the cache near
30 MB. The conf is *static*: ``CodeGenerator`` reads it once, when it
first initialises in the JVM, so it is a builder conf and not one of
``RUNTIME_CONFS`` (``spark.conf.set`` refuses it). A session that
``get_spark`` does not build, such as the correctness driver's plain
session, keeps Spark's default of 100; so does any session in a JVM
whose ``CodeGenerator`` was already initialised by an earlier session.
``codegen_compiles`` reads the JVM's compile counter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` for sessions ``get_spark`` builds.
CODEGEN_CACHE_MAX_ENTRIES = 1000

#: Confs that are safe (and required) to set at runtime on any session.
RUNTIME_CONFS: dict[str, str] = {
    # Older events.parquet vintages carry TIMESTAMP(NANOS); read those as
    # epoch-nanos long (no-op for the current TIMESTAMP(MICROS) data).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: skew-join splitting + post-shuffle coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic date/timestamp rendering regardless of cluster tz
    # (storage-sink dated paths, window boundaries).
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for any pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer/schema registry) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # E6 parity: zstd on stored state/changelogs, like the reference's
    # pebble value compression (event_store.go:32).
    "spark.sql.parquet.compression.codec": "zstd",
    # Charset-aware rendering (FormatColVal, helper.go:52-62; scenario
    # charset_gbk/): encode/decode need the full JVM charset registry
    # for non-utf8 column charsets like GBK (Spark 4 whitelists only
    # the unicode family by default).
    "spark.sql.legacy.javaCharsets": "true",
}


def quiet_codegen_fallback(spark: SparkSession) -> None:
    """Drop the whole-stage-codegen fallback logger to FATAL.

    The craft and simple-Avro wire encoders generate CASE-ladder varint
    expressions whose Java exceeds janino's 64 KB method budget; Spark
    falls back to interpreted eval, which the r11 A/B/C adjudication
    measured as the FASTEST form for these string-allocation-bound
    projections (BASELINE.md r11: interpreted 2.2 s vs 3.8-4.0 s for
    the compilable slice form). The fallback is benign and intended,
    but CodeGenerator logs it at ERROR with a full janino stack —
    hundreds of noise lines per sweep that keep triggering
    re-investigation. Correctness is unaffected (the fallback path IS
    the production path for these stages); a genuine non-recoverable
    codegen problem would surface as a query failure, not a log line.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.expressions.codegen."
            "CodeGenerator",
            jvm.org.apache.logging.log4j.Level.FATAL)
    except Exception:
        pass  # non-log4j2 deployment: noise returns, nothing breaks


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the driver JVM has compiled since it started.

    Reads Spark's ``CodegenMetrics`` compilation-time histogram, which
    counts one sample per compile. In local mode the executors share the
    driver's JVM, so this covers executor tasks too; on a cluster it
    counts the driver's compiles only."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; keep going — none of
            # these is load-bearing for correctness on current testdata.
            pass
    quiet_codegen_fallback(spark)
    # Size the shuffle to the actual cores, not the 200-partition default:
    # AQE coalesces batch shuffles anyway, but *stateful streaming* stages
    # get no AQE — a plain session would run 200 tasks per micro-batch.
    # On a real cluster defaultParallelism scales with the executor fleet,
    # so this stays correct at 1000 executors.
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism, 8)),
        )
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "tigate_spark", cpus: int | None = None,
              extra_confs: dict | None = None) -> SparkSession:
    """Build a local session sized like the bench/test environment.
    ``extra_confs`` overlays startup-only confs (e.g. the scale-probe
    tools enable ``spark.ui.enabled`` to read shuffle metrics off the
    REST status API).

    The Python workers get the checkout root on their path, so the
    executor side of a Python sink or UDF imports this package wherever
    the driver script was started from."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("TIGATE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_confs(spark)
