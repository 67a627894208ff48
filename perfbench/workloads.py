"""The benchmark's workloads.

Each workload makes its inputs from the seed, sets itself up (the runner
repeats this and reports the median of the warm set-ups), measures for
the given number of seconds, and checks its outputs against an
independent oracle after the window. What a set-up covers, and why each
workload exists, is in NOTES.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
import measure as tr

HERE = os.path.dirname(os.path.abspath(__file__))
#: set-ups per run: a cold one, then warm ones whose median is setup_s
SETUP_REPEATS = 3
#: threads of the untimed catalog warm-up pass
WARM_THREADS = 4
#: fixed span names, so every traced run reports the same metric set
SPANS = ("foreach_batch", "process_batch", "bookkeeping", "compact",
         "sqlite_process_batch", "redo_log_batch", "redo_mark_applied",
         "changelog_process_batch")
#: the catalog's bench=True entries, spelled out because the per-layer
#: metric names in BENCHMARK.json carry them
HEADLINE = ("agg_events_per_type_hour", "apply_materialize",
            "cdc_pipeline_e2e", "dedup_exact", "dedup_minhash_lsh",
            "dedup_ngram_jaccard", "encoder_canal_json", "sim_cosine_topk",
            "text_quality_score", "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
            "tpch_q6_forecast_revenue")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Outcome:
    """What one measured window produced."""

    def __init__(self):
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0


# --------------------------------------------------------------------------
# streaming workload
# --------------------------------------------------------------------------
def new_feed(spark, work_dir: str, src: str, sink_uri: str,
             redo: bool = False, **cfg):
    """A changefeed from the file source ``src`` into ``sink_uri``;
    ``redo`` turns the redo log on (``consistent.level=eventual``)."""
    from tigate_spark.config import ChangefeedConfig, ConsistentConfig
    from tigate_spark.streaming.changefeed import Changefeed

    c = ChangefeedConfig(changefeed_id=sink_uri.split(":", 1)[0],
                         sink_uri=sink_uri, **cfg)
    if redo:
        c.consistent = ConsistentConfig(
            level="eventual", storage=os.path.join(work_dir, "redo"))
    return Changefeed(spark, c, src, work_dir)


def drain(cf, rows: int, out: Outcome) -> tuple[float, list]:
    """Run ``cf`` until its backlog of ``rows`` rows is applied; returns
    (rows per second, committed micro-batches). A feed that raised or
    left rows unapplied counts as failed."""
    t0 = time.monotonic()
    q = cf.start(available_now=True)
    q.awaitTermination(120)
    dt = time.monotonic() - t0
    if q.isActive:
        q.stop()
    commits = tr.batch_commits(q.recentProgress)
    out.attempted += 1
    out.failed += int(q.exception() is not None
                      or sum(b.rows for b in commits) < rows)
    return rows / dt, commits


class Backlog:
    """Traced runs only, after the window: a seeded backlog drained by
    a fresh feed into the SQLite apply sink with the redo log on (TiCDC's
    MySQL disaster-recovery setup; half the changes on table t0, so one
    apply lane is hot), then by another into the changelog sink
    (canal-json with images, 16 index-value partitions). It reaches the
    sink layers the replica feed never does."""

    FILES, ROWS = 2, 10_000
    #: the backlog's event-time rate (its ts span is ROWS*FILES/RATE s)
    RATE = 10_000.0
    HOT_SHARE = 0.5

    def __init__(self, work: str, seed: int):
        self.work = work
        src = os.path.join(work, "backlog")
        t0_us = 1_700_000_000 * 10**6
        self.files = [gen.write_events_file(
            src, f"part-{f:05d}.parquet",
            gen.events_table(seed, 2 * 10**8 + f * self.ROWS, self.ROWS,
                             t0_us + int(f * self.ROWS * 1e6 / self.RATE),
                             self.RATE, self.HOT_SHARE), 0.0)
            for f in range(self.FILES)]
        self.src, self.rows = src, self.FILES * self.ROWS
        self.changes = oracle.changes(
            oracle.read_events([f.path for f in self.files]))

    def measure(self, spark, tracer: tr.Tracer, out: Outcome) -> None:
        L = out.layer
        self.sqlite = new_feed(spark, os.path.join(self.work, "sqlite"),
                               self.src, "sqlite://?worker-count=4",
                               redo=True)
        tracer.wrap(self.sqlite.sink, "process_batch",
                    "sqlite_process_batch")
        tracer.wrap(self.sqlite.redo, "log_batch", "redo_log_batch")
        tracer.wrap(self.sqlite.redo, "mark_applied", "redo_mark_applied")
        L["sqlite_apply.drain_rows_s"], commits = drain(
            self.sqlite, self.rows, out)
        ch = self.changes
        lanes = ch.groupby(ch["table_id"] % self.sqlite.sink.n_lanes).size()
        L["sqlite_apply.rows_applied"] = sum(b.rows for b in commits)
        L["sqlite_apply.hot_lane_share"] = lanes.max() / self.rows
        L["sqlite_apply.db_bytes_end"] = du(self.sqlite.sink.db_dir)
        L["redo.bytes_per_row"] = du(self.sqlite.redo.row_dir) / self.rows

        self.changelog = new_feed(
            spark, os.path.join(self.work, "changelog"), self.src,
            "changelog://")
        tracer.wrap(self.changelog.sink, "process_batch",
                    "changelog_process_batch")
        L["sinks.changelog_drain_rows_s"], _ = drain(
            self.changelog, self.rows, out)
        out_dir = self.changelog.sink.out_dir
        L["sinks.output_bytes_per_row"] = du(out_dir) / self.rows
        L["sinks.output_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(out_dir)
            for f in fs)
        incl = {n: sum(s.end - s.start for s in tracer.by_name(n))
                for n in ("sqlite_process_batch", "redo_log_batch",
                          "redo_mark_applied", "changelog_process_batch")}
        L["sqlite_apply.process_batch_s"] = incl["sqlite_process_batch"]
        L["redo.log_batch_s"] = incl["redo_log_batch"]
        L["redo.mark_applied_s"] = incl["redo_mark_applied"]
        L["sinks.changelog_process_batch_s"] = \
            incl["changelog_process_batch"]

    def check(self, spark) -> tuple[int, int]:
        """(checks attempted, checks failed): SQLite state against the
        last-writer-wins oracle; redo checkpoint_ts == resolved_ts == the
        newest commit_ts; the changelog holds exactly one canal-json
        message per change, on its table's topic, with the change's type."""
        import pyarrow.dataset as ds

        ch = self.changes
        got = self.sqlite.sink.read_state(spark).toPandas()
        cols = ["table_id", "pk", "event_type", "value_cents"]
        bad = int(oracle.state_mismatches(
            oracle.last_writer_wins(ch), got, cols) > 0)
        meta = self.sqlite.redo.meta()
        bad += int(not (meta["checkpoint_ts"] == meta["resolved_ts"]
                        == int(ch["commit_ts"].max())))
        log = ds.dataset(self.changelog.sink.out_dir, format="parquet",
                         partitioning="hive").to_table().to_pandas()
        bad += int(not oracle.changelog_matches(ch, log))
        return 3, bad


class ReplicaSteady:
    """Open loop at a fixed rate into the replica sink, a file every
    INTERVAL_S seconds, lag timed from each change's due time. Traced
    runs then land a burst, compact the replica once and drain a
    :class:`Backlog` through the other sinks."""

    name = "replica_steady"
    RATE = 2000
    #: a file lands every INTERVAL_S seconds, so a batch's size follows
    #: its duration closely instead of in whole seconds
    INTERVAL_S = 0.25
    LEAD_S = 2
    GRACE_S = 30
    #: traced runs: after the window a backlog of BURST changes lands at
    #: once, and the feed's catch-up rate is reported per layer
    BURST = 20_000
    WARM_ROWS = 5000
    #: a batch absorbs every file that arrived while the last one ran.
    #: Syncpoint stays off: Bookkeeping.record raises "Illegal sequence
    #: boundaries" for any micro-batch whose commit range crosses no
    #: syncpoint boundary, which most steady batches do (see NOTES.md).
    CFG = {"max_files_per_trigger": 1000}

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.backlog = None

    def make_inputs(self) -> None:
        # a warm-up file is the size of a batch in the window, so the
        # set-ups run the merge's loops as often as the window does
        n = self.WARM_ROWS
        self.warm_tables = [
            gen.events_table(self.seed, 10**9 + i * n, n,
                             (1_600_000_000 + i * 10) * 10**6, n / 10, None)
            for i in range(SETUP_REPEATS)]

    def setup(self, spark) -> None:
        """Warm-up: one more file lands and the warm-up feed resumes from
        its checkpoint to apply it. The first set-up creates the sink's
        state; the later ones apply onto existing state, the path the
        window exercises."""
        src = os.path.join(self.work, "warm-src")
        k = len(os.listdir(src)) if os.path.isdir(src) else 0
        gen.write_events_file(src, f"part-{k:05d}.parquet",
                              self.warm_tables[k], 0.0)
        new_feed(spark, os.path.join(self.work, "warm-feed"), src,
                 "replica://", **self.CFG).run_to_completion(timeout_s=120)

    @staticmethod
    def instrument(cf, tracer: tr.Tracer | None) -> None:
        """Wrap the feed's public layer calls in spans (traced runs)."""
        if tracer is None:
            return
        tracer.wrap(cf, "_foreach_batch", "foreach_batch")
        tracer.wrap(cf.sink, "process_batch", "process_batch")
        tracer.wrap(cf.bookkeeping, "record", "bookkeeping")
        tracer.wrap(cf.sink, "compact", "compact")

    def measure(self, spark, tracer) -> Outcome:
        out = Outcome()
        src = os.path.join(self.work, "steady-src")
        n_files = int((self.LEAD_S + self.seconds) / self.INTERVAL_S)
        t0 = time.time() + 1.0
        first = gen.events_table(
            self.seed, 0, int(self.RATE * self.INTERVAL_S),
            int((t0 - self.INTERVAL_S) * 1e6), self.RATE, None)
        files = [gen.write_events_file(src, "part-00000.parquet", first,
                                       time.time())]
        cf = new_feed(spark, os.path.join(self.work, "feed"), src,
                      "replica://", **self.CFG)
        self.instrument(cf, tracer)
        if tracer is not None:
            self._track_state(cf)
        q = cf.start(available_now=False)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "steady", src,
             str(self.seed), str(self.RATE), repr(t0), str(n_files),
             str(self.INTERVAL_S)],
            stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(
                timeout=self.LEAD_S + self.seconds + 30)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        files += [gen.EventsFile(**json.loads(ln))
                  for ln in stdout.splitlines() if ln.strip()]
        self._drain(q, sum(f.rows for f in files))
        if tracer is not None:
            # the burst's events were due over the second before it lands
            now = time.time()
            files.append(gen.write_events_file(
                src, "part-burst.parquet",
                gen.events_table(self.seed, 10**8, self.BURST,
                                 int((now - 1) * 1e6), self.BURST, None),
                now))
            self._drain(q, sum(f.rows for f in files))
        total = sum(f.rows for f in files)
        q.stop()
        commits = tr.batch_commits(q.recentProgress)
        print("perfbench: batches (rows, s, commit - t0): " + " ".join(
            f"({b.rows}, {b.commit - b.start:.2f}, {b.commit - t0:.1f})"
            for b in commits), file=sys.stderr)
        applied = sum(b.rows for b in commits)
        out.attempted += len(commits) + 1
        out.failed += int(q.exception() is not None) + int(applied < total)
        lo, hi = t0 + self.LEAD_S, t0 + self.LEAD_S + self.seconds
        bmax = self.batch_max_ts(cf)
        # lag is a sawtooth that drops at each commit: take whole teeth,
        # from the first to the last commit inside the window, so a
        # partial tooth at either edge does not skew the quantiles
        inside = [b.commit for b in commits if lo <= b.commit <= hi]
        a, z = (inside[0], inside[-1]) if len(inside) >= 2 else (lo, hi)
        p50, p95 = tr.lag_quantiles(
            [(b.commit, bmax[b.batch_id]) for b in commits],
            t0 - self.INTERVAL_S, a, z, (0.5, 0.95))
        out.e2e["latency_p50_s"], out.e2e["latency_p95_s"] = p50, p95
        self.last, self.files = cf, files
        if tracer is not None:
            # the feed has stopped: compact once, the step the replica
            # runs every 16 commits, which a 12 s window never reaches
            cf.sink.compact(spark)
            self.backlog = Backlog(self.work, self.seed)
            self.backlog.measure(spark, tracer, out)
            self.layer_metrics(spark, tracer, commits, out)
            late = [f.written_s - f.due_s for f in files[1:-1]]
            # catch-up rate: the burst's rows over the time from its
            # landing to the commit of the batch that applied it
            if applied >= total:
                out.layer["stream.catchup_rows_s"] = self.BURST / (
                    commits[-1].commit - files[-1].written_s)
            out.layer["gen.late_s_max"] = max(late)
            out.layer["gen.rows"] = total
            out.layer["gen.files"] = len(files)
            out.layer["sinks.state_bytes_peak"] = max(self._state_sizes)
            out.layer["sinks.state_bytes_end"] = du(cf.sink.state_dir)
        return out

    @staticmethod
    def batch_max_ts(cf) -> dict[int, float]:
        """Newest commit_ts (seconds) per micro-batch, from the feed's
        own progress bookkeeping, read after the run."""
        t = pq.read_table(cf.bookkeeping.progress_dir).to_pandas()
        return (t.groupby("batch_id")["resolved_ts"].max() / 1e6).to_dict()

    @staticmethod
    def layer_metrics(spark, tracer, commits, out) -> None:
        """Per-layer metrics of the measured replica feed, from its first
        trigger to its last commit."""
        lo, hi = commits[0].start, commits[-1].commit
        L = out.layer
        for key, metric in (("latestOffset", "stream.latest_offset_s"),
                            ("getBatch", "stream.get_batch_s"),
                            ("queryPlanning", "stream.query_planning_s"),
                            ("walCommit", "stream.wal_commit_s"),
                            ("addBatch", "stream.add_batch_s")):
            L[metric] = sum(b.durations.get(key, 0) for b in commits) / 1e3
        busy = sum(b.durations.get("triggerExecution", 0)
                   for b in commits) / 1e3
        L["stream.idle_s"] = max(0.0, (hi - lo) - busy)
        L["stream.batches"] = len(commits)
        L["stream.rows_per_batch_p50"] = statistics.median(
            [b.rows for b in commits])
        selfs = tr.self_time_by_name(tracer.spans)
        L["stream.foreach_batch_self_s"] = selfs.get("foreach_batch", 0.0)
        L["sinks.merge_s"] = selfs.get("process_batch", 0.0)
        for name, metric in (("process_batch", "sinks.process_batch_s"),
                             ("bookkeeping", "sinks.bookkeeping_s"),
                             ("compact", "sinks.compact_s")):
            L[metric] = sum(s.end - s.start for s in tracer.by_name(name))
        L["sinks.compact_calls"] = len(tracer.by_name("compact"))
        jobs = tr.read_jobs(spark.sparkContext)
        mine = [j for j in jobs if lo <= j.start <= hi]
        L["spark.jobs_per_batch"] = len(mine) / len(commits)
        L["spark.idle_between_jobs_s"] = tr.idle_between_jobs(jobs, lo, hi)
        for f, v in tr.sum_stages(mine).items():
            if f != "input_records":
                L[f"spark.{f}"] = v
        per_span = tr.jobs_by_span(tracer, jobs)
        for n in SPANS:
            agg = tr.sum_stages(per_span.get(n, []))
            L[f"spark.{n}.executor_run_s"] = agg["executor_run_s"]
            L[f"spark.{n}.shuffle_write_bytes"] = agg["shuffle_write_bytes"]

    def _drain(self, q, rows: int) -> None:
        """Wait until the feed has read ``rows`` rows, or the grace ends."""
        deadline = time.time() + self.GRACE_S
        while time.time() < deadline and q.exception() is None:
            if sum(p["numInputRows"] for p in q.recentProgress) >= rows:
                return
            time.sleep(0.1)

    def _track_state(self, cf) -> None:
        """Record the replica's on-disk size after every merge."""
        self._state_sizes = [0]
        inner = cf.sink.process_batch

        def tracked(*a, **kw):
            try:
                return inner(*a, **kw)
            finally:
                self._state_sizes.append(du(cf.sink.state_dir))

        cf.sink.process_batch = tracked

    def check(self, spark) -> tuple[int, int]:
        """(checks attempted, checks failed): the replica against the
        last-writer-wins oracle, plus the backlog's checks if it ran."""
        from tigate_spark.streaming.sinks import read_replica

        want = oracle.last_writer_wins(oracle.changes(
            oracle.read_events([f.path for f in self.files])))
        got = read_replica(spark, self.last.sink.state_dir).toPandas()
        cols = ["table_id", "pk", "commit_ts", "seq", "event_type",
                "value_cents", "user_id"]
        n, bad = 1, int(oracle.state_mismatches(want, got, cols) > 0)
        if self.backlog is not None:
            n2, bad2 = self.backlog.check(spark)
            n, bad = n + n2, bad + bad2
        return n, bad


# --------------------------------------------------------------------------
# catalog workload
# --------------------------------------------------------------------------
class LlmBatch:
    """The 13 headline catalog entries into the noop sink: builds in
    set-up, one untimed warm-up pass, then round-robin timed passes in a
    seeded order."""

    name = "llm_batch"
    SF = 0.01

    def __init__(self, work: str, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tables = os.path.join(work, "tables")

    def make_inputs(self) -> None:
        gen.write_tables(self.tables, self.seed, self.SF)

    def setup(self, spark) -> None:
        """Build the 13 DataFrames (the warm-up pass runs once, in
        ``measure``: see NOTES.md for why it is not repeated)."""
        from tigate_spark.catalog import get_catalog

        cat = get_catalog()
        t0 = time.monotonic()
        self.dfs = {n: cat[n].builder(spark, self.tables) for n in HEADLINE}
        self.build_s = time.monotonic() - t0

    def warm_up(self) -> float:
        """The untimed warm-up pass, WARM_THREADS entries at a time. It
        collects every result, so these are what the oracle check
        compares (a collect warms the same plans a noop write does).
        Returns its duration."""
        def collect(n):
            try:
                return self.dfs[n].toPandas()
            except Exception:  # an erroring entry fails its check
                return None

        t0 = time.monotonic()
        with ThreadPoolExecutor(WARM_THREADS) as ex:
            self.results = dict(zip(HEADLINE, ex.map(collect, HEADLINE)))
        return time.monotonic() - t0

    def measure(self, spark, tracer) -> Outcome:
        out = Outcome()
        warmup_s = self.warm_up()
        sc = spark.sparkContext
        rng = np.random.default_rng(self.seed)
        samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
        passes, w_begin = [], time.time()
        # two passes, then more while the next one fits in the window
        while len(passes) < 2 or (time.time() - w_begin
                                  + passes[-1] <= self.seconds):
            p0 = time.monotonic()
            for n in rng.permutation(HEADLINE):
                sp = tracer.begin(f"catalog.{n}") if tracer else None
                t = time.monotonic()
                try:
                    self.dfs[n].write.format("noop").mode("overwrite").save()
                except Exception:  # an erroring entry is a failure
                    out.failed += 1
                samples[n].append(time.monotonic() - t)
                out.attempted += 1
                if sp:
                    tracer.end(sp)
            passes.append(time.monotonic() - p0)
        print(f"perfbench: passes {[round(p, 2) for p in passes]} s",
              file=sys.stderr)
        # latency is a whole pass's time, so every entry counts in it
        out.e2e["latency_p50_s"] = statistics.median(passes)
        out.e2e["latency_p95_s"] = tr.quantile(passes, 0.95)
        if tracer is not None:
            L = out.layer
            med = {n: statistics.median(samples[n]) for n in HEADLINE}
            L["catalog.headline_total_s"] = sum(med.values())
            L["catalog.build_s"] = self.build_s
            L["catalog.warmup_s"] = warmup_s
            per_span = tr.jobs_by_span(tracer, tr.read_jobs(sc))
            timed = [j for n in HEADLINE
                     for j in per_span.get(f"catalog.{n}", [])]
            L["catalog.input_rows_s"] = (
                tr.sum_stages(timed)["input_records"] / sum(passes))
            for n in HEADLINE:
                agg = tr.sum_stages(per_span.get(f"catalog.{n}", []))
                L[f"catalog.{n}_s"] = med[n]
                L[f"catalog.{n}.shuffle_write_bytes"] = \
                    agg["shuffle_write_bytes"]
                L[f"catalog.{n}.peak_exec_mem_bytes"] = \
                    agg["peak_exec_mem_bytes"]
            L["spark.jobs_per_batch"] = len(timed) / len(passes)
            L["spark.idle_between_jobs_s"] = tr.idle_between_jobs(
                timed, w_begin, w_begin + sum(passes))
            for f, v in tr.sum_stages(timed).items():
                if f != "input_records":
                    L[f"spark.{f}"] = v
        return out

    def check(self, spark) -> tuple[int, int]:
        from tigate_spark.catalog import get_catalog

        cat = get_catalog()
        con = oracle.duckdb_connection(self.tables, list(TABLES))
        try:
            bad = sum(
                self.results[n] is None or not oracle.catalog_matches(
                    con, cat[n].oracle, self.results[n])
                for n in HEADLINE)
        finally:
            con.close()
        return len(HEADLINE), bad


WORKLOADS = {w.name: w for w in (ReplicaSteady, LlmBatch)}
