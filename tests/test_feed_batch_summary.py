"""One aggregate and one shuffle per replica micro-batch.

The changefeed collects the batch's per-table summary first and hands it
to the sink as ``summary=``: the replica takes its touched tables from it
instead of a second aggregate, and merges the batch as it arrives, so the
merge's exchange is the only shuffle of its rows. A DDL barrier's sub-batch
may touch fewer tables than the batch, so it gets no summary; handing it
the whole batch's would commit manifest rows for tables it wrote no
state for.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tigate_spark.config import ChangefeedConfig
from tigate_spark.operators.apply import materialize
from tigate_spark.sources.changes import normalize_events
from tigate_spark.streaming.changefeed import PAYLOAD_COLS, Changefeed
from tigate_spark.streaming.ddl import DDLEvent
from tigate_spark.streaming.sinks import read_replica

pytestmark = pytest.mark.slow


def test_replica_batch_runs_one_aggregate_and_one_shuffle(
        spark, chunked_source, tmp_path, monkeypatch):
    """After the first batch, every replica micro-batch runs at most 5
    Spark jobs, and the executed plan of its merge write holds exactly
    one exchange (none inside the cached batch, none above the union)."""
    from pyspark.sql.readwriter import DataFrameWriter

    cfg = ChangefeedConfig(changefeed_id="cf-one-shuffle",
                           sink_uri="replica://")
    cf = Changefeed(spark, cfg, chunked_source, str(tmp_path))
    data_dir = os.path.join(cf.sink.state_dir, "data")
    plans = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if str(path).startswith(data_dir):
            plans.append(
                self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = []
    inner = cf._foreach_batch

    def counted(batch_df, batch_id):
        j0 = dag.nextJobId()
        inner(batch_df, batch_id)
        jobs.append(dag.nextJobId() - j0)

    cf._foreach_batch = counted
    assert cf.run_to_completion() == 4
    assert len(jobs) == 4 and all(j <= 5 for j in jobs[1:]), jobs
    # one merge write per batch; a batch after the first unions state in
    assert len(plans) == 4
    for plan in plans[1:]:
        assert "Union" in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert "REPARTITION_BY_COL" not in plan, plan


@pytest.fixture()
def barrier_feed(spark, sf_dir, tmp_path):
    """Two files split at the median commit_ts, and the ts of a DDL due
    inside the second batch: the changes of that batch before it all
    belong to one table, the ones from it on to several, among them a
    table the first batch left out, so it has no state yet."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ch = normalize_events(ev)
    mid = ch.selectExpr("percentile_approx(commit_ts, 0.5)").first()[0]
    later = (ch.filter(ch.commit_ts >= mid).orderBy("commit_ts", "seq")
             .select("table_id", "commit_ts").collect())
    first_table = later[0][0]
    barrier, new_table = next((ts, t) for t, ts in later if t != first_table)
    assert barrier > later[0][1]
    ch = ch.filter((ch.commit_ts >= mid) | (ch.table_id != new_table))
    src = str(tmp_path / "src")
    for i, cond in enumerate((ch.commit_ts < mid, ch.commit_ts >= mid)):
        out = str(tmp_path / f"chunk-{i}")
        keep = ch.filter(cond).select("seq")
        (ev.join(keep, ev.event_id == keep.seq, "left_semi")
         .coalesce(1).write.parquet(out))
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        os.makedirs(src, exist_ok=True)
        os.replace(part, os.path.join(src, f"{i:02d}.parquet"))
    return src, ch, first_table, new_table, barrier


def test_barrier_sub_batches_commit_only_their_tables(
        spark, tmp_path, barrier_feed):
    """A replica feed with an every-table DDL due mid-batch: the
    sub-batch before the barrier touches one table, the one after it
    several, one of them new. A whole batch is handed its summary, a
    sub-batch none, so each sub-batch commits manifest rows for its own
    tables only: every (table_id, version) manifest row has its state
    dir, and the replica equals last-writer-wins over every change."""
    src, ch, first_table, new_table, barrier = barrier_feed
    cfg = ChangefeedConfig(changefeed_id="cf-barrier-tables",
                           sink_uri="replica://")
    ddl = DDLEvent(commit_ts=barrier, table_id=None,
                   query="ALTER DATABASE app CHARSET utf8", schema_tag="v1")
    cf = Changefeed(spark, cfg, src, str(tmp_path / "feed"),
                    ddl_events=[ddl])
    calls = {}
    inner = cf.sink.process_batch

    def recorded(batch_df, batch_id, **kw):
        tables = {r[0] for r in
                  batch_df.select("table_id").distinct().collect()}
        calls[kw.get("fence") or f"b{batch_id}"] = (tables, kw.get("summary"))
        return inner(batch_df, batch_id, **kw)

    cf.sink.process_batch = recorded
    assert cf.run_to_completion() == 2
    assert cf._ddl_applied == {barrier}
    # a whole batch gets its summary; a sub-batch gets none
    tables, summary = calls["b0"]
    assert summary is not None and {r[0] for r in summary} == tables
    assert new_table not in tables
    assert calls["b1.s0"] == ({first_table}, None)
    tables, summary = calls["b1.s1"]
    assert summary is None and new_table in tables and len(tables) > 1

    state_dir = cf.sink.state_dir
    manifest = glob.glob(os.path.join(state_dir, "_manifest", "*.parquet"))
    assert len(manifest) == 3  # batch 0, then one version per sub-batch
    for f in manifest:
        for r in pq.read_table(f).to_pylist():
            assert os.path.isdir(os.path.join(
                state_dir, "data", f"v={r['version']}",
                f"table_id={r['table_id']}")), (f, r)

    got = read_replica(spark, state_dir).select(
        "table_id", "pk", "commit_ts", *PAYLOAD_COLS)
    exp = materialize(ch, PAYLOAD_COLS).select(
        "table_id", "pk", F.col("last_commit_ts").alias("commit_ts"),
        *PAYLOAD_COLS)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
