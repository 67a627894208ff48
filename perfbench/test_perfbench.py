"""Fast checks of the benchmark's own logic, on toy inputs (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure as tr  # noqa: E402
import oracle  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_byte_identical_per_seed(tmp_path):
    def write(d, seed):
        tbl = gen.events_table(seed, 0, 500, 1_700_000_000 * 10**6, 1000.0,
                               0.5)
        f = gen.write_events_file(str(tmp_path / d), "part-0.parquet", tbl,
                                  0.0)
        gen.write_tables(str(tmp_path / d / "tables"), seed, 0.001)
        return f

    a, b, c = write("a", 7), write("b", 7), write("c", 8)
    assert _bytes(a.path) == _bytes(b.path) != _bytes(c.path)
    for t in os.listdir(tmp_path / "a" / "tables"):
        assert (_bytes(str(tmp_path / "a" / "tables" / t))
                == _bytes(str(tmp_path / "b" / "tables" / t)))
    assert a.rows == 500 and a.first_id == 0
    assert a.max_ts_us == 1_700_000_000 * 10**6 + 499_000
    # the temp name is gone once the rename made the file visible
    assert sorted(os.listdir(tmp_path / "a")) == ["part-0.parquet", "tables"]


def test_generator_hot_share():
    tbl = gen.events_table(1, 0, 20_000, 0, 1000.0, 0.5).to_pandas()
    share = (tbl["user_id"] % 4 == 0).mean()
    assert 0.48 < share < 0.52
    uniform = gen.events_table(1, 0, 20_000, 0, 1000.0, None).to_pandas()
    assert 0.23 < (uniform["user_id"] % 4 == 0).mean() < 0.27


def _progress(batch_id, start, trigger_ms, rows):
    ts = pd.Timestamp(start, unit="s", tz="UTC")
    return {"batchId": batch_id, "numInputRows": rows,
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": 1}}


def test_lag_percentiles_from_progress_and_resolved_ts():
    # batches commit at t=1001, 1004, 1006 with newest commit_ts 999,
    # 1003, 1005; an idle trigger (0 rows) is ignored
    progress = [_progress(0, 1000.0, 1000, 10), _progress(1, 1003.0, 1000, 10),
                _progress(2, 1005.0, 1000, 10), _progress(3, 1006.5, 5, 0)]
    commits = tr.batch_commits(progress)
    assert [b.commit for b in commits] == [1001.0, 1004.0, 1006.0]
    resolved = {0: 999.0, 1: 1003.0, 2: 1005.0}
    pairs = [(b.commit, resolved[b.batch_id]) for b in commits]
    # over [1000, 1007] lag climbs 2->3, 2->5, 1->3, 1->2 (weights 1,3,2,1):
    # half the time it is below 2.5, 95% of the time below 4.65
    p50, p95 = tr.lag_quantiles(pairs, 998.0, 1000.0, 1007.0, (0.5, 0.95))
    assert p50 == pytest.approx(2.5) and p95 == pytest.approx(4.65)
    # a window after the last commit: lag climbs 1 -> 2 uniformly
    (mid,) = tr.lag_quantiles(pairs, 998.0, 1006.0, 1007.0, (0.5,))
    assert mid == pytest.approx(1.5)
    assert tr.quantile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_self_time_subtracts_nested_children():
    t = tr.Tracer("t")
    spans = [tr.Span(1, "outer", 0.0, None, "t", 0, 10.0),
             tr.Span(2, "a", 1.0, 1, "t", 1, 4.0),
             tr.Span(3, "b", 3.0, 1, "t", 1, 5.0),   # overlaps a
             tr.Span(4, "c", 2.0, 2, "t", 2, 3.0),   # inside a
             tr.Span(5, "d", 8.0, 1, "t", 1, 12.0)]  # runs past outer
    st = tr.self_times(spans)
    assert st == {1: 10.0 - 4.0 - 2.0, 2: 2.0, 3: 2.0, 4: 1.0, 5: 4.0}
    assert tr.self_time_by_name(spans)["outer"] == 4.0
    # live spans: begin/end keep the parent chain and depth
    o = t.begin("outer")
    i = t.begin("inner")
    t.end(i)
    t.end(o)
    assert (i.parent, i.depth, o.parent) == (o.id, 1, None)


def test_idle_between_jobs_is_uncovered_wall_time():
    jobs = [tr.JobInfo(1, frozenset(), 1.0, 3.0, {}),
            tr.JobInfo(2, frozenset(), 2.0, 4.0, {}),
            tr.JobInfo(3, frozenset(), 6.0, 20.0, {})]
    assert tr.idle_between_jobs(jobs, 0.0, 10.0) == 10.0 - 3.0 - 4.0


def _events(rows):
    return pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                       "event_type", "value"]).assign(
        ts=lambda d: pd.to_datetime(d["ts"], unit="us"))


def test_last_writer_wins_on_three_keys():
    # the engine derives pk = id % 200 and the op from id % 10 (<6 I,
    # <9 U, 9 D), so a key's op is fixed by its pk
    ev = _events([
        (201, 100, 0, "a", 1.00),    # t0/pk1 I at 100
        (1001, 300, 4, "b", 2.00),   # t0/pk1 I at 300: newest wins
        (401, 200, 8, "c", 3.00),    # t0/pk1 I at 200
        (7, 100, 1, "d", 5.50),      # t1/pk7 U at 100, txn start 8 ms before
        (207, 100, 5, "e", 6.00),    # t1/pk7 U at 100, start 14 ms before:
        #                              same commit_ts, the later start wins
        (9, 100, 0, "f", 7.00),      # t0/pk9 D: a deleted key is dropped
    ])
    live = oracle.last_writer_wins(oracle.changes(ev))
    got = {(r.table_id, r.pk): (r.event_type, r.value_cents)
           for r in live.itertuples()}
    assert got == {(0, 1): ("b", 200), (1, 7): ("d", 550)}


def test_state_mismatches_counts_both_sides():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [1, 1, 1]})
    b = pd.DataFrame({"k": [1, 2, 4], "v": [1, 2, 1]})
    assert oracle.state_mismatches(a, a, ["k", "v"]) == 0
    assert oracle.state_mismatches(a, b, ["k", "v"]) == 4


def test_changelog_matches_one_message_per_change():
    ch = oracle.changes(pd.DataFrame({
        "event_id": [3, 16, 29], "user_id": [4, 5, 6],
        "ts": pd.to_datetime([1, 2, 3], unit="s"),
        "value": [1.0, 2.0, 3.0], "event_type": ["a", "b", "c"]}))

    def msg(table, kind):
        return json.dumps({"table": table, "type": kind, "data": []})

    log = pd.DataFrame({
        "seq": [29, 3, 16], "topic": ["app_t2", "app_t0", "app_t1"],
        "message": [msg("t2", "DELETE"), msg("t0", "INSERT"),
                    msg("t1", "UPDATE")]})
    assert oracle.changelog_matches(ch, log)
    assert not oracle.changelog_matches(ch, log.iloc[:2])  # one missing
    assert not oracle.changelog_matches(ch, pd.concat([log, log.iloc[:1]]))
    wrong = log.assign(message=[msg("t2", "UPDATE")] + list(log.message[1:]))
    assert not oracle.changelog_matches(ch, wrong)
    assert not oracle.changelog_matches(ch, log.assign(message="{not json"))


def test_benchmark_json_lists_what_the_runner_prints():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert ({m["name"]: m["unit"] for m in spec["per_layer"]}
            == run.per_layer_units())
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_headline_is_the_catalogs_bench_set():
    sys.path.insert(0, os.path.dirname(HERE))
    import workloads
    from tigate_spark.catalog import get_catalog

    bench = {n for n, spec in get_catalog().items() if spec.bench}
    assert set(workloads.HEADLINE) == bench


def test_runner_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "replica_steady",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
