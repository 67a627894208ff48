"""Physical-plan audit helpers: assert the plans we ship are the plans we
mean (SURVEY §4 — the scale story is the plan, not the sf0.1 wall clock).

``plan_of`` renders the formatted physical plan; the ``assert_*`` helpers
pin the properties that matter at 100 TB:

- filters reach the parquet scan (``PushedFilters`` non-empty) — a scan
  that reads everything to filter later reads 100 TB;
- column pruning (``ReadSchema`` carries only referenced columns);
- small dims broadcast (``BroadcastHashJoin``), facts co-shuffle
  (``SortMergeJoin``/``ShuffledHashJoin``) — a broadcast that silently
  degrades to SMJ adds a 100 TB shuffle;
- expression work stays in whole-stage codegen (no ``BatchEvalPython``
  in the hot path — row-at-a-time Python is a 10-100× tax).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_of(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filters(df: DataFrame, *needles: str) -> str:
    """Assert the plan pushes at least one filter into a scan (and each
    ``needle`` column name appears in a PushedFilters clause)."""
    plan = plan_of(df)
    assert "PushedFilters: [" in plan, f"no pushed filters:\n{plan}"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(pushed)
    assert joined.replace("PushedFilters: []", "") .strip(), (
        f"PushedFilters empty:\n{plan}"
    )
    for needle in needles:
        assert any(needle in ln for ln in pushed), (
            f"filter on {needle!r} not pushed:\n{joined}"
        )
    return plan


def assert_broadcast_join(df: DataFrame, n_min: int = 1) -> str:
    """Assert at least ``n_min`` broadcast hash joins in the plan."""
    plan = plan_of(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= n_min, f"expected ≥{n_min} BroadcastHashJoin, got {n}:\n{plan}"
    return plan


def assert_shuffle_join(df: DataFrame) -> str:
    """Assert the big-side join co-shuffles (sort-merge or shuffled-hash)."""
    plan = plan_of(df)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
        f"no shuffle join in plan:\n{plan}"
    )
    return plan


def assert_no_python_in_plan(df: DataFrame) -> str:
    """Assert no row-at-a-time Python evaluation in the plan.

    Arrow-batched pandas stages (``ArrowEvalPython`` / ``MapInPandas`` /
    ``FlatMapGroupsInPandas``) are allowed — they are the sanctioned
    Python boundary; ``BatchEvalPython`` (pickled row loop) is not.
    """
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, (
        f"row-at-a-time Python UDF in plan:\n{plan}"
    )
    return plan


_EXCHANGE_HEADER = re.compile(r"^\(\d+\) Exchange$")
_BROADCAST_HEADER = re.compile(r"^\(\d+\) BroadcastExchange$")


def count_broadcast_exchanges(df: DataFrame) -> int:
    """Number of BroadcastExchange nodes (detail-section headers, one per
    node). With auto-broadcast disabled, every one of these is an explicit
    ``F.broadcast()`` hint — the gate for "no SF-proportional relation is
    force-broadcast" asserts this equals the count of bounded-dim hints."""
    return sum(
        1
        for raw in plan_of(df).splitlines()
        if _BROADCAST_HEADER.match(raw.strip())
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of *data* shuffle exchanges in the plan.

    Formatted explain renders each node once in the tree ("+- Exchange (4)")
    and once as a detail-section header ("(4) Exchange" followed by an
    "Arguments:" line). We count the detail headers — one per node, no
    indentation ambiguity — and use the Arguments line to drop the two
    non-data-shuffle kinds:

    - ``SinglePartition`` — the one-row final-agg / global-sort coalesce;
    - broadcast distribution — dim-sized, not fact-sized, movement
      (``BroadcastExchange`` has its own header and never matches, but the
      guard also covers ``Exchange`` with a broadcast distribution).
    """
    lines = plan_of(df).splitlines()
    n = 0
    for i, raw in enumerate(lines):
        if not _EXCHANGE_HEADER.match(raw.strip()):
            continue
        args = ""
        for follow in lines[i + 1 : i + 6]:
            if follow.strip().startswith("Arguments:"):
                args = follow
                break
        if "SinglePartition" in args or "broadcast" in args.lower():
            continue
        n += 1
    return n


def count_data_exchanges(df: DataFrame) -> int:
    """Like :func:`count_exchanges`, but additionally ignoring explicit
    round-robin ``repartition(n)`` fan-outs (``REPARTITION_BY_NUM``).

    The r17 adaptive scan fan-out (``sources.batch.fan_out_if_small``) inserts
    one of these on provably-small inputs so a one-file scan does not
    serialize the whole pipeline into a single task; it is a no-op at lake
    scale. Zero-exchange design gates ("encode/decode is row-local, no
    data-dependency shuffle") should count *data* exchanges — exchanges
    required by the operator's dataflow — and not fail on the fan-out.
    """
    lines = plan_of(df).splitlines()
    n = 0
    for i, raw in enumerate(lines):
        if not _EXCHANGE_HEADER.match(raw.strip()):
            continue
        args = ""
        for follow in lines[i + 1 : i + 6]:
            if follow.strip().startswith("Arguments:"):
                args = follow
                break
        if (
            "SinglePartition" in args
            or "broadcast" in args.lower()
            or ("RoundRobinPartitioning" in args and "REPARTITION_BY_NUM" in args)
        ):
            continue
        n += 1
    return n
