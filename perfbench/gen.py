"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical parquet files. The program under test only ever sees the
files; the generator's own bookkeeping (due times, row counts, max ts)
stays on the benchmark side.

Two families:

- :func:`write_events_file` writes one file of the ``events`` schema
  (``event_id, ts, user_id, event_type, value, props``) that the
  changefeed file source reads. It writes under a hidden temp name and
  renames, so the file source never lists a partial file.
- :func:`write_tables` writes the star-schema tables the headline catalog
  entries read, shaped like the engine's fixture data (same columns,
  types and value domains) at a chosen scale factor.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
#: user ids span 0..USERS-1; the engine maps table_id = user_id % 4
USERS = 1500
N_TABLES = 4

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass(frozen=True)
class EventsFile:
    """What the generator knows about one written file."""

    path: str
    first_id: int
    rows: int
    due_s: float  # wall-clock (epoch seconds) the file was due to land
    max_ts_us: int
    written_s: float  # wall-clock when the rename made it visible


def events_table(seed: int, first_id: int, rows: int, t0_us: int,
                 rate: float, hot_share: float | None) -> pa.Table:
    """``rows`` events with ids ``first_id..``; event i is stamped
    ``t0_us + i / rate`` seconds (its due time). ``hot_share`` is the
    fraction of events on table t0 (None: uniform over the 4 tables)."""
    rng = np.random.default_rng([seed, first_id])
    i = np.arange(rows, dtype=np.int64)
    ts = t0_us + (i * 1_000_000) // max(int(rate), 1)
    if hot_share is None:
        user = rng.integers(0, USERS, rows)
    else:
        base = rng.integers(0, USERS // N_TABLES, rows) * N_TABLES
        hot = rng.random(rows) < hot_share
        user = np.where(hot, base, base + rng.integers(1, N_TABLES, rows))
    cents = rng.integers(0, 50_000, rows)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, rows)
                                    .astype(str)), "}")
    return pa.table({
        "event_id": pa.array(first_id + i, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)]),
        # whole cents, so value * 100 rounds unambiguously on every engine
        "value": pa.array(cents / 100.0),
        "props": pa.array(props),
    }, schema=EVENTS_SCHEMA)


def write_events_file(out_dir: str, name: str, table: pa.Table,
                      due_s: float) -> EventsFile:
    """Write ``table`` as ``out_dir/name`` atomically (hidden temp name,
    then rename: the file source ignores names starting with '.')."""
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, name)
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    written = time.time()
    ts = table.column("ts").cast(pa.int64())
    return EventsFile(final, table.column("event_id")[0].as_py(),
                      table.num_rows, due_s, int(pc.max(ts).as_py()),
                      written)


# --------------------------------------------------------------------------
# star-schema tables for the catalog workload
# --------------------------------------------------------------------------
_EPOCH = dt.datetime(1995, 1, 1)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_WORDS = np.array(
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join vector customer".split())
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                   "STANDARD"])
_ADJ = np.array(["large", "hot", "blue", "small", "red", "cold", "dark",
                 "shiny"])
_NOUN = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw",
                  "spring"])


def _cents(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's input tables at scale ``sf`` (0.1 matches the
    fixture's row counts: 600k lineitem, 150k orders)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_supp = max(int(10_000 * sf), 25)
    n_part = max(int(200_000 * sf), 50)
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(20_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 1000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, n_cust, -99_999, 1_000_000),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, n_supp, -99_999, 1_000_000),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(_ADJ[rng.integers(0, 8, n_part)],
                                          " "),
                              _NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": _TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, n_part, 90_000, 100_000),
    })
    odays = rng.integers(0, 2405, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, n_ord, 100_000, 50_000_000),
        "o_orderdate": pa.array(np.datetime64(_EPOCH, "us")
                                + odays.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * rng.integers(90_000, 210_000, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            np.datetime64(_EPOCH, "us")
            + (np.repeat(odays, lines)
               + rng.integers(1, 122, n_li)).astype("timedelta64[D]"),
            pa.timestamp("us")),
    })
    t["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    t["events"] = events_table(seed, 0, n_ev, 1_704_067_200 * 1_000_000,
                               n_ev / (30 * 86_400), None)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents with planted duplicates: ~1% exact copies
    and ~5% near-copies (a few words swapped), so the dedup entries find
    real candidate pairs."""
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 80))
        texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]))
    for j in range(n):
        r = rng.random()
        if r < 0.01 and j:
            texts[j] = texts[int(rng.integers(0, j))]
        elif r < 0.06 and j:
            words = texts[int(rng.integers(0, j))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(
                    _WORDS[rng.integers(0, len(_WORDS))])
            texts[j] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``out_dir/<name>.parquet`` (one file each,
    like the fixture)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def steady(out_dir: str, seed: int, rate: int, t0: float, files: int,
           interval: float) -> None:
    """Open-loop generator: file k (1..files) holds the events due in
    [t0+(k-1)*interval, t0+k*interval) and is written at t0+k*interval,
    whatever the consumer is doing. One JSON line per file goes to
    stdout."""
    rows = int(rate * interval)
    # build every table up front, so the schedule only pays for the writes
    tables = [events_table(seed, k * rows, rows,
                           int((t0 + (k - 1) * interval) * 1e6), rate, None)
              for k in range(1, files + 1)]
    for k, tbl in enumerate(tables, 1):
        due = t0 + k * interval
        time.sleep(max(0.0, due - time.time()))
        f = write_events_file(out_dir, f"part-{k:05d}.parquet", tbl, due)
        print(json.dumps(asdict(f)), flush=True)


if __name__ == "__main__":
    if len(sys.argv) != 8 or sys.argv[1] != "steady":
        sys.exit("usage: gen.py steady OUT_DIR SEED RATE T0 FILES INTERVAL")
    steady(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
           float(sys.argv[5]), int(sys.argv[6]), float(sys.argv[7]))
