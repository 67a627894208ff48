"""Independent output checks, run outside the timed window.

The replica and SQLite checks recompute the downstream state from the
generated files with pandas: the engine's documented change mapping
(table = user_id % 4, pk = event_id % 200, op from event_id % 10, txn
start = commit - (event_id % 97 + 1) ms) followed by last-writer-wins
under the total order (commit_ts, start_ts, D<U<I, seq), tombstones
dropped. The changelog check matches messages to changes one to one. The
catalog check runs each entry's DuckDB oracle.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

N_TABLES, N_KEYS = 4, 200
_OP_RANK = {"D": 0, "U": 1, "I": 2}
_CANAL_TYPE = {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}


def changes(events: pd.DataFrame) -> pd.DataFrame:
    """Events → canonical change rows (the columns the checks need)."""
    eid = events["event_id"].to_numpy()
    commit = events["ts"].astype("datetime64[us]").astype(np.int64)
    digit = eid % 10
    op = np.where(digit < 6, "I", np.where(digit < 9, "U", "D"))
    cents = events["value"].to_numpy() * 100
    return pd.DataFrame({
        "table_id": events["user_id"].to_numpy() % N_TABLES,
        "pk": eid % N_KEYS,
        "op": op,
        "commit_ts": commit.to_numpy(),
        "start_ts": commit.to_numpy() - (eid % 97 + 1) * 1000,
        "seq": eid,
        "event_type": events["event_type"].to_numpy(),
        "value_cents": (np.sign(cents) * np.floor(np.abs(cents) + 0.5))
        .astype(np.int64),
        "user_id": events["user_id"].to_numpy(),
    })


def read_events(paths: list[str]) -> pd.DataFrame:
    return pd.concat([pq.read_table(p).to_pandas() for p in paths],
                     ignore_index=True)


def last_writer_wins(ch: pd.DataFrame) -> pd.DataFrame:
    """Live state: the winning change per (table_id, pk) under
    (commit_ts, start_ts, D<U<I, seq), with deleted keys dropped."""
    ordered = ch.assign(op_rank=ch["op"].map(_OP_RANK)).sort_values(
        ["table_id", "pk", "commit_ts", "start_ts", "op_rank", "seq"])
    win = ordered.groupby(["table_id", "pk"], sort=False).tail(1)
    return win[win["op"] != "D"].drop(columns="op_rank")


def state_mismatches(expected: pd.DataFrame, actual: pd.DataFrame,
                     cols: list[str]) -> int:
    """Keys whose row differs (or exists on one side only)."""
    a = {tuple(r) for r in expected[cols].itertuples(index=False)}
    b = {tuple(r) for r in actual[cols].astype(expected[cols].dtypes)
         .itertuples(index=False)}
    return len(a ^ b)


def changelog_matches(ch: pd.DataFrame, log: pd.DataFrame) -> bool:
    """The changelog holds exactly one message per change, on the topic of
    the change's table, and each parses as canal-json carrying the
    change's table and type."""
    try:
        msgs = [json.loads(m) for m in log["message"]]
        got = sorted(zip(log["seq"], log["topic"],
                         (m["table"] for m in msgs),
                         (m["type"] for m in msgs)))
    except (ValueError, KeyError, TypeError):
        return False
    t = ch["table_id"].astype(str)
    return got == sorted(zip(ch["seq"], "app_t" + t, "t" + t,
                             ch["op"].map(_CANAL_TYPE)))


# --------------------------------------------------------------------------
# catalog entries vs DuckDB
# --------------------------------------------------------------------------
def _norm(pdf: pd.DataFrame) -> list[tuple]:
    """Columns by name, floats to 10 significant digits, nulls as NULL,
    rows sorted — the comparison the catalog's oracle tests use."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = []
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            cols.append(pdf[c].map(
                lambda v: "%.10g" % v if pd.notna(v) else "NULL"))
        else:
            cols.append(pdf[c].map(
                lambda v: "NULL" if v is None or v is pd.NA
                or (isinstance(v, float) and np.isnan(v)) else str(v)))
    return sorted(zip(*cols)) if cols else []


def duckdb_connection(tables_dir: str, names: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def catalog_matches(con, oracle_sql: str, spark_pdf: pd.DataFrame) -> bool:
    return _norm(spark_pdf) == _norm(con.execute(oracle_sql).df())
