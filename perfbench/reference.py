"""Independent pandas reference for the replicated downstream state.

Restates the drainer contract directly over the whole generated stream,
without any of the program's code:

- per source, in arrival order, an event whose commit_ts is not above
  the source's running max is disorder and is quarantined;
- an event whose commit_ts was already seen (earlier arrival) is a
  duplicate and is skipped;
- FAKE heartbeats never reach the sink;
- the survivors apply in global commit-ts order, and per (tbl, pk) the
  last image wins: a final D removes the row, anything else leaves
  (pk, val) in place (safe mode turns I into REPLACE and U into
  DELETE + REPLACE).

The program classifies each micro-batch on its own and carries no
order state across batches. The two agree because of the generator's
segment invariant (``gen.py``): segment k's commit_ts range lies above
every earlier segment's, and late and duplicate events collide only
inside their own segment, so whole-stream and per-segment
classification give the same labels (``tests/test_perfbench.py``
checks this). A generator change that breaks the invariant makes the
reference and the program disagree.
"""

from __future__ import annotations

import os
import sqlite3

import numpy as np
import pandas as pd


def events_frame(tables) -> pd.DataFrame:
    """The generated segments (Arrow tables) as one pandas frame."""
    import pyarrow as pa
    return pa.concat_tables(tables).to_pandas()


def classify(events: pd.DataFrame) -> pd.Series:
    """'ok' / 'disorder' / 'duplicate' per row, ``events`` in any order."""
    ev = events.sort_values("arrival_seq", kind="stable")
    prev_max = (ev.groupby("source_id")["commit_ts"].cummax()
                .groupby(ev["source_id"]).shift(1))
    dup = ev.duplicated("commit_ts", keep="first")
    status = np.where(dup, "duplicate",
                      np.where(prev_max.notna()
                               & (ev["commit_ts"] <= prev_max),
                               "disorder", "ok"))
    return pd.Series(status, index=ev.index).reindex(events.index)


def expected_state(events: pd.DataFrame) -> pd.DataFrame:
    """(tbl, pk, val) rows the downstream must hold after the stream."""
    status = classify(events)
    live = events[(status == "ok") & (events["op"] != "FAKE")]
    last = (live.sort_values("commit_ts", kind="stable")
            .drop_duplicates(["tbl", "pk"], keep="last"))
    last = last[last["op"] != "D"]
    return last[["tbl", "pk", "val"]].reset_index(drop=True)


def read_downstream(db_path: str, tables) -> pd.DataFrame:
    frames = []
    conn = sqlite3.connect(db_path)
    try:
        for t in tables:
            df = pd.read_sql_query(f"SELECT pk, val FROM `{t}`", conn)
            df.insert(0, "tbl", t)
            frames.append(df)
    finally:
        conn.close()
    return pd.concat(frames, ignore_index=True)


def mismatch_rows(expected: pd.DataFrame, actual: pd.DataFrame) -> int:
    """Rows present on one side only, plus rows whose val differs."""
    m = expected.merge(actual, on=["tbl", "pk"], how="outer",
                       suffixes=("_exp", "_act"), indicator=True)
    one_sided = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    differ = int((~np.isclose(both["val_exp"].astype(float),
                              both["val_act"].astype(float),
                              rtol=0.0, atol=1e-9)).sum())
    return one_sided + differ


def check_sink(events: pd.DataFrame, db_dir: str, tables) -> int:
    from_sink = read_downstream(os.path.join(db_dir, "downstream.db"),
                                tables)
    return mismatch_rows(expected_state(events), from_sink)
