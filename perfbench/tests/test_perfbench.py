"""Tests of the benchmark's own parts: generator, reference checker and
percentile helper. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sqlite3
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import measure  # noqa: E402
import reference  # noqa: E402


def _stream(seed=7, n_segments=6, n=600):
    return gen.make_stream(seed, n_segments, n)


def test_generator_is_deterministic_per_seed():
    a, b = _stream(seed=7), _stream(seed=7)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert gen.content_hash(_stream(seed=8)) != gen.content_hash(a)


def test_generator_shape():
    ev = reference.events_frame(_stream(n_segments=4, n=5000))
    data = ev[ev["op"] != "FAKE"]
    shares = data["op"].value_counts(normalize=True)
    for op, share in gen.OP_MIX:
        assert abs(shares[op] - share) < 0.02
    assert set(data["tbl"]) == set(gen.TABLES)
    assert (data["db"] + "_" == data["tbl"].str[:4]).all()
    # one FAKE heartbeat per source per segment
    assert (ev["op"] == "FAKE").sum() == 4 * gen.N_SOURCES
    status = reference.classify(ev)
    assert 0.005 < (status == "duplicate").mean() < 0.015
    assert 0.005 < (status == "disorder").mean() < 0.015


def test_late_and_duplicate_events_stay_in_their_segment():
    tables = _stream()
    lo_hi = [(t["commit_ts"].to_pandas().min(), t["commit_ts"].to_pandas().max())
             for t in tables]
    # segment commit_ts ranges are disjoint and increasing
    assert all(lo_hi[k][1] < lo_hi[k + 1][0] for k in range(len(lo_hi) - 1))
    frames = [t.to_pandas().assign(seg=k) for k, t in enumerate(tables)]
    whole = pd.concat(frames, ignore_index=True)
    # every duplicate copies a commit_ts first seen in its own segment
    first_seg = (whole.sort_values("arrival_seq")
                 .drop_duplicates("commit_ts").set_index("commit_ts")["seg"])
    dups = whole[whole.duplicated("commit_ts", keep="first")]
    assert len(dups) > 0
    assert (dups["commit_ts"].map(first_seg) == dups["seg"]).all()
    # whole-stream classification == each segment classified alone, so
    # any grouping of whole segments into micro-batches agrees with the
    # reference
    per_segment = pd.concat([reference.classify(f) for f in frames],
                            ignore_index=True)
    assert (reference.classify(whole) == per_segment).all()
    assert (per_segment == "disorder").sum() > 0


def _write_sink(path, state: pd.DataFrame) -> None:
    conn = sqlite3.connect(path)
    try:
        for ddl in gen.table_ddl():
            conn.execute(ddl)
        for row in state.itertuples(index=False):
            conn.execute(f"INSERT INTO `{row.tbl}` (pk, val) VALUES (?, ?)",
                         (int(row.pk), float(row.val)))
        conn.commit()
    finally:
        conn.close()


@pytest.mark.parametrize("perturb", ["val", "drop", "extra"])
def test_reference_flags_a_perturbed_downstream_row(tmp_path, perturb):
    ev = reference.events_frame(_stream(n_segments=3, n=800))
    expected = reference.expected_state(ev)
    _write_sink(tmp_path / "downstream.db", expected)
    assert reference.check_sink(ev, str(tmp_path), gen.TABLES) == 0

    conn = sqlite3.connect(tmp_path / "downstream.db")
    row = expected.iloc[len(expected) // 2]
    if perturb == "val":
        conn.execute(f"UPDATE `{row.tbl}` SET val = val + 0.5 WHERE pk = ?",
                     (int(row.pk),))
    elif perturb == "drop":
        conn.execute(f"DELETE FROM `{row.tbl}` WHERE pk = ?", (int(row.pk),))
    else:
        conn.execute(f"INSERT INTO `{row.tbl}` (pk, val) VALUES (?, 1.0)",
                     (10 ** 9,))
    conn.commit()
    conn.close()
    assert reference.check_sink(ev, str(tmp_path), gen.TABLES) == 1


def test_reference_last_image_and_quarantine():
    cols = ["arrival_seq", "source_id", "commit_ts", "op", "tbl", "pk", "val"]
    ev = pd.DataFrame([
        (0, "s0", 10, "I", "t", 1, 1.0),
        (1, "s0", 20, "U", "t", 1, 2.0),
        (2, "s1", 20, "U", "t", 1, 9.0),    # duplicate commit_ts: skipped
        (3, "s0", 15, "U", "t", 1, 8.0),    # disorder on s0: quarantined
        (4, "s1", 30, "I", "t", 2, 3.0),
        (5, "s1", 40, "D", "t", 2, 0.0),    # final D removes pk 2
        (6, "s2", 50, "FAKE", "t", 0, 0.0),
    ], columns=cols)
    got = reference.expected_state(ev)
    assert got.to_dict("records") == [{"tbl": "t", "pk": 1, "val": 2.0}]


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(60))
    value, pct, n = measure.tail_percentile(xs)
    assert (value, n) == (49, 60)
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 50 / 60)
    # 11 samples: only the lowest leaves 10 beyond
    assert measure.tail_percentile(range(11))[:2] == (0, pytest.approx(100 / 11))
    # 10 or fewer: no percentile qualifies
    assert measure.tail_percentile(range(10))[:2] == (None, None)


def test_tail_percentile_steps_below_ties():
    # the top 12 samples tie: only values below the tie leave 10 beyond
    xs = list(range(20)) + [99] * 12
    value, pct, n = measure.tail_percentile(xs)
    assert value == 19 and n == 32
    assert sum(1 for x in xs if x > value) >= 10
    assert measure.tail_percentile([5.0] * 40)[:2] == (None, None)
