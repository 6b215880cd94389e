"""Every size gate of the engine, forced to each side, against the
DuckDB oracle.

A gate compares a measured value with one module constant, read at
call time, so a test forces a side by patching the constant. Each case
below patches a gate's constant to one side, runs the registry queries
that gate guards at sf0.01, compares each with its ``oracle_sql()`` by
the row-count and value-hash rule of ``tools/check_correctness.py``,
and asserts with a spy that the forced side really ran. At sf0.01 the
default constants pick one side of each gate; the other side is the
one the oracle would otherwise never see. SCALING.md's gate table
lists every gate and its constant.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tidb_binlog_spark import session
from tidb_binlog_spark.cache import release_all
from tidb_binlog_spark.functions import scoring
from tidb_binlog_spark.operators import causality
from tools.check_correctness import TABLES, frame_hash

SF = "/root/testdata/sf0.01"

_BIG = 1 << 62


def _calls(monkeypatch, owner, name, record):
    """Wrap ``owner.name`` so each call appends ``record(args, kwargs)``
    to the returned list."""
    seen = []
    orig = getattr(owner, name)

    def spy(*args, **kwargs):
        seen.append(record(args, kwargs))
        return orig(*args, **kwargs)
    monkeypatch.setattr(owner, name, spy)
    return seen


def _cc_paths(monkeypatch, spark):
    local = _calls(monkeypatch, causality, "_local_groups",
                   lambda a, k: "local")
    dist = _calls(monkeypatch, causality, "_cc_fixpoint",
                  lambda a, k: "distributed")
    return lambda: set(local + dist)


def _two_phase(monkeypatch, spark):
    seen = _calls(monkeypatch, scoring, "stratum_smallest_k",
                  lambda a, k: k["two_phase"])
    return lambda: set(seen)


def _doc_major(monkeypatch, spark):
    seen = _calls(monkeypatch, scoring, "_tfidf_pairs_doc_major",
                  lambda a, k: "doc_major")
    return lambda: set(seen) or {"join"}


def _pinned(monkeypatch, spark):
    # the advisory-size gates' pinned side is an explicit hash
    # repartition by term (tfidf_topk) and by cluster_id
    # (semantic_dedup_exact)
    seen = _calls(monkeypatch, type(spark.range(1)), "repartition",
                  lambda a, k: tuple(c for c in a[1:] if isinstance(c, str)))
    pins = {("term",), ("cluster_id",)}
    return lambda: {c for c in seen if c in pins}


# gate -> (patches per side, queries, spy, the spy's reading per side)
GATES = {
    "local_cc": (
        {"local": {(causality, "LOCAL_CC_MAX_EDGES"): _BIG},
         "distributed": {(causality, "LOCAL_CC_MAX_EDGES"): -1}},
        ("cdc_causality_groups", "dedup_minhash_clusters",
         "dedup_embedding_clusters", "dedup_consensus"),
        _cc_paths,
        {"local": {"local"}, "distributed": {"distributed"}}),
    "kmv_two_phase": (
        {"two_phase": {(session, "ADVISORY_PARTITION_BYTES"): 0},
         "one_window": {(session, "ADVISORY_PARTITION_BYTES"): _BIG}},
        ("corpus_kmv_distinct", "corpus_kmv_merge"),
        _two_phase,
        {"two_phase": {True}, "one_window": {False}}),
    "tfidf_doc_major": (
        {"doc_major": {(scoring, "TFIDF_DOC_MAJOR_MIN_DOCS"): 0},
         "join": {(scoring, "TFIDF_DOC_MAJOR_MIN_DOCS"): _BIG}},
        ("corpus_tfidf_topk", "rag_retrieve_pack"),
        _doc_major,
        {"doc_major": {"doc_major"}, "join": {"join"}}),
    "tfidf_query_broadcast": (
        {"fits": {(scoring, "TFIDF_DOC_MAJOR_MIN_DOCS"): 0,
                  (scoring, "TFIDF_QUERY_BROADCAST_MAX_ROWS"): _BIG},
         "over": {(scoring, "TFIDF_DOC_MAJOR_MIN_DOCS"): 0,
                  (scoring, "TFIDF_QUERY_BROADCAST_MAX_ROWS"): -1}},
        ("corpus_tfidf_topk",),
        _doc_major,
        {"fits": {"doc_major"}, "over": {"join"}}),
    "advisory_pin": (
        {"pinned": {(session, "ADVISORY_PARTITION_BYTES"): _BIG},
         "unpinned": {(session, "ADVISORY_PARTITION_BYTES"): 0}},
        ("corpus_tfidf_topk", "dedup_semantic"),
        _pinned,
        {"pinned": {("term",), ("cluster_id",)}, "unpinned": set()}),
}

CASES = [(gate, side) for gate, (sides, *_) in GATES.items()
         for side in sides]


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("gate, side", CASES,
                         ids=[f"{g}-{s}" for g, s in CASES])
def test_gate_side_matches_oracle(spark, oracle, monkeypatch, gate, side):
    sides, queries, spy, want = GATES[gate]
    for (owner, name), value in sides[side].items():
        monkeypatch.setattr(owner, name, value)
    ran = spy(monkeypatch, spark)
    qs, oracles = entry.queries(), entry.oracle_sql()
    for q in queries:
        got = qs[q](spark, SF).toPandas()
        release_all()
        assert frame_hash(got) == frame_hash(oracle.sql(oracles[q]).df()), q
    assert ran() == want[side]


def test_stamp_broadcast_sides_agree(spark, monkeypatch):
    """STAMP_BROADCAST_MAX_GROUPS has no registry query: its two sides
    (broadcast-hinted labeling, shuffle join) must stamp the same
    (group_id, worker_id) on every row, keyless txns included."""
    from tests.conftest import make_changes
    ch = make_changes(spark, [(i, "s0", 100 + i % 12, "I", i)
                              for i in range(40)])
    groups = spark.createDataFrame(
        [(100 + t, 100 + t - t % 3) for t in range(9)],
        "txn_id long, group_id long")
    hints = _calls(monkeypatch, F, "broadcast", lambda a, k: 1)

    def stamped(cap):
        monkeypatch.setattr(causality, "STAMP_BROADCAST_MAX_GROUPS", cap)
        del hints[:]
        out = causality.stamp_workers(ch, groups, num_workers=4)
        return sorted(map(tuple, out.select(
            "arrival_seq", "group_id", "worker_id").collect())), len(hints)

    hinted, n_hinted = stamped(_BIG)
    shuffled, n_shuffled = stamped(-1)
    assert (n_hinted, n_shuffled) == (1, 0)
    assert hinted == shuffled
    assert {g for _, g, _ in hinted} == {100, 103, 106, 109, 110, 111}
