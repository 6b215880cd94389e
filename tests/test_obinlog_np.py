"""Parity of the numpy lockstep obinlog decode (sinks/obinlog_np)
against the per-payload generic walk it replaces — the same
batch-equals-loop discipline kvcodec_np and pbcodec pin for their
fast paths. The lockstep path must produce IDENTICAL rows in
IDENTICAL order, route every shape it does not recognize to the
per-payload fallback, and keep the NaN->NULL surface of the old
pandas serialization."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from tidb_binlog_spark.sinks import obinlog_pb as ob
from tidb_binlog_spark.sinks.obinlog_np import parse_batch

CI = [ob.encode_column_info(nm, t, pk) for nm, t, pk in ob._COLSPEC]
UK = [ob.encode_key("PRIMARY", ["pk"])]


def mk_row(pk, val, k):
    return ob.encode_row([ob.encode_obinlog_column(pk, "bigint"),
                          ob.encode_obinlog_column(val, "double"),
                          ob.encode_obinlog_column(k, "varchar")])


def generic_rows(payload, pre):
    """The reference walk (pre-r14 decode), with the pandas-path
    NaN->NULL surface applied to the float columns."""
    def nn(x):
        if x is None:
            return None
        x = float(x)
        return None if x != x else x

    rows = []
    b = ob.decode_secondary_binlog(payload)
    for t in b["tables"]:
        names = [c["name"] for c in t["column_info"]]
        for mu in t["mutations"]:
            vals = dict(zip(names, mu["row"]))
            old = dict(zip(names, mu["change_row"])) \
                if mu["change_row"] else {}
            rows.append({"arrival_seq": pre, "commit_ts": b["commit_ts"],
                         "db": t["schema_name"], "tbl": t["table_name"],
                         "op": {0: "I", 1: "U", 2: "D"}[mu["type"]],
                         "pk": vals["pk"], "val": nn(vals["val"]),
                         "k": vals["k"], "old_val": nn(old.get("val")),
                         "old_k": old.get("k")})
    return rows


def run_parity(payloads):
    batch = pa.RecordBatch.from_arrays(
        [pa.array(payloads, pa.binary()),
         pa.array(list(range(len(payloads))), pa.int64())],
        ["payload", "arrival_seq"])
    got = parse_batch(batch, ("arrival_seq",)).to_pylist()
    want = []
    for i, p in enumerate(payloads):
        want.extend(generic_rows(p, i))
    assert got == want, (len(got), len(want))
    return got


def test_lockstep_matches_generic_varied_shapes():
    payloads = []
    # I / D / U-with-change, NULL val and k, negative + huge pk
    for tp, change in ((ob.INSERT, None), (ob.DELETE, None),
                       (ob.UPDATE, mk_row(7, None, "old"))):
        t = ob.encode_table("db0", "t1", CI,
                            [ob.encode_mutation(tp, mk_row(7, 1.5, "x"),
                                                change)], UK)
        payloads.append(ob.encode_secondary_binlog(400001, [t]))
    t = ob.encode_table("db1", "t2", CI,
                        [ob.encode_mutation(
                            ob.INSERT, mk_row(-3, -0.25, None))], UK)
    payloads.append(ob.encode_secondary_binlog(2**62, [t]))
    # multi-table commit, multi-mutation table (wave loops engage)
    t1 = ob.encode_table("db0", "t1", CI,
                         [ob.encode_mutation(ob.INSERT,
                                             mk_row(1, 1.0, "a")),
                          ob.encode_mutation(ob.DELETE,
                                             mk_row(2, 2.0, "b"))], UK)
    t2 = ob.encode_table("db1", "t2", CI,
                         [ob.encode_mutation(ob.UPDATE,
                                             mk_row(3, 3.0, "c"),
                                             mk_row(3, 2.0, "old_c"))], UK)
    payloads.append(ob.encode_secondary_binlog(500002, [t1, t2]))
    # empty DML (zero rows) and DDL (zero rows via fallback)
    payloads.append(ob.encode_secondary_binlog(600003, []))
    payloads.append(ob.encode_secondary_binlog(
        700004, ddl=("db0", "t1", "ALTER TABLE t1 ADD c INT")))
    # genuine NaN datum -> NULL (the pandas-path surface)
    t = ob.encode_table("db2", "t3", CI,
                        [ob.encode_mutation(
                            ob.INSERT, mk_row(11, float("nan"), "z"))], UK)
    payloads.append(ob.encode_secondary_binlog(800005, [t]))
    got = run_parity(payloads)
    nanrow = [r for r in got if r["pk"] == 11][0]
    assert nanrow["val"] is None
    # columns riding the uint64 / bytes value fields (enum, blob): the
    # generic helper gives k as bytes, the output column is a string
    row_u = ob.encode_row([
        ob.encode_obinlog_column(9, "bigint"),
        ob.encode_obinlog_column(2**63 + 5, "bigint", unsigned=True),
        ob.encode_obinlog_column(b"\x01\x02", "blob")])
    t = ob.encode_table("db2", "t3", CI,
                        [ob.encode_mutation(ob.INSERT, row_u)], UK)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([ob.encode_secondary_binlog(800006, [t])], pa.binary()),
         pa.array([0], pa.int64())], ["payload", "arrival_seq"])
    assert parse_batch(batch, ("arrival_seq",)).to_pylist() == [
        {"arrival_seq": 0, "commit_ts": 800006, "db": "db2", "tbl": "t3",
         "op": "I", "pk": 9, "val": float(2**63 + 5), "k": "\x01\x02",
         "old_val": None, "old_k": None}]


def test_lockstep_mixed_fallback_keeps_payload_order():
    """Corrupt / irregular payloads interleave with clean ones: the
    bad ones re-decode through the per-payload path and the output
    stays in payload order with no loss or duplication."""
    payloads = []
    for i in range(300):
        t = ob.encode_table("db0", "ptest", CI,
                            [ob.encode_mutation(
                                ob.INSERT,
                                mk_row(i, i * 1.5, f"key_{i % 7}"))], UK)
        payloads.append(ob.encode_secondary_binlog(1000 + i * 10, [t]))
    # leading fixed32 junk field the generic parser skips gracefully
    payloads[17] = b"\x0d\x00\x00\x00\x00" + payloads[17]
    # DDL in the middle
    payloads[150] = ob.encode_secondary_binlog(5, ddl=("a", "b", "Q"))
    # a table whose Key block differs from the canonical constant
    t = ob.encode_table("db0", "t9", CI,
                        [ob.encode_mutation(ob.INSERT,
                                            mk_row(9, 9.0, "v"))],
                        [ob.encode_key("uniq_v", ["val"])])
    payloads[222] = ob.encode_secondary_binlog(7777, [t])
    # an unsigned (uint64-field) pk column -> not the int64 shape the
    # lockstep walk accepts (a pk past int64 range crashes the Arrow
    # int64 conversion in BOTH the old pandas path and this one, so
    # the in-range value is the decodable case)
    row_u = ob.encode_row([
        ob.encode_obinlog_column(5, "bigint", unsigned=True),
        ob.encode_obinlog_column(1.0, "double"),
        ob.encode_obinlog_column("u", "varchar")])
    t = ob.encode_table("db0", "t8", CI,
                        [ob.encode_mutation(ob.INSERT, row_u)], UK)
    payloads[250] = ob.encode_secondary_binlog(8888, [t])
    run_parity(payloads)


def test_lockstep_empty_and_null_free_batches():
    assert run_parity([]) == []
    # all-clean bulk batch exercises the pure-lockstep branch
    payloads = [ob.encode_secondary_binlog(
        10 + 10 * i,
        [ob.encode_table("db0", "t1", CI,
                         [ob.encode_mutation(ob.INSERT,
                                             mk_row(i, float(i), "k"))],
                         UK)]) for i in range(64)]
    got = run_parity(payloads)
    assert [r["pk"] for r in got] == list(range(64))


def test_lockstep_sliced_batch_offsets():
    """Arrow array slices carry a nonzero offset; the buffer math must
    honor it (a wrong offset would mis-frame every payload)."""
    payloads = [ob.encode_secondary_binlog(
        10 + 10 * i,
        [ob.encode_table("db0", "t1", CI,
                         [ob.encode_mutation(ob.INSERT,
                                             mk_row(i, float(i), "k"))],
                         UK)]) for i in range(20)]
    full = pa.RecordBatch.from_arrays(
        [pa.array(payloads, pa.binary()),
         pa.array(list(range(20)), pa.int64())],
        ["payload", "arrival_seq"])
    sl = full.slice(5, 10)
    got = parse_batch(sl, ("arrival_seq",)).to_pylist()
    want = []
    for j, p in enumerate(payloads[5:15]):
        want.extend(generic_rows(p, j))   # take() reindexes the slice
    # arrival_seq values come from the SLICED column: 5..14
    for r, w in zip(got, want):
        w = dict(w)
        w["arrival_seq"] = w["arrival_seq"] + 5
        assert r == w


class _NoDataBuffer:
    """A binary column exactly as Arrow may hand over an all-null or
    all-empty payload column: offsets (and validity), no data buffer.
    pyarrow's own constructors always allocate one, so the view wraps
    a real array and drops it."""

    def __init__(self, arr):
        self._arr = arr

    def buffers(self):
        validity, offsets, _data = self._arr.buffers()
        return [validity, offsets, None]

    def __len__(self):
        return len(self._arr)

    def __getitem__(self, i):
        return self._arr[i]

    def __getattr__(self, name):
        return getattr(self._arr, name)


class _Batch:
    def __init__(self, payload, arrival_seq):
        self.schema = pa.schema([("payload", pa.binary()),
                                 ("arrival_seq", pa.int64())])
        self._cols = [payload, arrival_seq]

    def column(self, i):
        return self._cols[i]


def test_lockstep_missing_data_buffer_routes_to_fallback():
    """No data buffer (all-empty payloads) must not crash the buffer
    math: every payload goes to the per-payload fallback, so the
    result equals the same payloads decoded with a data buffer."""
    payloads = pa.array([b"", b"", b""], pa.binary())
    seq = pa.array([0, 1, 2], pa.int64())
    want = parse_batch(
        pa.RecordBatch.from_arrays([payloads, seq],
                                   ["payload", "arrival_seq"]),
        ("arrival_seq",))
    got = parse_batch(_Batch(_NoDataBuffer(payloads), seq),
                      ("arrival_seq",))
    assert got.equals(want)
    assert got.num_rows == 0        # an empty Binlog carries no DML
