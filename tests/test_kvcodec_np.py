"""Parity pins for the numpy lockstep KV codec (kvcodec_np): batch
decode == retained row loop, batch fixture encode == retained row
encode, on adversarial datums — every kind (incl. decimal extremes,
json, memcomparable bytes, NULL flags), both row formats, int and
common handles. The row loop is the oracle, exactly as
tests/test_pbcodec.py pins the r11 pb writer (VERDICT r11 item 1)."""

import random
from decimal import Decimal as D

import numpy as np
import pandas as pd
import pytest

from tidb_binlog_spark.functions import kvcodec as kv
from tidb_binlog_spark.functions import kvcodec_np as kn

INFO = kv.KVTableInfo(
    columns=(kv.ColInfo(1, "pk", "long"),
             kv.ColInfo(2, "val", "double"),
             kv.ColInfo(3, "k", "string", default="dk"),
             kv.ColInfo(4, "u", "ulong"),
             kv.ColInfo(5, "d10", "decimal"),
             kv.ColInfo(6, "dur", "duration"),
             kv.ColInfo(7, "b", "bytes"),
             kv.ColInfo(8, "j", "json"),
             kv.ColInfo(9, "nn", "long", not_null=True)),
    pk_handle_id=1)
INFO_COMMON = kv.KVTableInfo(
    columns=(kv.ColInfo(1, "a", "long"),
             kv.ColInfo(2, "bu", "ulong"),
             kv.ColInfo(3, "s", "string"),
             kv.ColInfo(4, "d", "decimal")),
    common_pk_ids=(1, 2))
INFO_DEL = kv.KVTableInfo(columns=INFO.columns)
INFO_UPD = kv.KVTableInfo(columns=INFO.columns[:6], pk_handle_id=1)

_DECIMALS = [D("0"), D("-0.00"), D("123.4500"),
             D("-99999999999999999999.999999999"),
             D("0.000000000000000000000000000001"),     # str() -> 1E-30
             D("0.0000001"), D("-0.0000000"),           # E-boundary
             D("12345678901234567890123456789012345"
               ".123456789012345678901234567890")]


def _rand_val(rng, kind, i):
    if rng.random() < 0.15:
        return None
    return {
        "long": lambda: rng.choice([0, -1, 1, 2 ** 62, -2 ** 62, 127,
                                    128, -129, 2 ** 31, i]),
        "ulong": lambda: rng.choice([0, 1, 255, 65536, 2 ** 32,
                                     2 ** 64 - 1, 2 ** 63, i]),
        "double": lambda: rng.choice([0.0, -0.0, 1e300, -1e-300,
                                      5e-324, float("inf"),
                                      float("-inf"), 3.14, float(i)]),
        "string": lambda: rng.choice(["", "é" * rng.randrange(0, 30),
                                      "x" * 200, f"s{i}", "日本語"]),
        "bytes": lambda: bytes(rng.randrange(256) for _ in
                               range(rng.randrange(0, 40))),
        "decimal": lambda: rng.choice(_DECIMALS + [D(i).scaleb(-2)]),
        "duration": lambda: rng.choice([0, 86399 * 10 ** 9, -10 ** 15,
                                        i * 1000]),
        "json": lambda: rng.choice([{"a": [1, "x", None, True]},
                                    [1, {"k": 2.5}], "s", 42, -1.5,
                                    True, {}, []]),
    }[kind]()


def _surface(datums, info):
    return {c.name: kv._surface_value(datums[c.col_id], c.kind)
            for c in info.columns}


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) \
            and a != a and b != b:
        return True
    return a == b


def _check(values, refs, info):
    for i, ref in enumerate(refs):
        for c in info.columns:
            got = values[c.col_id][i]
            assert _same(got, ref[c.name]), \
                f"row {i} col {c.name}: {ref[c.name]!r} != {got!r}"


def test_insert_decode_parity_adversarial():
    rng = random.Random(42)
    rows = []
    for i in range(1500):
        vals = {c.col_id: _rand_val(rng, c.kind, i)
                for c in INFO.columns
                if rng.random() > 0.12 and c.col_id != 1}
        handle = rng.choice([i, -i, 2 ** 63 - 1, -(2 ** 63) + 1, 0])
        try:
            rows.append(kv.encode_insert_row(
                INFO, handle, vals, row_format=2 if i % 3 == 0 else 1))
        except ValueError:
            pass
    refs = [_surface(kv.decode_insert_row(INFO, r), INFO) for r in rows]
    values, _ = kn.decode_batch_insert(INFO, rows)
    _check(values, refs, INFO)


def test_insert_decode_parity_common_handle():
    rng = random.Random(43)
    rows = []
    for i in range(800):
        pkv = (rng.choice([i, -i, 2 ** 62]),
               rng.choice([0, 1, 2 ** 64 - 1, i]))
        vals = {c.col_id: _rand_val(rng, c.kind, i)
                for c in INFO_COMMON.columns if rng.random() > 0.3}
        try:
            rows.append(kv.encode_insert_row_common(
                INFO_COMMON, pkv, vals,
                row_format=2 if i % 3 == 0 else 1))
        except ValueError:
            pass
    refs = [_surface(kv.decode_insert_row(INFO_COMMON, r), INFO_COMMON)
            for r in rows]
    values, _ = kn.decode_batch_insert(INFO_COMMON, rows)
    _check(values, refs, INFO_COMMON)


def test_delete_decode_parity():
    rng = random.Random(44)
    rows = []
    for i in range(800):
        vals = {c.col_id: _rand_val(rng, c.kind, i)
                for c in INFO_DEL.columns if rng.random() > 0.12}
        try:
            rows.append(kv._encode_row_body(
                INFO_DEL, vals, 2 if i % 3 == 0 else 1))
        except ValueError:
            pass
    refs = [_surface(kv.decode_delete_row(INFO_DEL, r), INFO_DEL)
            for r in rows]
    values, _ = kn.decode_batch_delete(INFO_DEL, rows)
    _check(values, refs, INFO_DEL)


def test_update_decode_parity_and_skips():
    rng = random.Random(45)
    rows = []
    for i in range(800):
        old, new = {}, {}
        for c in INFO_UPD.columns:
            if rng.random() > 0.2:
                old[c.col_id] = _rand_val(rng, c.kind, i)
                new[c.col_id] = _rand_val(rng, c.kind, i + 1)
        try:
            rows.append(kv.encode_update_row(INFO_UPD, old, new))
        except ValueError:
            pass
    rows += [b"", bytes([kv.NIL_FLAG])]       # skip semantics
    keep, ov, nv = kn.decode_batch_update(INFO_UPD, rows)
    for i, r in enumerate(rows):
        o, nw = kv.decode_update_row(INFO_UPD, r)
        if not o and not nw:
            assert not keep[i]
            continue
        assert keep[i]
        for c in INFO_UPD.columns:
            assert _same(ov[c.col_id][i],
                         kv._surface_value(o[c.col_id], c.kind))
            assert _same(nv[c.col_id][i],
                         kv._surface_value(nw[c.col_id], c.kind))


def test_decode_fallback_rows_match_loop_on_clean_neighbors():
    """a JSON datum in one row must not disturb the vectorized rows
    around it (per-row fallback, not per-batch)."""
    rows = [
        kv.encode_insert_row(INFO, 1, {2: 1.5, 3: "a"}),
        kv.encode_insert_row(INFO, 2, {2: 2.5, 8: {"k": [1, None]}}),
        kv.encode_insert_row(INFO, 3, {2: 3.5, 3: "c"}, row_format=2),
    ]
    values, fb = kn.decode_batch_insert(INFO, rows)
    assert list(fb) == [False, True, False]
    refs = [_surface(kv.decode_insert_row(INFO, r), INFO) for r in rows]
    _check(values, refs, INFO)


def test_corrupt_rows_raise_like_the_row_loop():
    import struct
    errs = (ValueError, IndexError, struct.error)
    good = kv.encode_insert_row(INFO, 7, {2: 1.0})
    corrupt = good[:-2]                       # truncated payload
    with pytest.raises(errs):
        kv.decode_insert_row(INFO, corrupt)
    with pytest.raises(errs):
        kn.decode_batch_insert(INFO, [good, corrupt])


def test_fixture_encode_parity_insert_delete_update():
    n = 4000
    rng = np.random.default_rng(3)
    seq = np.arange(n, dtype=np.int64)
    pk = rng.integers(-2 ** 40, 2 ** 40, n)
    pk[:10] = [0, 1, -1, 2 ** 40, -(2 ** 40), 11, 13, 3, 33, 39]
    val = rng.random(n) * 1e6
    ks = pd.Series([f"k{i % 997}" if i % 5 else "é" * (i % 30)
                    for i in range(n)], dtype=object)
    kv_info = kv.KVTableInfo(
        columns=INFO.columns[:6], pk_handle_id=1)
    out = kn.encode_batch_insert_fixture(kv_info, seq, pk, val, ks)
    for i in range(n):
        assert out[i] == kn._row_insert_fixture(
            kv_info, int(seq[i]), int(pk[i]), float(val[i]),
            str(ks[i])), f"insert row {i}"
    kv_del = kv.KVTableInfo(columns=INFO.columns[:3])
    out = kn.encode_batch_delete_fixture(kv_del, seq, pk, val, ks)
    for i in range(n):
        assert out[i] == kn._row_delete_fixture(
            kv_del, int(seq[i]), int(pk[i]), float(val[i]),
            str(ks[i])), f"delete row {i}"
    kv_upd = kv.KVTableInfo(columns=INFO.columns[:3], pk_handle_id=1)
    out = kn.encode_batch_update_fixture(kv_upd, seq, pk, val, ks)
    for i in range(n):
        assert out[i] == kn._row_update_fixture(
            kv_upd, int(seq[i]), int(pk[i]), float(val[i]),
            str(ks[i])), f"update row {i}"


def test_fixture_encode_falls_back_on_wide_col_ids():
    wide = kv.KVTableInfo(
        columns=(kv.ColInfo(100, "pk", "long"),
                 kv.ColInfo(200, "val", "double"),
                 kv.ColInfo(300, "k", "string")),
        pk_handle_id=100)
    seq = np.arange(40, dtype=np.int64)
    pk = np.arange(40, dtype=np.int64) + 5
    val = np.linspace(0, 1, 40)
    ks = pd.Series([f"k{i}" for i in range(40)], dtype=object)
    out = kn.encode_batch_insert_fixture(wide, seq, pk, val, ks)
    for i in range(40):
        assert out[i] == kn._row_insert_fixture(
            wide, int(seq[i]), int(pk[i]), float(val[i]), str(ks[i]))


def _ref_decode(mode, info, row):
    """Per-row reference for one decoded stream row (None: no row)."""
    if mode == "update":
        old, new = kv.decode_update_row(info, row)
        if not old and not new:
            return None
        return tuple([kv._surface_value(old[c.col_id], c.kind)
                      for c in info.columns]
                     + [kv._surface_value(new[c.col_id], c.kind)
                        for c in info.columns])
    datums = (kv.decode_insert_row if mode == "insert"
              else kv.decode_delete_row)(info, row)
    return tuple(kv._surface_value(datums[c.col_id], c.kind)
                 for c in info.columns)


@pytest.mark.parametrize("mode, info, row_fixture", [
    ("insert", kv.KVTableInfo(columns=INFO.columns[:6], pk_handle_id=1),
     kn._row_insert_fixture),
    ("update", kv.KVTableInfo(columns=INFO.columns[:3], pk_handle_id=1),
     kn._row_update_fixture),
    ("delete", kv.KVTableInfo(columns=INFO.columns[:3]),
     kn._row_delete_fixture),
], ids=["insert", "update", "delete"])
def test_stream_engines_agree(spark, mode, info, row_fixture):
    """Spark-level parity: encode_<mode>_stream emits the per-row
    fixture's bytes, and decode_<mode>_stream equals the per-row
    decoders on the mixed-format stream. The update stream also gets
    an EMPTY row value, which the reference skips (no output row)."""
    from pyspark.sql import functions as F
    encode = getattr(kv, f"encode_{mode}_stream")
    decode = getattr(kv, f"decode_{mode}_stream")
    ch = spark.range(2000).select(
        F.col("id").alias("arrival_seq"),
        (F.col("id") * 7 + 1).alias("pk"),
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        .alias("k"))
    raw = encode(ch, info)
    if mode == "update":
        raw = raw.unionByName(spark.createDataFrame(
            [(2000, bytearray())], "arrival_seq long, row_bytes binary"))
    raw_rows = raw.orderBy("arrival_seq").collect()
    src = ch.orderBy("arrival_seq").collect()
    assert [bytes(r["row_bytes"]) for r in raw_rows[:2000]] == [
        row_fixture(info, r["arrival_seq"], r["pk"], r["val"], r["k"])
        for r in src]
    want = [(r["arrival_seq"],) + ref for r in raw_rows
            if (ref := _ref_decode(mode, info, bytes(r["row_bytes"])))
            is not None]
    got = [tuple(r) for r in
           decode(raw, info).orderBy("arrival_seq").collect()]
    assert len(want) == 2000
    assert got == want


def test_v2_large_format_decode_parity():
    """the rowcodec v2 LARGE header branch (4-byte ids/offsets: col id
    > 255 or value bytes > 0xFFFF, plus force_large) decodes equal to
    the row loop — the small-cid fixtures never exercise it."""
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "val", "double"),
                 kv.ColInfo(3, "k", "string"),
                 kv.ColInfo(300, "wide", "string")))
    rng = random.Random(9)
    rows = []
    for i in range(200):
        vals = {1: i, 2: None if i % 7 == 0 else 1.5 * i}
        if i % 3:
            vals[3] = "s" * (i % 50)
        if i % 2:
            vals[300] = "L" * (70000 if i % 5 == 0 else 10)
        rows.append(kv.encode_row_v2(info, vals,
                                     force_large=(i % 4 == 0)))
    refs = [_surface(kv.decode_delete_row(info, r), info) for r in rows]
    values, fb = kn.decode_batch_delete(info, rows)
    assert not fb.any()
    _check(values, refs, info)


def test_type_mismatched_datum_parity():
    """ADVICE r12: a FLOAT (or compact-bytes) datum landing in a
    ulong/decimal column must surface through _surface_value exactly
    like the row-loop oracle — not leak a raw float/str."""
    info = kv.KVTableInfo(columns=(kv.ColInfo(4, "u", "ulong"),
                                   kv.ColInfo(5, "d10", "decimal"),
                                   kv.ColInfo(3, "k", "string")))
    bodies = [
        # float datums under ulong/decimal/string col ids
        (kv.encode_datum(4, "long") + kv.encode_datum(2.5, "double")
         + kv.encode_datum(5, "long") + kv.encode_datum(-1.25, "double")
         + kv.encode_datum(3, "long") + kv.encode_datum(7.5, "double")),
        # numeric-string datums under ulong/decimal col ids
        (kv.encode_datum(4, "long") + kv.encode_datum("123", "string")
         + kv.encode_datum(5, "long") + kv.encode_datum("9.5", "string")
         + kv.encode_datum(3, "long") + kv.encode_datum("x", "string")),
        # a well-typed control row
        (kv.encode_datum(4, "long") + kv.encode_datum(7, "ulong")
         + kv.encode_datum(5, "long") + kv.encode_datum(D("1.50"),
                                                        "decimal")
         + kv.encode_datum(3, "long") + kv.encode_datum("ok", "string")),
    ]
    refs = [_surface(kv.decode_delete_row(info, b), info)
            for b in bodies]
    values, _ = kn.decode_batch_delete(info, bodies)
    _check(values, refs, info)


def test_fixture_encode_decimal_guard_at_int64_extremes():
    """ADVICE r12: np.abs(int64 min) wraps negative, slipping past the
    old pk*10001 overflow guard — the two-sided guard must route
    int64-extreme pks to the row-loop fallback (byte parity)."""
    kv_info = kv.KVTableInfo(columns=INFO.columns[:6], pk_handle_id=1)
    pk = np.array([-2 ** 63, 2 ** 63 - 1, -2 ** 62, 2 ** 62,
                   (2 ** 62) // 10001, -((2 ** 62) // 10001), 0, 5],
                  dtype=np.int64)
    n = len(pk)
    seq = np.arange(n, dtype=np.int64)
    val = np.linspace(0.0, 1.0, n)
    ks = pd.Series([f"k{i}" for i in range(n)], dtype=object)
    out = kn.encode_batch_insert_fixture(kv_info, seq, pk, val, ks)
    for i in range(n):
        assert out[i] == kn._row_insert_fixture(
            kv_info, int(seq[i]), int(pk[i]), float(val[i]),
            str(ks[i])), f"pk {pk[i]}"
