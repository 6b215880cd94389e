"""TiDB KV row codec: scalar datum roundtrips, hand-built byte
fixtures, insert/update row decode semantics (pk-is-handle back-fill,
default fill, old/new splitting), and the Arrow-batched Spark paths.

Reference semantics: drainer/translator/translator.go:40-123
(insertRowToDatums), :229-350 (DecodeOldAndNewRow); wire format
tidb util/codec (EncodeValue / DecodeOne).
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tidb_binlog_spark.functions import kvcodec as kv

INFO = kv.KVTableInfo(
    columns=(
        kv.ColInfo(1, "pk", "long"),
        kv.ColInfo(2, "val", "double"),
        kv.ColInfo(3, "k", "string", default="dk"),
        kv.ColInfo(4, "u", "ulong"),
    ),
    pk_handle_id=1,
)


# -- scalar codec ------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_roundtrip(v):
    buf = kv.encode_datum(v, "long")
    got, flag, pos = kv.decode_datum(buf, 0)
    assert (got, flag, pos) == (v, kv.VARINT_FLAG, len(buf))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_uvarint_roundtrip(v):
    buf = kv.encode_datum(v, "ulong")
    got, flag, pos = kv.decode_datum(buf, 0)
    assert (got, flag, pos) == (v, kv.UVARINT_FLAG, len(buf))


@settings(max_examples=200, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False))
def test_float_roundtrip(v):
    buf = kv.encode_datum(v, "double")
    got, _, _ = kv.decode_datum(buf, 0)
    assert got == v


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_string_roundtrip(s):
    buf = kv.encode_datum(s, "string")
    got, _, pos = kv.decode_datum(buf, 0)
    assert got == s and pos == len(buf)


def test_known_byte_fixtures():
    """Wire-format pins (Go binary.PutVarint / LEB128): these byte
    strings are what TiDB's codec emits — a codec change breaks them."""
    assert kv.encode_datum(None, "long") == b"\x00"
    assert kv.encode_datum(0, "long") == b"\x08\x00"          # zigzag(0)=0
    assert kv.encode_datum(-1, "long") == b"\x08\x01"         # zigzag(-1)=1
    assert kv.encode_datum(1, "long") == b"\x08\x02"          # zigzag(1)=2
    assert kv.encode_datum(300, "ulong") == b"\x09\xac\x02"   # LEB128
    assert kv.encode_datum("ab", "string") == b"\x02\x04ab"   # len zigzagged
    # float 1.0: bits 0x3ff0... -> sign bit OR'd -> 0xbff0...
    assert kv.encode_datum(1.0, "double") == \
        b"\x05\xbf\xf0\x00\x00\x00\x00\x00\x00"
    # comparable int flag (pk handles in index keys): sign bit flipped
    v, _, _ = kv.decode_datum(b"\x03\x80\x00\x00\x00\x00\x00\x00\x07", 0)
    assert v == 7
    v, _, _ = kv.decode_datum(b"\x03\x7f\xff\xff\xff\xff\xff\xff\xff", 0)
    assert v == -1


def test_unknown_flag_raises():
    with pytest.raises(ValueError, match="unsupported datum flag"):
        kv.decode_datum(b"\xfa\x00", 0)   # flag 250: maxFlag territory


# -- insert row --------------------------------------------------------------

def test_insert_row_roundtrip_with_backfill():
    row = kv.encode_insert_row(INFO, 42, {2: 2.5, 4: 2**64 - 42})
    datums = kv.decode_insert_row(INFO, row)
    # col 3 missing -> declared default; pk from the handle prefix
    assert datums == {1: 42, 2: 2.5, 3: "dk", 4: 2**64 - 42}


def test_insert_row_null_and_unknown_col():
    # NULL survives as NULL (issue #9304 branch: nullable col, NULL
    # value stays NULL, not default); unknown col id 99 is skipped
    row = kv.encode_insert_row(INFO, 7, {2: None, 3: "x", 99: 5})
    datums = kv.decode_insert_row(INFO, row)
    assert datums == {1: 7, 2: None, 3: "x", 4: None}


def test_insert_unsigned_handle_fixtype():
    """fixType: a huge unsigned pk is stored as its negative signed
    reinterpretation; decode against an unsigned pk col recovers it."""
    uinfo = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "ulong"),
                 kv.ColInfo(2, "val", "double")),
        pk_handle_id=1)
    big = 2**64 - 1            # stored as int64 -1
    row = kv.encode_insert_row(uinfo, big - 2**64, {2: 1.0})
    datums = kv.decode_insert_row(uinfo, row)
    assert datums[1] == big


def test_insert_not_null_zero_value():
    zinfo = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "s", "string", not_null=True),
                 kv.ColInfo(3, "n", "long", not_null=True)),
        pk_handle_id=1)
    datums = kv.decode_insert_row(zinfo, kv.encode_insert_row(zinfo, 1, {}))
    assert datums == {1: 1, 2: "", 3: 0}


# -- update row --------------------------------------------------------------

def test_update_row_old_new_split():
    old = {1: 5, 2: 1.0, 3: "a"}
    new = {1: 5, 2: 2.0, 3: "b"}
    got_old, got_new = kv.decode_update_row(
        INFO, kv.encode_update_row(INFO, old, new))
    assert got_old == {1: 5, 2: 1.0, 3: "a", 4: None}
    assert got_new == {1: 5, 2: 2.0, 3: "b", 4: None}


def test_update_row_missing_col_filled_both():
    old = {1: 5, 2: 1.0}
    new = {1: 5, 2: 2.0}
    got_old, got_new = kv.decode_update_row(
        INFO, kv.encode_update_row(INFO, old, new))
    assert got_old[3] == "dk" and got_new[3] == "dk"


def test_update_row_corrupt_raises():
    # a column appearing once only -> old/new image sizes diverge
    buf = (kv.encode_datum(1, "long") + kv.encode_datum(5, "long")
           + kv.encode_datum(1, "long") + kv.encode_datum(6, "long")
           + kv.encode_datum(2, "long") + kv.encode_datum(1.0, "double"))
    with pytest.raises(ValueError, match="corrupted"):
        kv.decode_update_row(INFO, buf)


def test_update_nil_row_empty():
    assert kv.decode_update_row(INFO, b"\x00") == ({}, {})


# -- Spark Arrow paths -------------------------------------------------------

def _src(spark):
    rows = [(i, 1000 + i, float(i) + 0.5, f"k{i}") for i in range(50)]
    return spark.createDataFrame(
        rows, "arrival_seq long, pk long, val double, k string")


def test_spark_insert_roundtrip(spark):
    src = _src(spark)
    decoded = kv.decode_insert_stream(
        kv.encode_insert_stream(src, INFO), INFO).collect()
    assert len(decoded) == 50
    by_seq = {r["arrival_seq"]: r for r in decoded}
    assert by_seq[1]["pk"] == 1001 and by_seq[1]["val"] == 1.5
    assert by_seq[1]["k"] == "k1"
    assert by_seq[0]["val"] is None          # %13 -> NULL datum
    assert by_seq[0]["k"] == "dk"            # %11 -> default back-fill
    assert by_seq[1]["u"] == Decimal(2**64 - 1001)   # odd pk -> top bit
    assert by_seq[2]["u"] == Decimal(1002)


def test_spark_update_roundtrip(spark):
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "val", "double"),
                 kv.ColInfo(3, "k", "string", default="dk")),
        pk_handle_id=1)
    src = _src(spark)
    decoded = kv.decode_update_stream(
        kv.encode_update_stream(src, info), info).collect()
    by_seq = {r["arrival_seq"]: r for r in decoded}
    assert by_seq[1]["old_val"] == 0.5 and by_seq[1]["new_val"] == 1.5
    assert by_seq[1]["old_k"] == "old_k1" and by_seq[1]["new_k"] == "k1"
    assert by_seq[0]["old_k"] == "dk" and by_seq[0]["new_k"] == "dk"
    assert by_seq[0]["old_pk"] == by_seq[0]["new_pk"] == 1000


def test_kv_decode_feeds_compaction_spine(spark):
    """Bytes-to-snapshot end-to-end: encoded pump rows -> KV decode ->
    order gate -> per-PK compaction produces the same snapshot as the
    JSON-image path (the codec is a drop-in source for the spine)."""
    from pyspark.sql import functions as F
    from tests.conftest import make_changes
    from tidb_binlog_spark.operators import compaction, ordering

    rows = [(i, f"src{i % 2}", i * 10, "IUD"[i % 3], i % 7, i % 4,
             float(i) + 0.5) for i in range(60)]
    ch = make_changes(spark, rows).withColumn(
        "k", F.concat(F.lit("k"), F.col("pk").cast("string")))

    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "val", "double"),
                 kv.ColInfo(3, "k", "string", default="dk")),
        pk_handle_id=1)
    # encode WITHOUT the deterministic omission/NULL tricks: carry the
    # image verbatim so both paths see identical values
    import pandas as pd

    def encode(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                out.append((int(r.arrival_seq),
                            kv.encode_insert_row(
                                info, int(r.pk),
                                {2: float(r.val), 3: str(r.k)})))
            yield pd.DataFrame(out, columns=["arrival_seq", "row_bytes"])

    raw = ch.select("arrival_seq", "pk", "val", "k") \
        .mapInPandas(encode, schema="arrival_seq long, row_bytes binary")
    decoded = kv.decode_insert_stream(raw, info) \
        .withColumnRenamed("pk", "pk_d") \
        .withColumnRenamed("val", "val_d")
    # stitch transport metadata back on (a real pipeline carries it
    # beside the row bytes), then run the ordinary spine
    meta = ch.select("arrival_seq", "source_id", "commit_ts", "start_ts",
                     "op", "db", "tbl", "seq", "row_json")
    rebuilt = decoded.join(meta, "arrival_seq").select(
        "arrival_seq", "source_id", "commit_ts", "start_ts", "op", "db",
        "tbl", F.col("pk_d").alias("pk"), "seq", F.col("val_d").alias("val"),
        "row_json")
    got = compaction.apply_snapshot(ordering.ordered_stream(rebuilt)) \
        .select("db", "tbl", "pk", "commit_ts", "op", "val")
    want = compaction.apply_snapshot(ordering.ordered_stream(ch)) \
        .select("db", "tbl", "pk", "commit_ts", "op", "val")
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0


def test_kv_decode_streaming(spark, tmp_path):
    """decode_insert_stream is streaming-safe: the same mapInPandas
    plan runs under a readStream file source (micro-batch) and yields
    the batch-identical decode."""
    import glob
    src = _src(spark)
    raw = kv.encode_insert_stream(src, INFO)
    raw_dir = str(tmp_path / "raw")
    raw.write.mode("overwrite").parquet(raw_dir)

    stream = spark.readStream.schema(
        "arrival_seq long, row_bytes binary").parquet(raw_dir)
    out_dir = str(tmp_path / "out")
    q = (kv.decode_insert_stream(stream, INFO)
         .writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    want = kv.decode_insert_stream(raw, INFO).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert glob.glob(f"{out_dir}/*.parquet")


def test_update_stream_skips_nil_rows(spark):
    """A NIL/empty update row value decodes to nil maps and the
    reference skips the mutation; the stream decoder must emit nothing
    for it (not KeyError the stage) while decoding its neighbors."""
    import pandas as pd
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "val", "double")),
        pk_handle_id=1)
    good = kv.encode_update_row(info, {1: 7, 2: 1.0}, {1: 7, 2: 2.0})
    raw = spark.createDataFrame(
        pd.DataFrame({"arrival_seq": [0, 1, 2],
                      "row_bytes": [b"\x00", good, b""]}),
        "arrival_seq long, row_bytes binary")
    got = kv.decode_update_stream(raw, info).collect()
    assert len(got) == 1
    assert got[0]["arrival_seq"] == 1
    assert got[0]["old_val"] == 1.0 and got[0]["new_val"] == 2.0


# -- decimal / duration datums ----------------------------------------------

def test_decimal_known_vector():
    """Hand-computed decimal2bin layout for 1234567890.1234 (precision
    14, frac 4): int part = 1 leading digit (1 byte) + one base-10^9
    word (4 bytes), frac part = 4 digits (2 bytes), first byte sign-bit
    flipped."""
    buf = kv.encode_mysql_decimal(Decimal("1234567890.1234"))
    assert buf[0] == 14 and buf[1] == 4          # precision, frac
    body = buf[2:]
    assert body == bytes([0x01 ^ 0x80]) \
        + (234567890).to_bytes(4, "big") + (1234).to_bytes(2, "big")
    d, _ = kv.decode_mysql_decimal(buf, 0)
    assert d == Decimal("1234567890.1234")


@settings(max_examples=200, deadline=None)
@given(st.decimals(allow_nan=False, allow_infinity=False,
                   min_value=-10**20, max_value=10**20, places=6))
def test_decimal_roundtrip(d):
    buf = kv.encode_datum(d, "decimal")
    got, flag, pos = kv.decode_datum(buf, 0)
    assert flag == kv.DECIMAL_FLAG and pos == len(buf)
    assert got == d.normalize() or got == d   # trailing-zero-insensitive
    assert Decimal(got) - Decimal(d) == 0


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**12 - 1),
       st.integers(min_value=0, max_value=10**6 - 1))
def test_decimal_memcomparable_same_shape(a, b):
    """For a fixed (precision, frac) the binary form orders like the
    number — the property TiDB's index keys rely on."""
    da = Decimal(a) + Decimal(b) / 10**6
    db_ = Decimal(10**12 - 1 - a) + Decimal(b) / 10**6
    ba = kv.encode_mysql_decimal(da, precision=18, frac=6)
    bb = kv.encode_mysql_decimal(db_, precision=18, frac=6)
    assert (ba < bb) == (da < db_)
    assert (ba == bb) == (da == db_)
    # negatives order below positives and by magnitude
    if da > 0:
        bn = kv.encode_mysql_decimal(-da, precision=18, frac=6)
        assert bn < kv.encode_mysql_decimal(Decimal(0),
                                            precision=18, frac=6)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_duration_roundtrip(ns):
    buf = kv.encode_datum(ns, "duration")
    got, flag, pos = kv.decode_datum(buf, 0)
    assert (got, flag, pos) == (ns, kv.DURATION_FLAG, len(buf))


def test_duration_timedelta_and_order():
    import datetime
    td = datetime.timedelta(hours=25, minutes=1, seconds=1.5)
    buf = kv.encode_datum(td, "duration")
    got, _, _ = kv.decode_datum(buf, 0)
    assert got == int(td.total_seconds() * 1e9)
    # comparable encoding: -1s < 0 < 1s in byte order
    enc = lambda n: kv.encode_datum(n, "duration")[1:]  # noqa: E731
    assert enc(-10**9) < enc(0) < enc(10**9)


# -- memcomparable bytes (flag 1) -------------------------------------------

def test_comparable_bytes_known_vectors():
    """Group-of-8 + pad-marker layout: 0xFF continues, 0xF7+n ends."""
    assert kv.encode_comparable_bytes(b"") == bytes(8) + b"\xf7"
    assert kv.encode_comparable_bytes(b"ab") == \
        b"ab" + bytes(6) + b"\xf9"
    assert kv.encode_comparable_bytes(b"12345678") == \
        b"12345678\xff" + bytes(8) + b"\xf7"


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_comparable_bytes_roundtrip_and_order(raw):
    buf = kv.encode_datum(raw, "bytes")
    got, flag, pos = kv.decode_datum(buf, 0)
    assert (got, flag, pos) == (raw, kv.BYTES_FLAG, len(buf))
    # memcomparable: encoding order == raw lexicographic order
    other = bytes(reversed(raw)) + b"x"
    assert (kv.encode_comparable_bytes(raw)
            < kv.encode_comparable_bytes(other)) == (raw < other)


def test_comparable_bytes_bad_marker():
    with pytest.raises(ValueError, match="pad marker"):
        kv.decode_comparable_bytes(bytes(8) + b"\x01", 0)


# -- record keys -------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1),
       st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_record_key_roundtrip(table_id, handle):
    key = kv.encode_record_key(table_id, handle)
    assert len(key) == 19
    assert kv.decode_record_key(key) == (table_id, handle)


def test_record_key_rejects_garbage():
    with pytest.raises(ValueError, match="not a record key"):
        kv.decode_record_key(b"x" * 19)
    with pytest.raises(ValueError, match="not a record key"):
        kv.decode_record_key(b"t" + b"\x00" * 8)


def test_record_key_columns_pure_catalyst(spark):
    """The Catalyst key decode matches the Python codec bit-for-bit
    and keeps the plan Python-free (whole-stage codegen)."""
    import pandas as pd
    rows = [(i, kv.encode_record_key(100 + i % 4, 1000 * i))
            for i in range(40)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["i", "key"]), "i long, key binary")
    out = kv.record_key_columns(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    got = {r["i"]: (r["table_id"], r["handle"]) for r in out.collect()}
    assert got == {i: (100 + i % 4, 1000 * i) for i in range(40)}


def test_record_key_feeds_partition_routing(spark):
    """Raw TiKV keys -> Catalyst key decode -> physical-id partition
    resolution: the decoded table_id is exactly what
    partitions.resolve_partitions consumes (late keys for a truncated
    partition surface as orphans)."""
    import pandas as pd
    from tidb_binlog_spark.operators import partitions

    cat = partitions.PartitionCatalog()
    for i in range(4):
        cat.bind("ptest", f"p{i}", 100 + i)
    cat.truncate_partition("ptest", "p1", 110, commit_ts=0)

    rows = [(i, kv.encode_record_key(100 + i % 4, i)) for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["arrival_seq", "key"]),
        "arrival_seq long, key binary")
    keyed = kv.record_key_columns(df).withColumn(
        "physical_id", F.col("table_id")).withColumn(
        "db", F.lit("db0"))
    out = partitions.resolve_partitions(keyed, cat.dimension(spark))
    by_id = {}
    for r in out.collect():
        by_id.setdefault(r["physical_id"], set()).add(
            r["partition_status"])
    assert by_id[100] == {"ok"} and by_id[102] == {"ok"}
    assert by_id[101] == {"orphan"}     # truncated-away incarnation


# -- review-fix regressions ---------------------------------------------------

def test_update_stream_decimal_column(spark):
    """decode_update_stream must surface decimal values as strings
    (the Arrow schema declares string) — it crashed on raw Decimals."""
    import pandas as pd
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "d", "decimal")),
        pk_handle_id=1)
    row = kv.encode_update_row(
        info, {1: 3, 2: Decimal("1.50")}, {1: 3, 2: Decimal("2.25")})
    raw = spark.createDataFrame(
        pd.DataFrame({"arrival_seq": [0], "row_bytes": [row]}),
        "arrival_seq long, row_bytes binary")
    got = kv.decode_update_stream(raw, info).collect()[0]
    assert got["old_d"] == "1.50" and got["new_d"] == "2.25"


def test_default_or_zero_new_kinds():
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(2, "d", "decimal", not_null=True),
                 kv.ColInfo(3, "t", "duration", not_null=True),
                 kv.ColInfo(4, "b", "bytes", not_null=True)),
        pk_handle_id=1)
    datums = kv.decode_insert_row(info, kv.encode_insert_row(info, 9, {}))
    assert datums == {1: 9, 2: Decimal(0), 3: 0, 4: b""}


def test_duration_timedelta_exact_nanos():
    """total_seconds() is float and drops ns past ~12 days; the
    integer-field conversion is exact over the MySQL TIME range."""
    import datetime
    td = datetime.timedelta(days=12, hours=11, minutes=5,
                            seconds=57, microseconds=663517)
    want = ((td.days * 86400 + td.seconds) * 10**9
            + td.microseconds * 1000)
    got, _, _ = kv.decode_datum(kv.encode_datum(td, "duration"), 0)
    assert got == want
    assert got % 1000 == 0          # microsecond-aligned, no float dust


def test_decimal_overflow_and_negative_zero():
    with pytest.raises(ValueError, match="overflows"):
        kv.encode_mysql_decimal(Decimal("12345"), precision=3, frac=0)
    with pytest.raises(ValueError, match="loses fraction"):
        kv.encode_mysql_decimal(Decimal("1.234"), precision=5, frac=1)
    # nonzero-losing truncation rejected, trailing zeros fine
    assert kv.encode_mysql_decimal(Decimal("1.20"), precision=3, frac=1)
    # -0 normalizes to +0: identical bytes (MyDecimal WriteBin parity)
    assert kv.encode_mysql_decimal(Decimal("-0.00")) == \
        kv.encode_mysql_decimal(Decimal("0.00"))


def test_decimal_corrupt_header_rejected():
    with pytest.raises(ValueError, match="corrupt decimal header"):
        kv.decode_mysql_decimal(bytes([2, 5, 0x80, 1, 2, 3]), 0)
    with pytest.raises(ValueError, match="unsupported|corrupt"):
        kv.decode_datum(bytes([kv.DECIMAL_FLAG, 0, 0, 0x80]), 0)


def test_comparable_bytes_truncated_rejected():
    with pytest.raises(ValueError, match="truncated"):
        kv.decode_comparable_bytes(b"abc", 0)
    with pytest.raises(ValueError, match="truncated"):
        # full first group claims continuation, then the buffer ends
        kv.decode_comparable_bytes(b"12345678\xff" + b"abc", 0)


def test_record_key_columns_nulls_invalid_keys(spark):
    """Non-record keys (index keys, malformed blobs) must decode to
    NULL, never to a plausible-looking id (the Python codec raises)."""
    import pandas as pd
    good = kv.encode_record_key(101, 7)
    index_key = good[:9] + b"_i" + good[11:]       # t{tid}_i... index key
    rows = [(0, good), (1, index_key), (2, b"x" * 19), (3, b"t" + b"\x00" * 8)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["i", "key"]), "i long, key binary")
    got = {r["i"]: (r["table_id"], r["handle"])
           for r in kv.record_key_columns(df).collect()}
    assert got[0] == (101, 7)
    assert got[1] == (None, None)
    assert got[2] == (None, None)
    assert got[3] == (None, None)


# -- json scalar datums -------------------------------------------------------

def test_json_scalar_roundtrips():
    cases = [True, False, 0, -42, 2**63 + 5, 1.5, "", "héllo"]
    for v in cases:
        buf = kv.encode_datum(v, "json")
        got, flag, pos = kv.decode_datum(buf, 0)
        assert flag == kv.JSON_FLAG and pos == len(buf)
        assert got == v and type(got) is type(v)
    # SQL NULL of a json column is a NIL datum (global None rule);
    # the JSON literal null is its own wire value
    assert kv.encode_datum(None, "json") == b"\x00"
    lit_null, pos = kv.decode_json_scalar(bytes([0x04, 0x00]), 0)
    assert lit_null is None and pos == 2


def test_json_container_roundtrips():
    cases = [
        {},
        [],
        {"a": 1, "bb": "x", "c": None},
        [1, "two", 3.0, True, None],
        {"nested": {"deep": [1, {"k": False}]}, "s": "v"},
        [[1, 2], [], {"a": [3]}],
    ]
    for v in cases:
        buf = kv.encode_datum(v, "json")
        got, flag, pos = kv.decode_datum(buf, 0)
        assert flag == kv.JSON_FLAG and pos == len(buf)
        assert got == v, (v, got)


def test_json_object_keys_mysql_sorted():
    """Binary object keys sort length-first then bytewise (the MySQL
    JSON binary key order) — key order in the Python dict is
    irrelevant to the wire bytes."""
    a = kv.encode_datum({"bb": 1, "a": 2, "ab": 3}, "json")
    b = kv.encode_datum({"ab": 3, "bb": 1, "a": 2}, "json")
    assert a == b
    got, _, _ = kv.decode_datum(a, 0)
    assert got == {"a": 2, "ab": 3, "bb": 1}


def test_json_corrupt_container_rejected():
    good = kv.encode_datum({"a": 1}, "json")
    bad = bytearray(good)
    bad[6] ^= 0x01        # corrupt the size field
    with pytest.raises(ValueError, match="corrupt json container"):
        kv.decode_datum(bytes(bad), 0)
    with pytest.raises(ValueError, match="unknown json type code"):
        kv.decode_datum(bytes([kv.JSON_FLAG, 0x7f]), 0)


# -- row format v2 (rowcodec) ------------------------------------------------

INFO_DEC = kv.KVTableInfo(
    columns=(
        kv.ColInfo(1, "pk", "long"),
        kv.ColInfo(2, "val", "double"),
        kv.ColInfo(3, "k", "string", default="dk"),
        kv.ColInfo(4, "u", "ulong"),
        kv.ColInfo(5, "d10", "decimal"),
        kv.ColInfo(6, "dur", "duration"),
        kv.ColInfo(7, "j", "json"),
        kv.ColInfo(8, "b", "bytes"),
    ),
    pk_handle_id=1,
)


def test_v2_header_layout():
    """Wire pins for the rowcodec layout: version byte 128, flags,
    LE u16 counts, ascending ids, END offsets."""
    row = kv.encode_row_v2(INFO_DEC, {3: "ab", 2: 1.0, 4: None})
    assert row[0] == 128 and row[1] == 0          # small
    assert row[2:6] == b"\x02\x00\x01\x00"        # 2 not-null, 1 null
    assert list(row[6:8]) == [2, 3]               # not-null ids ascending
    assert row[8] == 4                            # null id
    # offsets: val (8 bytes float) ends at 8, "ab" ends at 10
    assert row[9:13] == b"\x08\x00\x0a\x00"
    assert row[13:21] == b"\xbf\xf0\x00\x00\x00\x00\x00\x00"  # 1.0 ordered
    assert row[21:23] == b"ab"


def test_v2_int_width_selection():
    """encodeInt picks the smallest of 1/2/4/8 LE bytes."""
    for v, width in ((0, 1), (127, 1), (-128, 1), (128, 2), (-129, 2),
                     (32767, 2), (32768, 4), (-2**31, 4), (2**31, 8),
                     (-2**63, 8), (2**63 - 1, 8)):
        raw = kv._encode_int_v2(v)
        assert len(raw) == width, (v, width, len(raw))
        assert kv._decode_int_v2(raw) == v
    for v, width in ((255, 1), (256, 2), (65536, 4), (2**32, 8),
                     (2**64 - 1, 8)):
        raw = kv._encode_uint_v2(v)
        assert len(raw) == width
        assert kv._decode_uint_v2(raw) == v


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1),
       st.floats(allow_nan=False, allow_infinity=False),
       st.text(max_size=60))
def test_v2_roundtrip_property(i, f, s):
    vals = {1: i, 2: f, 3: s, 4: abs(i),
            5: Decimal(i % 10**6).scaleb(-2),
            6: i % 86_400_000_000_000,
            7: {"a": [i, s, None]}, 8: s.encode("utf-8")}
    assert kv.decode_row_v2(INFO_DEC, kv.encode_row_v2(INFO_DEC, vals)) \
        == vals


def test_v2_null_vs_omitted():
    """Explicit NULL rides the null-ID section; an omitted column is
    absent entirely (decode_insert_row then default-back-fills it)."""
    row = kv.encode_row_v2(INFO_DEC, {2: None})
    assert kv.decode_row_v2(INFO_DEC, row) == {2: None}
    full = kv.encode_insert_row(INFO_DEC, 9, {2: None}, row_format=2)
    datums = kv.decode_insert_row(INFO_DEC, full)
    assert datums[2] is None          # explicit NULL survives
    assert datums[3] == "dk"          # omitted -> declared default
    assert datums[1] == 9             # pk-is-handle back-fill


def test_v2_large_flag():
    """colID > 255 or data > 64KiB flips the wide (u32) layout."""
    wide_info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "pk", "long"),
                 kv.ColInfo(300, "wide", "string")), pk_handle_id=1)
    row = kv.encode_row_v2(wide_info, {300: "x"})
    assert row[1] & 1
    assert kv.decode_row_v2(wide_info, row) == {300: "x"}
    big = kv.encode_row_v2(INFO_DEC, {3: "y" * 70_000})
    assert big[1] & 1
    assert kv.decode_row_v2(INFO_DEC, big)[3] == "y" * 70_000
    forced = kv.encode_row_v2(INFO_DEC, {3: "z"}, force_large=True)
    assert kv.decode_row_v2(INFO_DEC, forced) == {3: "z"}


def test_v2_unknown_column_skipped():
    """Ids missing from the schema are skipped like the reference's
    cols-map filter — held slots must not shift later offsets."""
    donor = kv.KVTableInfo(
        columns=INFO_DEC.columns + (kv.ColInfo(99, "ghost", "string"),),
        pk_handle_id=1)
    row = kv.encode_row_v2(donor, {2: 2.5, 99: "gone", 3: "keep"})
    assert kv.decode_row_v2(INFO_DEC, row) == {2: 2.5, 3: "keep"}


def test_v2_corrupt_rejected():
    row = bytearray(kv.encode_row_v2(INFO_DEC, {3: "ab"}))
    with pytest.raises(ValueError, match="not a v2 row"):
        kv.decode_row_v2(INFO_DEC, bytes([1]) + bytes(row[1:]))
    row[-3] += 1   # last END offset no longer == len(data)
    with pytest.raises(ValueError, match="corrupt v2 row"):
        kv.decode_row_v2(INFO_DEC, bytes(row))


def test_format_dispatch_mixed_stream():
    """decode_row_to_datum_map dispatches per row on the version byte
    (tablecodec.DecodeRowToDatumMap via rowcodec.IsNewFormat) — the
    exact same logical row decodes identically from either format."""
    vals = {2: 3.25, 3: "k1", 4: 2**64 - 5}
    old = kv.encode_insert_row(INFO_DEC, 7, vals, row_format=1)
    new = kv.encode_insert_row(INFO_DEC, 7, vals, row_format=2)
    assert old[1:2] != b"\x80" and kv.is_new_format(new[
        len(kv.encode_datum(7, 'long')):])
    assert kv.decode_insert_row(INFO_DEC, old) \
        == kv.decode_insert_row(INFO_DEC, new)


def test_common_handle_prefix_decode():
    """Clustered-index tables: one datum per PK column prefixes the
    row (translator.go:46-77); row-body columns win over the prefix
    (sort-key pks), absent ones back-fill from it."""
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "region", "string"),
                 kv.ColInfo(2, "id", "long"),
                 kv.ColInfo(3, "val", "double")),
        common_pk_ids=(1, 2))
    for fmt in (1, 2):
        row = kv.encode_insert_row_common(
            info, ("eu", 42), {3: 1.5}, row_format=fmt)
        assert kv.decode_insert_row(info, row) \
            == {1: "eu", 2: 42, 3: 1.5}, fmt
    # row body carries the full-collation value: it wins
    row = kv.encode_insert_row_common(
        info, ("EU-SORTKEY", 42), {1: "eu", 3: 2.5}, row_format=2)
    assert kv.decode_insert_row(info, row)[1] == "eu"


def test_delete_row_full_old_image():
    """deleteRowToRow: full old row, NO handle prefix, either format,
    default back-fill for predating columns."""
    vals = {1: 5, 2: 1.25, 4: 2**63 + 3}
    for fmt in (1, 2):
        raw = kv._encode_row_body(INFO_DEC, vals, fmt)
        datums = kv.decode_delete_row(INFO_DEC, raw)
        assert datums[1] == 5 and datums[2] == 1.25
        assert datums[4] == 2**63 + 3
        assert datums[3] == "dk"      # default back-fill
        assert datums[7] is None      # nullable, no default


def test_delete_stream_spark(spark):
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            rows = [(int(s), kv._encode_row_body(
                        INFO_DEC, {1: int(s), 2: float(s) / 2}, 
                        2 if s % 2 == 0 else 1))
                    for s in pdf["arrival_seq"]]
            yield pd.DataFrame(rows, columns=["arrival_seq", "row_bytes"])

    src = spark.range(0, 40).selectExpr("id AS arrival_seq")
    raw = src.mapInPandas(enc, "arrival_seq long, row_bytes binary")
    out = kv.decode_delete_stream(raw, INFO_DEC).orderBy("arrival_seq")
    rows = out.collect()
    assert len(rows) == 40
    assert rows[7].pk == 7 and rows[7].val == 3.5 and rows[7].k == "dk"


def test_v2_hardening():
    """Review hardening: truncated rows and non-monotonic offsets are
    loud ValueErrors, not silent misdecodes; pk-shape misuse fails at
    construction/encode time."""
    # truncated header / truncated id-offset section
    with pytest.raises(ValueError, match="corrupt v2 row"):
        kv.decode_row_v2(INFO_DEC, b"\x80")
    with pytest.raises(ValueError, match="corrupt v2 row"):
        kv.decode_row_v2(INFO_DEC, b"\x80\x00\x05\x00\x00\x00")
    # non-monotonic END offsets
    good = bytearray(kv.encode_row_v2(INFO_DEC, {3: "ab", 2: 1.0}))
    # two not-null cols -> offsets at bytes 8..12; swap them
    good[8:10], good[10:12] = good[10:12], good[8:10]
    with pytest.raises(ValueError, match="corrupt v2 row"):
        kv.decode_row_v2(INFO_DEC, bytes(good))
    # all-NULL row with trailing garbage
    nulls = kv.encode_row_v2(INFO_DEC, {2: None, 3: None})
    with pytest.raises(ValueError, match="corrupt v2 row"):
        kv.decode_row_v2(INFO_DEC, nulls + b"junk")
    assert kv.decode_row_v2(INFO_DEC, nulls) == {2: None, 3: None}
    # handle-shape misuse
    with pytest.raises(ValueError, match="mutually exclusive"):
        kv.KVTableInfo(columns=INFO_DEC.columns[:2],
                       pk_handle_id=1, common_pk_ids=(1, 2))
    info = kv.KVTableInfo(
        columns=(kv.ColInfo(1, "a", "string"),
                 kv.ColInfo(2, "b", "long"),
                 kv.ColInfo(3, "v", "double")),
        common_pk_ids=(1, 2))
    with pytest.raises(ValueError):
        kv.encode_insert_row_common(info, ("only-one",), {3: 1.0})
