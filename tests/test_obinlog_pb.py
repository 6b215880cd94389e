"""Secondary-binlog (obinlog) protobuf wire format: typed column
values, per-table mutation grouping, ColumnInfo/Key metadata, and the
Spark encode->decode roundtrip against the JSON stand-in path.

Reference: drainer/translator/kafka.go:38-294 (TiBinlogToSecondaryBinlog,
genTable, DatumToColumn); message shapes from the public slave_binlog
proto."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.sinks import obinlog_pb as ob


def test_column_typed_values_roundtrip():
    cases = [
        (42, "bigint", 42), (-7, "int", -7),
        (1.5, "double", 1.5), ("abc", "varchar", "abc"),
        ("2024-01-01 00:00:00", "datetime", "2024-01-01 00:00:00"),
        ("12.340", "decimal", "12.340"),
        (b"\x01\x02", "blob", b"\x01\x02"),
        (3, "enum", 3), (5, "set", 5),
        (None, "varchar", None), (None, "bigint", None),
    ]
    for value, t, want in cases:
        got = ob.decode_obinlog_column(ob.encode_obinlog_column(value, t))
        assert got == want, (value, t, got)
    # unsigned ints ride the uint64 field (kafka.go Uint64Value)
    big = 2**64 - 1
    assert ob.decode_obinlog_column(
        ob.encode_obinlog_column(big, "bigint", unsigned=True)) == big


def test_binlog_message_structure():
    ci = [ob.encode_column_info("pk", "bigint", True),
          ob.encode_column_info("v", "double", False)]
    row = ob.encode_row([ob.encode_obinlog_column(1, "bigint"),
                         ob.encode_obinlog_column(2.5, "double")])
    old = ob.encode_row([ob.encode_obinlog_column(1, "bigint"),
                         ob.encode_obinlog_column(1.5, "double")])
    muts = [ob.encode_mutation(ob.INSERT, row),
            ob.encode_mutation(ob.UPDATE, row, old)]
    t = ob.encode_table("db0", "t1", ci, muts,
                        [ob.encode_key("PRIMARY", ["pk"])])
    out = ob.decode_secondary_binlog(ob.encode_secondary_binlog(99, [t]))
    assert out["commit_ts"] == 99 and out["type"] == ob.DML
    tbl = out["tables"][0]
    assert tbl["schema_name"] == "db0" and tbl["table_name"] == "t1"
    assert tbl["column_info"][0] == {
        "name": "pk", "mysql_type": "bigint", "is_primary_key": True}
    assert tbl["unique_keys"] == [
        {"name": "PRIMARY", "column_names": ["pk"]}]
    assert tbl["mutations"][0]["row"] == [1, 2.5]
    assert tbl["mutations"][0]["change_row"] is None
    assert tbl["mutations"][1]["change_row"] == [1, 1.5]
    # proto3 leaves default-valued fields off the wire: b"" is a DML
    # Binlog with commit_ts 0 and no tables
    assert ob.decode_secondary_binlog(b"") == {
        "type": ob.DML, "commit_ts": 0, "tables": []}


def test_ddl_binlog():
    out = ob.decode_secondary_binlog(
        ob.encode_secondary_binlog(7, ddl=("db0", "t", "DROP TABLE t")))
    assert out["type"] == ob.DDL
    assert out["ddl"] == {"schema_name": "db0", "table_name": "t",
                          "ddl_query": "DROP TABLE t"}


def test_spark_roundtrip_matches_json_path(spark):
    """encode -> decode over Spark recovers exactly the rows the JSON
    obinlog path carries (same stream, same old/new image rules)."""
    ch = make_changes(spark, [
        (i, "s0", i * 10, "IUD"[i % 3], i % 5, 0, float(i) + 0.5)
        for i in range(40)]).withColumn(
        "k", F.concat(F.lit("key_"), F.col("pk").cast("string")))
    payloads = ob.secondary_binlog_payloads(ch)
    got = ob.parse_secondary_binlog_stream(payloads)
    want = ch.select(
        "commit_ts", "db", "tbl", "op", "pk", "val", "k",
        F.when(F.col("op") == "U", F.col("val") - 1).alias("old_val"),
        F.when(F.col("op") == "U",
               F.concat(F.lit("old_"), F.col("k"))).alias("old_k"))
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0


def test_arbiter_flow_over_protobuf(spark, tmp_path):
    """Arbiter end-to-end over the REAL wire format: per-txn secondary
    binlogs -> simulated Kafka re-read WITH duplicated messages ->
    decode -> commit_ts dedup -> SQL apply; downstream equals the
    clean batch snapshot (arbiter/server.go:287-317 + loader apply)."""
    from pyspark.sql import Window
    from tidb_binlog_spark.operators import compaction, ordering, safe_mode
    from tidb_binlog_spark.sinks import jdbc, sqlgen

    rows = [(i, "s0", i * 10, "IU"[i % 2], i % 5, 0, float(i) + 0.5)
            for i in range(30)]
    ch = make_changes(spark, rows).withColumn(
        "k", F.concat(F.lit("key_"), F.col("pk").cast("string")))
    payloads = ob.secondary_binlog_payloads(ch)

    # a crash-rewound consumer re-reads the last 10 txns verbatim
    replayed = payloads.unionByName(
        payloads.orderBy(F.desc("commit_ts")).limit(10))
    decoded = ob.parse_secondary_binlog_stream(
        replayed.select("payload"))
    # arbiter keeps ONE copy per commit_ts (exact message duplicates)
    deduped = (decoded.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("commit_ts", "pk").orderBy("pk")))
        .filter(F.col("rn") == 1).drop("rn"))
    assert decoded.count() == 40 and deduped.count() == 30

    # the arbiter applies in safe mode (I -> REPLACE): re-reads and
    # same-pk inserts across txns stay idempotent
    rewritten = safe_mode.safe_mode_rewrite(
        deduped.select("db", "tbl", "op", "commit_ts",
                       F.lit(0).alias("seq"), "pk", "val")
               .withColumn("arrival_seq", F.col("commit_ts")))
    stmts = (sqlgen.generate_sql(
        rewritten, pk_cols=("pk",), value_cols=("pk", "val"),
        dialect="sqlite")
        .withColumn("worker_id", F.lit(0)))
    db_dir = str(tmp_path / "dbs")
    jdbc.apply_statements(
        stmts, db_dir, num_workers=1,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk INTEGER PRIMARY KEY, val REAL)",))
    applied = {r["pk"]: r["val"] for r in jdbc.read_applied(
        spark, db_dir, "`t`", ["pk", "val"]).collect()}
    want = {r["pk"]: r["val"] for r in compaction.apply_snapshot(
        ordering.ordered_stream(ch)).collect()}
    assert applied == want


def test_assemble_secondary_matches_generic_encoders():
    """The memoized fast assembly (_assemble_secondary) is
    byte-for-byte the composition of encode_obinlog_column/encode_row/
    encode_mutation/encode_table/encode_secondary_binlog over the same
    ordered rows — the parity its docstring promises (it serves the
    Kafka sink and the wire bench; both encode and decode are ours, so
    a drift would roundtrip 'cleanly' and corrupt silently)."""
    import numpy as np
    import pandas as pd

    n = 3000
    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({
        "commit_ts": np.sort(rng.randint(1, n // 4, n).astype(np.int64)),
        "seq": np.arange(n, dtype=np.int64),
        "arrival_seq": np.arange(n, dtype=np.int64),
        "op": np.where(rng.rand(n) < 0.5, "I",
                       np.where(rng.rand(n) < 0.5, "U", "D")),
        "db": np.where(rng.rand(n) < 0.5, "db0", "db1"),
        "tbl": np.where(rng.rand(n) < 0.3, "t2", "t1"),
        # include pk < 128 (1-byte varint), big and NEGATIVE pks
        # (10-byte two's-complement varint)
        "pk": np.concatenate([rng.randint(0, 100, n // 2),
                              rng.randint(-10**9, 10**9, n - n // 2)]
                             ).astype(np.int64),
        "val": rng.rand(n) * 1e6 - 5e5,
        "k": pd.Series([f"key_{i % 89}" for i in range(n)]),
    })

    col_infos = [ob.encode_column_info(nm, t, pk)
                 for nm, t, pk in ob._COLSPEC]
    uk = [ob.encode_key("PRIMARY", ["pk"])]

    def assemble_generic(pdf):
        pdf = pdf.sort_values(["commit_ts", "seq", "arrival_seq"])
        rows, cur_ct, tables = [], None, {}

        def flush():
            if cur_ct is None:
                return
            tbl_msgs = [ob.encode_table(db, tbl, col_infos, muts, uk)
                        for (db, tbl), muts in sorted(tables.items())]
            rows.append((int(cur_ct),
                         ob.encode_secondary_binlog(int(cur_ct),
                                                    tbl_msgs)))

        for r in pdf.itertuples():
            if r.commit_ts != cur_ct:
                flush()
                cur_ct = r.commit_ts
                tables = {}
            tp = {"I": ob.INSERT, "U": ob.UPDATE, "D": ob.DELETE}[r.op]
            vals = (int(r.pk), float(r.val), str(r.k))
            row = ob.encode_row([ob.encode_obinlog_column(v, t)
                                 for v, (_, t, _p)
                                 in zip(vals, ob._COLSPEC)])
            change = None
            if tp == ob.UPDATE:
                old = (int(r.pk), float(r.val) - 1.0, "old_" + str(r.k))
                change = ob.encode_row([ob.encode_obinlog_column(v, t)
                                        for v, (_, t, _p)
                                        in zip(old, ob._COLSPEC)])
            tables.setdefault((r.db, r.tbl), []).append(
                ob.encode_mutation(tp, row, change))
        flush()
        return pd.DataFrame(rows, columns=["commit_ts", "payload"])

    want = assemble_generic(pdf)
    got = ob._assemble_secondary(pdf, col_infos, uk)
    assert list(want.commit_ts) == list(got.commit_ts)
    assert all(bytes(a) == bytes(b)
               for a, b in zip(want.payload, got.payload))
