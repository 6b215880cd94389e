"""Kafka transport wiring (no broker in this sandbox): the produce
frame matches Spark's Kafka sink contract and the reference's
single-partition total-order semantics; the consume projection decodes
what a broker would hand back, byte-for-byte.

Reference: drainer/sync/kafka.go:38-278 (topic naming, manual
partitioner to partition 0, nil key), arbiter/server.go:287-317."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import make_changes
from tidb_binlog_spark.sinks import kafka


def _ch(spark):
    return make_changes(spark, [
        (i, "s0", i * 10, "IUD"[i % 3], i % 5, 0, float(i)) for i in range(30)])


def test_default_topic_matches_reference():
    assert kafka.default_topic(6711494708837530188) == \
        "6711494708837530188_obinlog"


def test_kafka_frame_contract(spark):
    frame = kafka.kafka_frame(_ch(spark), cluster_id=42)
    # exact column contract of spark's kafka sink
    assert [(f.name, type(f.dataType)) for f in frame.schema.fields] == [
        ("key", T.BinaryType), ("value", T.BinaryType),
        ("topic", T.StringType), ("partition", T.IntegerType)]
    rows = frame.collect()
    assert all(r["key"] is None for r in rows)          # nil key
    assert all(r["partition"] == 0 for r in rows)       # manual partition 0
    assert all(r["topic"] == "42_obinlog" for r in rows)
    assert all(isinstance(r["value"], (bytes, bytearray)) for r in rows)
    # one message PER TRANSACTION (30 events, 30 distinct commit_ts ->
    # 30 messages), each value a decodable protobuf Binlog
    from tidb_binlog_spark.sinks import obinlog_pb as ob
    assert len(rows) == 30
    decoded = ob.decode_secondary_binlog(bytes(rows[0]["value"]))
    assert decoded["type"] == ob.DML and decoded["tables"]


def test_producer_consumer_options():
    p = kafka.producer_options("b1:9092,b2:9092", max_message_bytes=1 << 30)
    assert p["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert p["kafka.acks"] == "all"                     # WaitForAll
    assert p["kafka.max.request.size"] == str(1 << 30)
    c = kafka.consumer_options("b:9092", cluster_id=7)
    assert c["subscribe"] == "7_obinlog"
    assert c["startingOffsets"] == "earliest"


def test_produce_decode_roundtrip_protobuf_wire(spark):
    """The protobuf wire: the value bytes are real secondary-
    binlog Binlogs; the arbiter-side decode recovers every mutation's
    typed row and old image, with the broker offset carried through as
    arrival_seq."""
    from pyspark.sql import Window
    ch = _ch(spark)
    frame = kafka.kafka_frame(ch)
    w = Window.partitionBy("partition").orderBy(F.col("value"))
    echoed = frame.withColumn(
        "offset", F.row_number().over(w).cast("long"))
    decoded = kafka.decode_kafka_batch(echoed)
    assert "arrival_seq" in decoded.columns
    got = decoded.select("commit_ts", "op", "db", "tbl", "pk", "val",
                         "old_val")
    # the normalized stream's k rides row_json ('{"k": 1}'); the old
    # image rule is the wide model's (val-1 for updates)
    want = ch.select(
        "commit_ts", "op", "db", "tbl", "pk", "val",
        F.when(F.col("op") == "U", F.col("val") - 1).alias("old_val"))
    assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0


def test_ack_window_stall_and_resume():
    """The 90 MB in-flight window (drainer/sync/kafka.go:186-278):
    a full window refuses sends (producer stalls); acking frees space
    and the producer resumes."""
    w = kafka.AckWindow(max_in_flight_bytes=100, ack_timeout_s=30.0)
    s0 = w.try_send(60, now=0.0)
    s1 = w.try_send(40, now=1.0)
    assert s0 == 0 and s1 == 1 and w.in_flight_bytes == 100
    # window full: the next send stalls
    assert w.try_send(10, now=2.0) is None
    # broker acks the first message -> space frees -> send succeeds
    assert w.ack(s0) == [0]
    s2 = w.try_send(10, now=3.0)
    assert s2 == 2 and w.in_flight_bytes == 50


def test_ack_window_success_callbacks_fire_in_send_order():
    """Out-of-order broker acks must not fire out-of-order success
    callbacks — the saved checkpoint only advances over the contiguous
    acked prefix (kafka.go success-channel consumption order)."""
    w = kafka.AckWindow()
    a, b, c = (w.try_send(10, 0.0) for _ in range(3))
    assert w.ack(c) == []            # acked, but 0 and 1 still pending
    assert w.committed_through == -1     # checkpoint cannot advance
    assert w.ack(a) == [0]           # prefix [0] fires
    assert w.committed_through == 0
    assert w.ack(b) == [1, 2]        # prefix completes: 1 then 2
    assert w.committed_through == 2


def test_ack_window_error_after_timeout():
    """An unacked message past the 30 s deadline is an ERROR, not a
    silent wait (kafka.go maxWaitTimeToSendMSG)."""
    import pytest
    w = kafka.AckWindow(ack_timeout_s=30.0)
    s0 = w.try_send(10, now=0.0)
    w.check_timeouts(now=29.0)       # inside the deadline: fine
    w.ack(s0)
    s1 = w.try_send(10, now=40.0)
    w.check_timeouts(now=69.0)       # the acked one no longer counts
    with pytest.raises(kafka.KafkaAckTimeout):
        w.check_timeouts(now=71.0)   # s1 unacked for 31 s
    assert s1 == 1


def test_ack_window_oversize_single_message_still_sends():
    """A single message larger than the window must not deadlock (the
    reference sizes max.request.size ABOVE the stall threshold): an
    empty window always accepts one message."""
    w = kafka.AckWindow(max_in_flight_bytes=100)
    s0 = w.try_send(500, now=0.0)    # empty window: accepted
    assert s0 == 0
    assert w.try_send(1, now=0.0) is None   # then stalls
    w.ack(s0)
    assert w.try_send(1, now=1.0) == 1


def test_single_partition_plan_assertion_walks_narrow_nodes_only(spark):
    """The append-order offset guard accepts Repartition(1) only below
    narrow nodes: the frame kafka_frame hands it passes, while an
    aggregate, a global sort or a wider repartition above (or instead
    of) Repartition(1) is rejected."""
    import pytest

    import __spark_entry__ as m
    ch = _ch(spark)
    m._assert_single_partition_plan(kafka.kafka_frame(ch, cluster_id=42))
    one = ch.repartition(1)
    m._assert_single_partition_plan(
        one.sortWithinPartitions("commit_ts").filter(F.col("pk") > 0)
           .select("commit_ts", "op"))
    for bad in (one.groupBy("op").agg(F.count(F.lit(1)).alias("n")),
                one.orderBy("commit_ts"),
                ch.repartition(4, "pk"),
                ch):
        with pytest.raises(AssertionError, match="single-partition"):
            m._assert_single_partition_plan(bad)


def test_arbiter_path_end_to_end_wire_to_sqlite(spark, tmp_path):
    """The full arbiter story (SURVEY §3.4) over the real wire: change
    events -> per-txn secondary-binlog protobuf frames -> broker echo
    -> arbiter decode -> statement build -> shared-downstream apply.
    Final SQLite state must equal applying the ORIGINAL events
    directly (the wire round trip loses nothing the sink needs)."""
    import os
    import sqlite3

    from pyspark.sql import Window
    from tests.conftest import make_changes
    from tidb_binlog_spark.sinks import jdbc, kafka, sqlgen

    events = [(1, "s0", 10, "I", 1, 0, 1.0),
              (2, "s0", 20, "I", 2, 0, 2.0),
              (3, "s0", 30, "U", 1, 1, 9.0),
              (4, "s0", 40, "D", 2, 0, 2.0),
              (5, "s0", 50, "I", 3, 0, 3.0)]
    ch = kafka.with_row_image(make_changes(spark, events))

    frame = kafka.kafka_frame(ch, cluster_id=7)
    w = Window.partitionBy("partition").orderBy("value")
    echoed = frame.withColumn("offset",
                              F.row_number().over(w).cast("long"))
    decoded = kafka.decode_kafka_batch(echoed)

    # arbiter -> loader: decoded mutations become ordered statements
    stmts = (sqlgen.generate_sql(
                decoded.withColumn("seq", F.lit(0))
                       .withColumn("sub_seq", F.lit(0)),
                dialect="sqlite")
             .withColumn("worker_id", F.lit(0)))
    db_dir = str(tmp_path / "db")
    setup = ("CREATE TABLE IF NOT EXISTS t (pk INTEGER PRIMARY KEY, val REAL)",)
    jdbc.apply_statements(stmts, db_dir, 1, setup_sql=setup,
                          checkpoint_ts=50)
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    got = sorted(conn.execute("SELECT pk, val FROM t").fetchall())
    conn.close()

    # direct apply of the original events, bypassing the wire
    direct_stmts = (sqlgen.generate_sql(
                        ch.withColumn("sub_seq", F.lit(0)),
                        dialect="sqlite")
                    .withColumn("worker_id", F.lit(0)))
    db2 = str(tmp_path / "db2")
    jdbc.apply_statements(direct_stmts, db2, 1, setup_sql=setup,
                          checkpoint_ts=50)
    conn = sqlite3.connect(os.path.join(db2, jdbc.SHARED_DB_NAME))
    want = sorted(conn.execute("SELECT pk, val FROM t").fetchall())
    conn.close()
    assert got == want == [(1, 9.0), (3, 3.0)]
    assert jdbc.load_checkpoint(db_dir)[0] == 50
