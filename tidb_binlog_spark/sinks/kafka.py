"""Kafka transport wiring for the obinlog sink / arbiter source.

Reference contract (drainer/sync/kafka.go:38-278):
- topic defaults to ``<clusterID>_obinlog`` (kafka.go:61-62);
- messages are produced with Key=nil to PARTITION 0 via a manual
  partitioner (kafka.go:96,153) — the single-partition topic IS the
  total-order guarantee consumers rely on;
- the value is the MARSHALLED SECONDARY-BINLOG PROTOBUF
  (drainer/translator/kafka.go:38-150 builds the tipb message;
  sinks/obinlog_pb encodes the same public slave_binlog proto) —
  one message per transaction;
- the producer bounds its in-flight window and errors on unacked
  messages (kafka.go:186-278) — modeled by :class:`AckWindow`;
- the arbiter consumes from a saved offset and deduplicates re-reads
  by commit_ts (arbiter/server.go:287-317 — the dedup operator lives
  in the sink_payload_roundtrip surface).

Spark-first: the produce side is a DataFrame in the exact column
contract Spark's Kafka sink consumes (key/value/topic/partition), so
``df.write.format("kafka")`` / ``writeStream`` need only broker
options; the consume side is ``readStream.format("kafka")`` plus
``decode_kafka_batch``. The engine ships no broker connector (that
needs the spark-sql-kafka package and a broker): it builds and
decodes the frames and builds the broker options
(``producer_options`` / ``consumer_options``), and a deployment adds
the send/poll calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import obinlog_pb


def default_topic(cluster_id: int) -> str:
    """kafka.go:61-62: clusterID string + "_obinlog"."""
    return f"{cluster_id}_obinlog"


def with_row_image(changes: DataFrame) -> DataFrame:
    """Ensure the typed row image columns the protobuf marshal needs:
    the normalized stream carries ``k`` inside row_json; the wire
    message carries it as a typed column (THE shared image rule,
    sources/changestream.row_image_k — one definition for the wide
    model, the wire, and the oracles)."""
    if "k" in changes.columns:
        return changes
    if "row_json" not in changes.columns:
        raise ValueError("protobuf wire needs a 'k' column or row_json")
    from ..sources.changestream import row_image_k
    return changes.withColumn("k", row_image_k())


def kafka_frame(changes: DataFrame, cluster_id: int = 0,
                topic: str | None = None) -> DataFrame:
    """Change events -> the Spark Kafka sink's column contract:
    (key BINARY, value BINARY, topic STRING, partition INT).

    value is one marshalled secondary-binlog Binlog PER TRANSACTION
    (drainer/translator/kafka.go:38-150 via sinks/obinlog_pb).

    key is NULL and partition is the constant 0, mirroring the manual
    partitioner. A single target partition is NOT by itself a
    total-order guarantee — concurrent Spark tasks would race their
    sends into the broker's append order — so the frame is coalesced
    to ONE producing task sorted by commit_ts, matching the
    reference's single sequential producer goroutine
    (kafka.go:153-187). At 100 TB this is a deliberate single-writer
    bottleneck the REFERENCE also has (total order is the product
    contract)."""
    topic = topic or default_topic(cluster_id)
    msgs = obinlog_pb.secondary_binlog_payloads(with_row_image(changes))
    frame = msgs.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("payload").alias("value"),    # already protobuf bytes
        F.lit(topic).alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("commit_ts").alias("_order"))
    # repartition(1), NOT coalesce(1): coalesce would collapse the
    # message ASSEMBLY upstream into the same single task; the
    # explicit shuffle keeps the marshal parallel and serializes only
    # the (much smaller) framed messages into the single producer
    return (frame.repartition(1)
            .sortWithinPartitions("_order")
            .drop("_order"))


def producer_options(bootstrap_servers: str,
                     max_message_bytes: int | None = None) -> dict[str, str]:
    """Spark Kafka sink options mirroring the producer config kafka.go
    builds (acks=all WaitForAll, max message size)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "kafka.acks": "all",
    }
    if max_message_bytes is not None:
        opts["kafka.max.request.size"] = str(max_message_bytes)
    return opts


def consumer_options(bootstrap_servers: str, cluster_id: int = 0,
                     topic: str | None = None,
                     starting_offsets: str = "earliest") -> dict[str, str]:
    """Spark Kafka source options for the arbiter-side consume."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic or default_topic(cluster_id),
        "startingOffsets": starting_offsets,
        # single-partition topic: one Spark task consumes in order
        "maxOffsetsPerTrigger": "100000",
    }


def decode_kafka_batch(raw: DataFrame) -> DataFrame:
    """The decode projection of a Kafka source frame: value bytes ->
    one row per MUTATION inside each per-txn Binlog (arbiter-side
    translate, pkg/loader/translate.go), offset -> arrival_seq."""
    return obinlog_pb.parse_secondary_binlog_stream(
        raw.select(F.col("offset").alias("arrival_seq"),
                   F.col("value").alias("payload")),
        carry=("arrival_seq",))


class KafkaAckTimeout(RuntimeError):
    """Raised when a produced message stays unacked past the deadline
    (drainer/sync/kafka.go: maxWaitTimeToSendMSG — the sync errors
    out rather than buffering forever against a dead broker)."""


class AckWindow:
    """The producer's bounded in-flight window and in-order success
    callbacks (drainer/sync/kafka.go:186-278):

    - at most ``max_in_flight_bytes`` (reference: ~90 MB) of messages
      may be in flight; ``try_send`` refuses (stalls the producer)
      beyond that;
    - the oldest unacked message older than ``ack_timeout_s``
      (reference: 30 s) is an ERROR, not a silent retry —
      ``check_timeouts`` raises :class:`KafkaAckTimeout`;
    - success callbacks fire IN SEND ORDER regardless of broker ack
      order (the saved checkpoint ts only ever advances over a
      contiguous acked prefix — same rule as the drainer's success
      channel consumption).

    This is the transport-side state machine Spark's Kafka sink
    enforces internally via kafka.acks/max.request.size; it exists
    here so the contract is testable without a broker."""

    def __init__(self, max_in_flight_bytes: int = 90 << 20,
                 ack_timeout_s: float = 30.0):
        self.max_in_flight_bytes = int(max_in_flight_bytes)
        self.ack_timeout_s = float(ack_timeout_s)
        self._inflight: dict[int, tuple[int, float]] = {}  # seq -> (bytes, sent_at)
        self._acked: set[int] = set()
        self._bytes = 0
        self._next_seq = 0
        self._callback_seq = 0       # next seq whose success fires

    @property
    def in_flight_bytes(self) -> int:
        return self._bytes

    @property
    def committed_through(self) -> int:
        """Highest seq whose success callback has fired (and every
        seq below it) — the checkpoint the consumer saves. O(1)
        state: a long-lived producer must never accumulate a
        per-message record (the window itself is the bound)."""
        return self._callback_seq - 1

    def try_send(self, nbytes: int, now: float) -> int | None:
        """Reserve window space; returns the message seq, or None when
        the window is full (producer must stall and retry)."""
        if self._bytes + int(nbytes) > self.max_in_flight_bytes \
                and self._inflight:
            return None
        seq = self._next_seq
        self._next_seq += 1
        self._inflight[seq] = (int(nbytes), float(now))
        self._bytes += int(nbytes)
        return seq

    def ack(self, seq: int) -> list[int]:
        """Broker acked ``seq``; returns the seqs whose SUCCESS
        callbacks fire now — only the contiguous acked prefix, in
        order, however the acks arrived."""
        if seq not in self._inflight:
            return []
        nbytes, _ = self._inflight.pop(seq)
        self._bytes -= nbytes
        self._acked.add(seq)
        fired = []
        while self._callback_seq in self._acked:
            self._acked.remove(self._callback_seq)
            fired.append(self._callback_seq)
            self._callback_seq += 1
        return fired

    def check_timeouts(self, now: float) -> None:
        """Error out if any in-flight message is older than the ack
        deadline (kafka.go's maxWaitTimeToSendMSG error path)."""
        for seq, (_, sent_at) in self._inflight.items():
            if float(now) - sent_at > self.ack_timeout_s:
                raise KafkaAckTimeout(
                    f"message seq={seq} unacked for "
                    f"{float(now) - sent_at:.1f}s "
                    f"(> {self.ack_timeout_s}s)")
