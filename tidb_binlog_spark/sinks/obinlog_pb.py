"""Real protobuf wire format for the obinlog (secondary binlog) topic.

The Kafka sink's message is the marshalled secondary-binlog ``Binlog``
from the public slave_binlog proto (pingcap/tidb-tools
tidb_binlog/slave_binlog_proto); the drainer builds it in
drainer/translator/kafka.go:38-294 — genTable (schema/table +
ColumnInfo + unique Keys), insert/delete/updateRowToRow (typed Row /
ChangeRow values), DatumToColumn (per-mysql-type oneof-style value
fields, IsNull for NULL).

Message shapes (field numbers follow the public proto):
  Column:        1 is_null(bool)  2 int64_value  3 uint64_value
                 4 double_value   5 bytes_value  6 string_value
  ColumnInfo:    1 name  2 mysql_type  3 is_primary_key
  Row:           1 columns(repeated Column)
  TableMutation: 1 type(enum Insert=0/Update=1/Delete=2)
                 2 row(Row)  3 change_row(Row)
  Key:           1 name  2 column_names(repeated string)
  Table:         1 schema_name  2 table_name
                 3 column_info(repeated)  4 mutations(repeated)
                 5 unique_keys(repeated Key)
  DMLData:       1 tables(repeated Table)
  DDLData:       1 schema_name  2 table_name  3 ddl_query(bytes)
  Binlog:        1 type(DML=0/DDL=1)  2 commit_ts(int64)
                 3 dml_data  4 ddl_data

Wire primitives are shared with sinks/pbcodec (varint keys, wiretypes
0/1/2/5). Encoding is per-transaction like the Kafka sink (one Binlog
per commit), Arrow-batched through applyInPandas.
"""

from __future__ import annotations

import struct
from typing import Iterator

from .pbcodec import (_field_bytes, _field_varint, _signed64, _uvarint,
                      parse_message)

INSERT, UPDATE, DELETE = 0, 1, 2
DML, DDL = 0, 1


# ---------------------------------------------------------------------------
# message encoders (DatumToColumn semantics: one value field per
# mysql type family; NULL -> is_null only)
# ---------------------------------------------------------------------------

def encode_obinlog_column(value, mysql_type: str, unsigned: bool = False
                          ) -> bytes:
    out = bytearray()
    if value is None:
        return bytes(_field_varint(1, 1))
    t = mysql_type.lower()
    if t in ("int", "bigint", "smallint", "tinyint", "mediumint"):
        if unsigned:
            out += _field_varint(3, int(value))
        else:
            out += _field_varint(2, int(value))
    elif t in ("float", "double"):
        out += bytes([(4 << 3) | 1]) + struct.pack("<d", float(value))
    elif t in ("enum", "set"):
        out += _field_varint(3, int(value))
    elif t in ("blob", "longblob", "mediumblob", "binary", "tinyblob",
               "varbinary", "bit", "json"):
        raw = value if isinstance(value, (bytes, bytearray)) else \
            str(value).encode()
        out += _field_bytes(5, bytes(raw))
    else:
        # date/time/decimal/char/varchar/text families -> string
        out += _field_bytes(6, str(value).encode())
    return bytes(out)


def decode_obinlog_column(buf: bytes):
    f = parse_message(buf)
    if f.get(1, [0])[0]:
        return None
    if 2 in f:
        return _signed64(f[2][0])
    if 3 in f:
        return f[3][0]
    if 4 in f:
        return struct.unpack("<d", struct.pack("<Q", f[4][0]))[0]
    if 5 in f:
        return bytes(f[5][0])
    if 6 in f:
        return f[6][0].decode()
    return None


def encode_row(cols: list[bytes]) -> bytes:
    out = bytearray()
    for c in cols:
        out += _field_bytes(1, c)
    return bytes(out)


def encode_column_info(name: str, mysql_type: str,
                       is_primary_key: bool) -> bytes:
    out = bytearray()
    out += _field_bytes(1, name.encode())
    out += _field_bytes(2, mysql_type.encode())
    if is_primary_key:
        out += _field_varint(3, 1)
    return bytes(out)


def encode_mutation(tp: int, row: bytes, change_row: bytes | None = None
                    ) -> bytes:
    out = bytearray(_field_varint(1, tp))
    out += _field_bytes(2, row)
    if change_row is not None:
        out += _field_bytes(3, change_row)
    return bytes(out)


def encode_key(name: str, column_names: list[str]) -> bytes:
    out = bytearray(_field_bytes(1, name.encode()))
    for c in column_names:
        out += _field_bytes(2, c.encode())
    return bytes(out)


def encode_table(schema_name: str, table_name: str,
                 column_infos: list[bytes], mutations: list[bytes],
                 unique_keys: list[bytes]) -> bytes:
    out = bytearray()
    out += _field_bytes(1, schema_name.encode())
    out += _field_bytes(2, table_name.encode())
    for ci in column_infos:
        out += _field_bytes(3, ci)
    for m in mutations:
        out += _field_bytes(4, m)
    for k in unique_keys:
        out += _field_bytes(5, k)
    return bytes(out)


def encode_secondary_binlog(commit_ts: int, tables: list[bytes] = (),
                            ddl: tuple[str, str, str] | None = None
                            ) -> bytes:
    out = bytearray()
    out += _field_varint(1, DDL if ddl is not None else DML)
    out += _field_varint(2, commit_ts)
    if ddl is not None:
        schema, table, query = ddl
        dd = bytearray(_field_bytes(1, schema.encode()))
        dd += _field_bytes(2, table.encode())
        dd += _field_bytes(3, query.encode())
        out += _field_bytes(4, bytes(dd))
    else:
        dml = bytearray()
        for t in tables:
            dml += _field_bytes(1, t)
        out += _field_bytes(3, bytes(dml))
    return bytes(out)


def decode_secondary_binlog(buf: bytes) -> dict:
    f = parse_message(buf)
    out = {"type": f.get(1, [0])[0], "commit_ts": _signed64(f.get(2, [0])[0]),
           "tables": []}
    if out["type"] == DDL:
        dd = parse_message(f[4][0])
        out["ddl"] = {"schema_name": dd[1][0].decode(),
                      "table_name": dd[2][0].decode(),
                      "ddl_query": dd[3][0].decode()}
        return out
    dml = parse_message(f[3][0]) if 3 in f else {}
    for traw in dml.get(1, []):
        tf = parse_message(traw)
        table = {
            "schema_name": tf[1][0].decode(),
            "table_name": tf[2][0].decode(),
            "column_info": [],
            "mutations": [],
            "unique_keys": [],
        }
        for ci in tf.get(3, []):
            cf = parse_message(ci)
            table["column_info"].append(
                {"name": cf[1][0].decode(),
                 "mysql_type": cf[2][0].decode(),
                 "is_primary_key": bool(cf.get(3, [0])[0])})
        for m in tf.get(4, []):
            mf = parse_message(m)
            row = [decode_obinlog_column(c)
                   for c in parse_message(mf[2][0]).get(1, [])]
            change = None
            if 3 in mf:
                change = [decode_obinlog_column(c)
                          for c in parse_message(mf[3][0]).get(1, [])]
            table["mutations"].append(
                {"type": mf.get(1, [0])[0], "row": row,
                 "change_row": change})
        for k in tf.get(5, []):
            kf = parse_message(k)
            table["unique_keys"].append(
                {"name": kf[1][0].decode(),
                 "column_names": [c.decode() for c in kf.get(2, [])]})
        out["tables"].append(table)
    return out


# ---------------------------------------------------------------------------
# Spark surface: one marshalled Binlog per transaction
# ---------------------------------------------------------------------------

# (name, mysql_type) for the normalized change stream's row image —
# the column_info genTable would derive from the model.TableInfo
_COLSPEC = (("pk", "bigint", True), ("val", "double", False),
            ("k", "varchar", False))


# single-byte varints (values < 128), shared by the fast assembly
_UV1 = [bytes([i]) for i in range(128)]
_OP_TP = {"I": INSERT, "U": UPDATE, "D": DELETE}


def _uv(n: int) -> bytes:
    return _UV1[n] if n < 128 else _uvarint(n)


def _assemble_secondary(pdf, col_infos, uk):
    """One (commit_ts)-sorted pandas batch -> one marshalled secondary
    Binlog per commit. Byte-identical to composing
    encode_obinlog_column/encode_row/encode_mutation/encode_table/
    encode_secondary_binlog (pinned by tests/test_obinlog_pb.py), but
    with the constant fragments memoized (r10, the pb-dump
    _assemble_payloads treatment): per (db, tbl) the Table message's
    fields 1-3 (schema/table/column_info) and field-5 tail (unique
    keys) encode once per batch; per row only the three value datums
    vary. Wire keys are the fixed proto constants — Column int64 0x10
    / double 0x21 / string 0x32 / is_null 0x08, Row 0x0a, Mutation
    0x08/0x12/0x1a, Table 0x22, DMLData 0x0a."""
    import pandas as pd
    import struct as _struct
    from .pbcodec import _uvarint

    # constant per-(db, tbl) Table header/tail
    ci_block = b"".join(_field_bytes(3, ci) for ci in col_infos)
    uk_block = b"".join(_field_bytes(5, k) for k in uk)
    tbl_hdr: dict[tuple, bytes] = {}

    pdf = pdf.sort_values(["commit_ts", "seq", "arrival_seq"])
    rows: list[tuple] = []
    cur_ct = None
    tables: dict[tuple[str, str], list[bytes]] = {}

    def enc_row(pk: int, val: float, k: str) -> bytes:
        # Column messages for the fixed (bigint, double, varchar) spec
        c_pk = b"\x10" + (_UV1[pk] if 0 <= pk < 128
                          else _uvarint(pk & ((1 << 64) - 1)))
        c_val = b"\x21" + _struct.pack("<d", val)
        raw = k.encode()
        nr = len(raw)
        c_k = b"\x32" + _uv(nr) + raw
        # Row: repeated field 1 (each column message)
        return (b"\x0a" + _uv(len(c_pk)) + c_pk
                + b"\x0a" + _uv(len(c_val)) + c_val
                + b"\x0a" + _uv(len(c_k)) + c_k)

    def flush():
        if cur_ct is None:
            return
        dml = bytearray()
        for (db, tbl), muts in sorted(tables.items()):
            hk = (db, tbl)
            hdr = tbl_hdr.get(hk)
            if hdr is None:
                hdr = tbl_hdr[hk] = (_field_bytes(1, db.encode())
                                     + _field_bytes(2, tbl.encode())
                                     + ci_block)
            t = bytearray(hdr)
            for m in muts:
                t += b"\x22" + _uv(len(m)) + m      # Table field 4
            t += uk_block
            dml += b"\x0a" + _uv(len(t)) + bytes(t)  # DMLData field 1
        payload = (_field_varint(1, DML)
                   + _field_varint(2, int(cur_ct))
                   + b"\x1a" + _uv(len(dml)) + bytes(dml))
        rows.append((int(cur_ct), payload))

    for r in pdf.itertuples():
        if r.commit_ts != cur_ct:
            flush()
            cur_ct = r.commit_ts
            tables = {}
        tp = _OP_TP[r.op]
        row = enc_row(int(r.pk), float(r.val), str(r.k))
        # Mutation: field 1 type, field 2 row, field 3 change_row
        m = b"\x08" + _UV1[tp] + b"\x12" + _uv(len(row)) + row
        if tp == UPDATE:
            change = enc_row(int(r.pk), float(r.val) - 1.0,
                             "old_" + str(r.k))
            m += b"\x1a" + _uv(len(change)) + change
        tables.setdefault((r.db, r.tbl), []).append(m)
    flush()
    return pd.DataFrame(rows, columns=["commit_ts", "payload"])


def secondary_binlog_payloads(changes, n_buckets: int | None = None
                              ) -> "DataFrame":  # noqa: F821
    """Change events -> (commit_ts, payload BINARY): one secondary
    Binlog per commit, mutations grouped per (db, tbl) into Table
    messages (TiBinlogToSecondaryBinlog, kafka.go:38-94), each with
    ColumnInfo and the PRIMARY Key entry (genTable).

    Arrow granularity: grouping Spark-side by COMMIT would pay one
    Python call + pandas frame per (usually tiny) transaction, so the
    applyInPandas groups are hash(commit_ts) % n_buckets (default
    4 x parallelism — even load at any ts density) and the per-commit
    split is ONE in-batch sort + linear scan — thousands of txns per
    Arrow exchange."""
    import pandas as pd

    col_infos = [encode_column_info(n, t, pk) for n, t, pk in _COLSPEC]
    uk = [encode_key("PRIMARY", ["pk"])]

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        return _assemble_secondary(pdf, col_infos, uk)

    from pyspark.sql import functions as F
    if n_buckets is None:
        n_buckets = changes.sparkSession.sparkContext \
            .defaultParallelism * 4
    bucketed = changes.withColumn(
        "_tsb", F.pmod(F.hash("commit_ts"), F.lit(n_buckets)))
    return (bucketed.groupBy("_tsb")
            .applyInPandas(assemble,
                           schema="commit_ts long, payload binary"))


def parse_secondary_binlog_stream(payloads,
                                  carry: tuple[str, ...] = ()
                                  ) -> "DataFrame":  # noqa: F821
    """Inverse: (payload, ...) -> one row per mutation with the typed
    values recovered — the arbiter-side translate.go decode. ``carry``
    names transport columns (e.g. the Kafka offset as arrival_seq)
    replicated onto every mutation row of their message.

    Decode engine: the numpy lockstep batch walk (obinlog_np, r14,
    guide §4.2) over ``mapInArrow`` — the payload column's contiguous
    Arrow buffer is parsed without materializing per-payload bytes
    objects or per-row tuples; payloads the lockstep walk rejects
    (DDL, unusual column shapes, corrupt framing) re-decode one by
    one through decode_secondary_binlog, the parity oracle
    (tests/test_obinlog_np.py)."""
    def decode(batches):
        from .obinlog_np import parse_batch
        for batch in batches:
            yield parse_batch(batch, carry)

    # carry columns keep their INPUT types — hardcoding long would
    # break string/timestamp transport columns at the Arrow boundary
    in_types = {f.name: f.dataType.simpleString()
                for f in payloads.schema.fields}
    carry_schema = "".join(f"{c} {in_types[c]}, " for c in carry)
    return payloads.mapInArrow(
        decode, schema=carry_schema +
                       "commit_ts long, db string, tbl string, op string, "
                       "pk long, val double, k string, "
                       "old_val double, old_k string")
