"""numpy lockstep decode of secondary-binlog (obinlog) payloads — the
batch twin of :mod:`obinlog_pb`'s per-payload decoders (the kvcodec_np
treatment applied to the arbiter-side translate, VERDICT r13 item 6,
guide §4.2).

The per-payload reference semantics live in
obinlog_pb.decode_secondary_binlog; this module computes the SAME
surface rows for a whole Arrow batch at numpy speed:

- the payload column of the record batch is already ONE contiguous
  data buffer plus an offsets array (guide §4.2), so the "concat all
  payloads" step is free — no per-payload bytes objects exist at any
  point on the fast path;
- Binlog/DMLData/Table/Mutation/Row framing is parsed in LOCKSTEP:
  step t decodes the t-th field of every still-active payload at once
  (vectorized varint reads; repeated Table/Mutation fields advance in
  waves masked to the payloads that still have one);
- the constant ColumnInfo + Key blocks our encoder emits are verified
  with ONE windowed byte compare per table instead of being re-parsed
  per payload;
- output columns are built columnar (int64/float64 views, one ragged
  gather per string column into ``StringArray.from_buffers``) — no
  per-row tuples, no pandas object rows;
- anything the walk does not recognize (DDL binlogs, missing/extra
  fields, null pks, non-(int,double,string) column shapes, varint
  overflows) marks THAT PAYLOAD bad; bad payloads re-decode one by
  one through decode_secondary_binlog, which stays the parity oracle
  (tests/test_obinlog_np.py pins batch == loop on adversarial
  inputs), exactly as kvcodec_np does for the KV decode. The walk
  rejected none of the encoder's payloads for the sf0.01 and sf0.1
  change streams, so the generic parser runs for DDL and foreign
  shapes only.

NaN parity note: the mapInPandas path this replaces built pandas
object rows, and Spark's pandas->Arrow conversion turns float NaN
into SQL NULL; genuine NaN datums therefore surface as NULL today,
and the lockstep path masks ``isnan`` values to keep that surface
bit-identical.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..functions.kvcodec_np import _uvarint_vec
from .pbcodec import _field_bytes, _intra

_EMPTY_I = np.empty(0, np.int64)


def _canon_blocks():
    from . import obinlog_pb as ob
    ci = b"".join(_field_bytes(3, ob.encode_column_info(n, t, pk))
                  for n, t, pk in ob._COLSPEC)
    uk = _field_bytes(5, ob.encode_key("PRIMARY", ["pk"]))
    return (np.frombuffer(ci, np.uint8), np.frombuffer(uk, np.uint8))


_CI_UK = None


def _string_from_ragged(buf, offs, lens, nulls=None):
    """(offset, length) slices of ``buf`` -> pa.StringArray via one
    gather; ``nulls`` marks rows that are NULL (their length must
    already be 0)."""
    n = len(offs)
    lens = lens.astype(np.int64)
    idx = np.repeat(offs, lens) + _intra(lens)
    data = buf[idx].tobytes()
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    if nulls is None or not nulls.any():
        return pa.StringArray.from_buffers(
            n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data))
    validity = np.packbits(~nulls, bitorder="little")
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data),
        pa.py_buffer(validity.tobytes()), int(nulls.sum()))


def _parse_row_regions(buf, rs, re_):
    """Vector parse of Row messages at [rs, re_): exactly three
    length-delimited Column fields shaped (int64 pk | double val |
    string k), each possibly the 2-byte is_null message (pk's null
    routes to the fallback — the generic walk surfaces a None there,
    which has no int64 spelling). Returns (ok, pk, val, val_null,
    k_off, k_len, k_null)."""
    m = len(rs)
    ok = np.ones(m, bool)
    pos = rs
    regions = []
    for _ in range(3):
        ok &= buf[pos] == 0x0A
        cl, ln, vb = _uvarint_vec(buf, pos + 1)
        ok &= ~vb
        cs = pos + 1 + ln
        ce = cs + cl.astype(np.int64)
        ok &= ce <= re_
        # clamp so later masked reads at failed rows stay in-bounds
        cs = np.minimum(cs, len(buf) - 16)
        ce = np.minimum(ce, len(buf) - 16)
        regions.append((cs, ce))
        pos = ce
    ok &= pos == re_
    (pk_s, pk_e), (v_s, v_e), (k_s, k_e) = regions

    pkv, ln, vb = _uvarint_vec(buf, pk_s + 1)
    ok &= (buf[pk_s] == 0x10) & ~vb & (pk_s + 1 + ln == pk_e)
    pk = pkv.view(np.int64)

    v_null = (v_e - v_s == 2) & (buf[v_s] == 0x08) & (buf[v_s + 1] == 0x01)
    v_dbl = (buf[v_s] == 0x21) & (v_e - v_s == 9)
    ok &= v_dbl | v_null
    val = np.ascontiguousarray(
        buf[v_s[:, None] + 1 + np.arange(8)]).view("<f8").ravel().copy()
    val[~v_dbl] = np.nan
    val_null = v_null | np.isnan(val)   # NaN->NULL parity, see header

    k_null = (k_e - k_s == 2) & (buf[k_s] == 0x08) & (buf[k_s + 1] == 0x01)
    kl, ln, vb = _uvarint_vec(buf, k_s + 1)
    k_ok = (buf[k_s] == 0x32) & ~vb
    koff = k_s + 1 + ln
    klen = kl.astype(np.int64)
    k_ok &= koff + klen == k_e
    ok &= k_ok | k_null
    good_k = k_ok & ok & ~k_null
    koff = np.where(good_k, koff, 0)
    klen = np.where(good_k, klen, 0)
    return ok, pk, val, val_null, koff, klen, k_null


def _fallback_rows(col, pay_idx):
    """Per-payload decode of the payloads the lockstep walk rejected,
    through the fully generic parser — including its exceptions."""
    from . import obinlog_pb as ob
    rows: list = []
    for i in pay_idx:
        raw = bytes(col[int(i)].as_py())
        b = ob.decode_secondary_binlog(raw)
        for t in b["tables"]:
            names = [c["name"] for c in t["column_info"]]
            for mu in t["mutations"]:
                vals = dict(zip(names, mu["row"]))
                old = dict(zip(names, mu["change_row"])) \
                    if mu["change_row"] else {}
                rows.append((int(i), b["commit_ts"], t["schema_name"],
                             t["table_name"],
                             {0: "I", 1: "U", 2: "D"}[mu["type"]],
                             vals["pk"], vals["val"], vals["k"],
                             old.get("val"), old.get("k")))
    return rows


def parse_batch(batch: pa.RecordBatch, carry: tuple[str, ...]
                ) -> pa.RecordBatch:
    """One Arrow batch of (payload BINARY, *carry) -> one mutation row
    per output record, columnar end to end. Row order is payload
    order, then table order, then mutation order — identical to the
    per-payload walk."""
    global _CI_UK
    if _CI_UK is None:
        _CI_UK = _canon_blocks()
    ci_blk, uk_blk = _CI_UK
    cl_ci, cl_uk = len(ci_blk), len(uk_blk)

    col = batch.column(batch.schema.get_field_index("payload"))
    if isinstance(col, pa.ChunkedArray):        # defensive; batches
        col = col.combine_chunks()              # carry plain arrays
    n = len(col)

    out_names = [*carry, "commit_ts", "db", "tbl", "op",
                 "pk", "val", "k", "old_val", "old_k"]

    if n == 0:
        empty = {
            "commit_ts": pa.array([], pa.int64()),
            "db": pa.array([], pa.string()),
            "tbl": pa.array([], pa.string()),
            "op": pa.array([], pa.string()),
            "pk": pa.array([], pa.int64()),
            "val": pa.array([], pa.float64()),
            "k": pa.array([], pa.string()),
            "old_val": pa.array([], pa.float64()),
            "old_k": pa.array([], pa.string()),
        }
        arrays = [batch.column(batch.schema.get_field_index(c)).take(
            pa.array([], pa.int64())) if c in carry else empty[c]
            for c in out_names]
        return pa.RecordBatch.from_arrays(arrays, out_names)

    off_np = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], off_np,
                            count=n + 1 + col.offset)[col.offset:]
    # a column whose payloads are all null or empty may come without a
    # data buffer: every offset is then 0, each payload fails the
    # header check below and re-decodes through the per-payload
    # fallback like any other shape the lockstep walk rejects
    data = (np.zeros(0, np.uint8) if bufs[2] is None
            else np.frombuffer(bufs[2], np.uint8))
    buf = np.concatenate([data, np.zeros(32, np.uint8)])
    starts = offsets[:-1].astype(np.int64)
    ends = offsets[1:].astype(np.int64)

    bad = np.zeros(n, bool)
    if col.null_count:
        bad |= col.is_null().to_numpy(zero_copy_only=False)

    ct = np.zeros(n, np.int64)

    # --- Binlog header: f1 type, f2 commit_ts, f3 dml ---
    idx = np.flatnonzero(~bad)
    pp = starts[idx]
    ok = (pp < ends[idx]) & (buf[pp] == 0x08)
    bad[idx[~ok]] = True
    idx, pp = idx[ok], pp[ok]
    v, ln, vb = _uvarint_vec(buf, pp + 1)
    isdml = ~vb & (v == 0)      # DDL / unknown type -> fallback
    bad[idx[~isdml]] = True
    idx, pp, ln = idx[isdml], pp[isdml], ln[isdml]
    pp = pp + 1 + ln

    ok = (pp < ends[idx]) & (buf[pp] == 0x10)
    bad[idx[~ok]] = True
    idx, pp = idx[ok], pp[ok]
    v, ln, vb = _uvarint_vec(buf, pp + 1)
    bad[idx[vb]] = True
    keep = ~vb
    idx, pp, v, ln = idx[keep], pp[keep], v[keep], ln[keep]
    ct[idx] = v.view(np.int64)
    pp = pp + 1 + ln

    has = pp < ends[idx]        # f3 absent => empty DML, zero rows
    idx, pp = idx[has], pp[has]
    ok = buf[pp] == 0x1A
    bad[idx[~ok]] = True
    idx, pp = idx[ok], pp[ok]
    dl, ln, vb = _uvarint_vec(buf, pp + 1)
    bad[idx[vb]] = True
    keep = ~vb
    idx, pp, dl, ln = idx[keep], pp[keep], dl[keep], ln[keep]
    ds = pp + 1 + ln
    de = ds + dl.astype(np.int64)
    exact = de == ends[idx]     # anything after f3 -> fallback
    bad[idx[~exact]] = True
    idx, ds, de = idx[exact], ds[exact], de[exact]

    # --- Table waves over DMLData (repeated f1 bytes) ---
    t_pay, t_s, t_e, t_w = [], [], [], []
    cur_i, cur_p, cur_e = idx, ds, de
    nonempty = cur_p < cur_e
    cur_i, cur_p, cur_e = cur_i[nonempty], cur_p[nonempty], cur_e[nonempty]
    wave = 0
    while len(cur_i):
        ok = buf[cur_p] == 0x0A
        bad[cur_i[~ok]] = True
        cur_i, cur_p, cur_e = cur_i[ok], cur_p[ok], cur_e[ok]
        tl, ln, vb = _uvarint_vec(buf, cur_p + 1)
        bad[cur_i[vb]] = True
        keep = ~vb
        cur_i, cur_p, cur_e = cur_i[keep], cur_p[keep], cur_e[keep]
        tl, ln = tl[keep].astype(np.int64), ln[keep]
        s_ = cur_p + 1 + ln
        e_ = s_ + tl
        over = e_ > cur_e
        bad[cur_i[over]] = True
        keep = ~over
        cur_i, cur_e, s_, e_ = cur_i[keep], cur_e[keep], s_[keep], e_[keep]
        t_pay.append(cur_i)
        t_s.append(s_)
        t_e.append(e_)
        t_w.append(np.full(len(cur_i), wave, np.int64))
        more = e_ < cur_e
        cur_i, cur_p, cur_e = cur_i[more], e_[more], cur_e[more]
        wave += 1

    T_pay = np.concatenate(t_pay) if t_pay else _EMPTY_I
    T_s = np.concatenate(t_s) if t_s else _EMPTY_I
    T_e = np.concatenate(t_e) if t_e else _EMPTY_I
    T_w = np.concatenate(t_w) if t_w else _EMPTY_I

    # --- Table flat parse: f1 schema, f2 table, ci block, f4
    #     mutations, uk block tail ---
    tq = T_s
    tok = np.ones(len(T_pay), bool)

    name_off, name_len = [], []
    for tag in (0x0A, 0x12):                    # schema_name, table_name
        tok &= buf[tq] == tag
        sl, ln, vb = _uvarint_vec(buf, tq + 1)
        tok &= ~vb
        so = tq + 1 + ln
        slen = sl.astype(np.int64)
        tok &= so + slen <= T_e
        so = np.minimum(so, len(buf) - 32)
        name_off.append(np.where(tok, so, 0))
        name_len.append(np.where(tok, slen, 0))
        tq = np.minimum(so + slen, len(buf) - 32)

    if len(T_pay):
        tok &= tq + cl_ci <= T_e
        tqc = np.minimum(tq, len(buf) - 32 - cl_ci)
        tok &= (buf[tqc[:, None] + np.arange(cl_ci)] == ci_blk).all(axis=1)
        u0 = T_e - cl_uk
        tok &= u0 >= tq + cl_ci
        u0c = np.minimum(np.maximum(u0, 0), len(buf) - 32 - cl_uk)
        tok &= (buf[u0c[:, None] + np.arange(cl_uk)] == uk_blk).all(axis=1)
    else:
        u0 = _EMPTY_I
    bad[T_pay[~tok]] = True
    m_s = np.where(tok, tq + cl_ci, 0)
    m_e = np.where(tok, u0, 0)

    # --- Mutation waves per table (repeated f4 bytes, tag 0x22) ---
    mu_tbl, mu_s, mu_e, mu_w = [], [], [], []
    cur_t = np.flatnonzero(tok & (m_s < m_e))
    cur_p = m_s[cur_t]
    cur_end = m_e[cur_t]
    wave = 0
    while len(cur_t):
        ok = buf[cur_p] == 0x22
        bad[T_pay[cur_t[~ok]]] = True
        cur_t, cur_p, cur_end = cur_t[ok], cur_p[ok], cur_end[ok]
        ml, ln, vb = _uvarint_vec(buf, cur_p + 1)
        bad[T_pay[cur_t[vb]]] = True
        keep = ~vb
        cur_t, cur_p, cur_end = cur_t[keep], cur_p[keep], cur_end[keep]
        ml, ln = ml[keep].astype(np.int64), ln[keep]
        s_ = cur_p + 1 + ln
        e_ = s_ + ml
        over = e_ > cur_end
        bad[T_pay[cur_t[over]]] = True
        keep = ~over
        cur_t, cur_end, s_, e_ = (cur_t[keep], cur_end[keep],
                                  s_[keep], e_[keep])
        mu_tbl.append(cur_t)
        mu_s.append(s_)
        mu_e.append(e_)
        mu_w.append(np.full(len(cur_t), wave, np.int64))
        more = e_ < cur_end
        cur_t, cur_p, cur_end = cur_t[more], e_[more], cur_end[more]
        wave += 1

    M_tbl = np.concatenate(mu_tbl) if mu_tbl else _EMPTY_I
    M_s = np.concatenate(mu_s) if mu_s else _EMPTY_I
    M_e = np.concatenate(mu_e) if mu_e else _EMPTY_I
    M_w = np.concatenate(mu_w) if mu_w else _EMPTY_I
    M = len(M_tbl)
    M_pay = T_pay[M_tbl] if M else _EMPTY_I

    # --- Mutation flat parse: f1 type, f2 row, optional f3 change ---
    if M:
        r = M_s
        mok = ((buf[r] == 0x08) & (buf[r + 1] < 3))
        mtp = buf[r + 1].astype(np.int64)
        r = r + 2
        mok &= buf[r] == 0x12
        rl, ln, vb = _uvarint_vec(buf, r + 1)
        mok &= ~vb
        rs = r + 1 + ln
        re_ = rs + rl.astype(np.int64)
        mok &= re_ <= M_e
        rs = np.minimum(rs, len(buf) - 32)
        re_ = np.minimum(re_, len(buf) - 32)

        hasch = re_ < M_e
        c0 = np.minimum(re_, len(buf) - 32)
        cok = buf[c0] == 0x1A
        cll, ln2, vb2 = _uvarint_vec(buf, c0 + 1)
        cs = c0 + 1 + ln2
        ce = cs + cll.astype(np.int64)
        cok &= ~vb2 & (ce == M_e)
        mok &= ~hasch | cok
        cs = np.minimum(cs, len(buf) - 32)
        ce = np.minimum(ce, len(buf) - 32)

        rok, pk, val, v_null, koff, klen, k_null = \
            _parse_row_regions(buf, rs, re_)
        mok &= rok

        ch_idx = np.flatnonzero(hasch & mok)
        old_val = np.full(M, np.nan)
        old_vnull = np.ones(M, bool)
        old_koff = np.zeros(M, np.int64)
        old_klen = np.zeros(M, np.int64)
        old_knull = np.ones(M, bool)
        if len(ch_idx):
            (cok2, _cpk, cval, cv_null, ckoff, cklen, ck_null) = \
                _parse_row_regions(buf, cs[ch_idx], ce[ch_idx])
            submask = np.zeros(M, bool)
            submask[ch_idx] = ~cok2
            mok &= ~submask
            old_val[ch_idx] = cval
            old_vnull[ch_idx] = cv_null
            old_koff[ch_idx] = ckoff
            old_klen[ch_idx] = np.where(ck_null | ~cok2, 0, cklen)
            old_knull[ch_idx] = ck_null

        bad[M_pay[~mok]] = True
    else:
        mtp = pk = val = koff = klen = _EMPTY_I
        v_null = k_null = np.empty(0, bool)
        old_val = np.empty(0, np.float64)
        old_vnull = old_knull = np.empty(0, bool)
        old_koff = old_klen = _EMPTY_I

    # --- Assemble: drop rows of bad payloads, order (payload, table
    #     wave, mutation wave), then append fallback decodes ---
    keep = ~bad[M_pay] if M else np.empty(0, bool)
    order = np.lexsort((M_w[keep], T_w[M_tbl[keep]], M_pay[keep])) \
        if M else _EMPTY_I
    sel = np.flatnonzero(keep)[order] if M else _EMPTY_I

    pay_f = M_pay[sel]
    lock = {
        "commit_ts": pa.array(ct[pay_f], pa.int64()),
        "db": _string_from_ragged(buf, name_off[0][M_tbl[sel]],
                                  name_len[0][M_tbl[sel]]),
        "tbl": _string_from_ragged(buf, name_off[1][M_tbl[sel]],
                                   name_len[1][M_tbl[sel]]),
        "op": pa.DictionaryArray.from_arrays(
            pa.array(mtp[sel].astype(np.int32)),
            pa.array(["I", "U", "D"])).cast(pa.string()),
        "pk": pa.array(pk[sel], pa.int64()),
        "val": pa.array(val[sel], pa.float64(), mask=v_null[sel]),
        "k": _string_from_ragged(buf, koff[sel], klen[sel],
                                 nulls=k_null[sel]),
        "old_val": pa.array(old_val[sel], pa.float64(),
                            mask=old_vnull[sel]),
        "old_k": _string_from_ragged(buf, old_koff[sel], old_klen[sel],
                                     nulls=old_knull[sel]),
    }

    if bad.any():
        fb_rows = _fallback_rows(col, np.flatnonzero(bad))
        fb_pay = np.fromiter((r[0] for r in fb_rows), np.int64,
                             len(fb_rows))
        fb = {
            "commit_ts": pa.array([r[1] for r in fb_rows], pa.int64()),
            "db": pa.array([r[2] for r in fb_rows], pa.string()),
            "tbl": pa.array([r[3] for r in fb_rows], pa.string()),
            "op": pa.array([r[4] for r in fb_rows], pa.string()),
            "pk": pa.array([r[5] for r in fb_rows], pa.int64()),
            "val": pa.array([_nan_none(r[6]) for r in fb_rows],
                            pa.float64()),
            "k": pa.array([r[7] for r in fb_rows], pa.string()),
            "old_val": pa.array([_nan_none(r[8]) for r in fb_rows],
                                pa.float64()),
            "old_k": pa.array([r[9] for r in fb_rows], pa.string()),
        }
        all_pay = np.concatenate([pay_f, fb_pay])
        perm = np.argsort(all_pay, kind="stable")
        pay_final = all_pay[perm]
        perm_pa = pa.array(perm)
        cols = {c: pa.concat_arrays(
            [lock[c], fb[c].cast(lock[c].type)
             if fb[c].type != lock[c].type else fb[c]]).take(perm_pa)
            for c in lock}
    else:
        pay_final = pay_f
        cols = lock

    take_idx = pa.array(pay_final)
    arrays = [batch.column(batch.schema.get_field_index(c))
              .take(take_idx) if c in carry else cols[c]
              for c in out_names]
    return pa.RecordBatch.from_arrays(arrays, out_names)


def _nan_none(x):
    """float-or-None -> the pandas-path surface (NaN became NULL)."""
    if x is None:
        return None
    x = float(x)
    return None if x != x else x
