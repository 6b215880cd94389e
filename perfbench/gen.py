"""Seeded change-event generator for the replication workloads.

Produces segments in the engine's ``CHANGE_SCHEMA`` shape without
touching the program: three interleaved sources, an I/U/D mix over 12
tables, one FAKE heartbeat per source per segment, and about 1% late
and 1% duplicate commit_ts.

Traffic shape, taken from the repository's fixture-derived change
stream (``sources/changestream.py`` maps event_type signup -> I,
error -> D, everything else -> U; db = user_id % 4; tbl cycles
ptest/itest/ntest; pk = user_id):

- op shares measured on the sf0.1 ``events`` fixture: 20302 signup,
  19810 error, 59888 other of 100000 rows -> I 0.20 / U 0.60 / D 0.20;
- 12 tables ``db<d>_<tbl>`` (4 dbs x 3 tables), pre-routed to one name
  because the SQLite sink is table-name-only;
- key density: the fixture holds 22.2 events per (db, tbl, pk) at both
  sf0.01 and sf0.1, so ``key_space`` gives each table
  ``total_events / (12 * 22.2)`` keys over the whole run.

Segment invariant (the reference checker relies on it): every commit_ts
of segment k lies in ``[k * span, (k + 1) * span)``, above every
commit_ts of earlier segments, and a late or duplicate event always
collides with an event of its OWN segment. Classifying each segment by
itself therefore equals classifying the whole stream, however the
segments are grouped into micro-batches.

Commit-ts layout of segment k (``base = k * span``):
  ok events      base + 4*i            (i = 0 .. n_ok-1, arrival order)
  late events    base + 4*m + 1        (m below its source's last ok i)
  duplicates     base + 4*m            (copies an earlier ok event's ts)
  heartbeats     base + 4*n_ok + 4*s + 2

Run as a script, this module is the open-loop load generator of the
``repl_live`` workload (see ``main``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SOURCES = 3
DBS = tuple(f"db{d}" for d in range(4))
FIXTURE_TABLES = ("ptest", "itest", "ntest")
TABLES = tuple(f"{d}_{t}" for d in DBS for t in FIXTURE_TABLES)
N_TABLES = len(TABLES)
LATE_SHARE = 0.01
DUP_SHARE = 0.01
OP_MIX = (("I", 0.20), ("U", 0.60), ("D", 0.20))
EVENTS_PER_KEY = 22.2

SCHEMA = pa.schema([
    ("arrival_seq", pa.int64()),
    ("source_id", pa.string()),
    ("commit_ts", pa.int64()),
    ("start_ts", pa.int64()),
    ("op", pa.string()),
    ("db", pa.string()),
    ("tbl", pa.string()),
    ("pk", pa.int64()),
    ("seq", pa.int32()),
    ("schema_version", pa.int64()),
    ("val", pa.float64()),
    ("row_json", pa.string()),
])


def table_ddl() -> tuple[str, ...]:
    """Downstream tables, one per generated table name (SQLite has no
    schemas, so the statement builder writes ``tbl`` only)."""
    return tuple(f"CREATE TABLE IF NOT EXISTS `{t}` "
                 f"(pk INTEGER PRIMARY KEY, val REAL)" for t in TABLES)


def key_space(total_events: int) -> int:
    """Keys per table so the whole run has the fixture's key density."""
    return max(1, round(total_events / (N_TABLES * EVENTS_PER_KEY)))


def segment_span(n: int) -> int:
    return 4 * (n + N_SOURCES + 2)


def make_segment(seed: int, k: int, n: int, keys: int) -> pa.Table:
    """Segment ``k`` of the stream for ``seed``: ``n`` data events plus
    one heartbeat per source. Deterministic in (seed, k, n, keys)."""
    rng = np.random.default_rng([seed, k])
    base = k * segment_span(n)
    src = rng.integers(0, N_SOURCES, n)
    kind = rng.random(n)
    is_late = kind < LATE_SHARE
    is_dup = (kind >= LATE_SHARE) & (kind < LATE_SHARE + DUP_SHARE)
    cts = np.empty(n, dtype=np.int64)
    last_ok = np.full(N_SOURCES, -1, dtype=np.int64)  # per-source last ok i
    n_ok = 0
    used_late: set[int] = set()
    for j in range(n):
        s = src[j]
        if is_late[j] and last_ok[s] >= 1:
            m = int(rng.integers(0, last_ok[s]))
            if m not in used_late:
                used_late.add(m)
                cts[j] = base + 4 * m + 1
                continue
        if is_dup[j] and n_ok >= 1:
            cts[j] = base + 4 * int(rng.integers(0, n_ok))
            continue
        cts[j] = base + 4 * n_ok
        last_ok[s] = n_ok
        n_ok += 1
    ops = rng.choice([o for o, _ in OP_MIX], n, p=[p for _, p in OP_MIX])
    tbl = rng.integers(0, N_TABLES, n)
    pk = rng.integers(0, keys, n)
    val = np.round(rng.random(n) * 1000.0, 3)
    hb_ts = base + 4 * n_ok + 4 * np.arange(N_SOURCES) + 2
    arrival0 = k * (n + N_SOURCES)
    tables = [TABLES[t] for t in tbl] + [TABLES[0]] * N_SOURCES
    return pa.table({
        "arrival_seq": np.arange(arrival0, arrival0 + n + N_SOURCES,
                                 dtype=np.int64),
        "source_id": [f"s{s}" for s in src] +
                     [f"s{s}" for s in range(N_SOURCES)],
        "commit_ts": np.concatenate([cts, hb_ts]),
        "start_ts": np.concatenate([cts, hb_ts]) - 1,
        "op": list(ops) + ["FAKE"] * N_SOURCES,
        "db": [t.split("_", 1)[0] for t in tables],
        "tbl": tables,
        "pk": np.concatenate([pk, np.zeros(N_SOURCES, dtype=np.int64)]),
        "seq": np.zeros(n + N_SOURCES, dtype=np.int32),
        "schema_version": np.ones(n + N_SOURCES, dtype=np.int64),
        "val": np.concatenate([val, np.zeros(N_SOURCES)]),
        "row_json": ["{}"] * (n + N_SOURCES),
    }, schema=SCHEMA)


def make_stream(seed: int, n_segments: int, n: int) -> list[pa.Table]:
    keys = key_space(n_segments * n)
    return [make_segment(seed, k, n, keys) for k in range(n_segments)]


def land(table: pa.Table, dest_dir: str, name: str,
         mtime_ns: int | None = None) -> str:
    """Write a segment so the file source never sees it half-written:
    Spark skips names starting with ``.``, and the rename is atomic.
    ``mtime_ns`` pins the modification time, which orders the file
    source's listing."""
    os.makedirs(dest_dir, exist_ok=True)
    tmp = os.path.join(dest_dir, f".{name}.tmp")
    final = os.path.join(dest_dir, name)
    pq.write_table(table, tmp)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.replace(tmp, final)
    return final


def segment_name(k: int) -> str:
    return f"seg-{k:05d}.parquet"


def segment_index(path: str) -> int:
    """Inverse of ``segment_name`` for a path or URI."""
    return int(os.path.basename(path)[len("seg-"):-len(".parquet")])


def content_hash(tables) -> str:
    """SHA-256 over the segments' Arrow IPC bytes in order — identical
    inputs hash identically whatever parquet writer wrote them."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def main(argv=None) -> int:
    """Open-loop lander. Generates every segment first and prints
    ``ready``. On ``warm`` (stdin) it lands segment 0 at once; on
    ``go <t0>`` it lands segment k >= 1 at ``t0 + (k - 1) * interval``
    (epoch seconds) whatever the consumer does, then prints one JSON
    line with the actual landing times and how late the schedule ran."""
    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dest", required=True)
    ap.add_argument("--segments", type=int, required=True,
                    help="segments after the warm-up segment 0")
    ap.add_argument("--events", type=int, required=True,
                    help="data events per segment")
    ap.add_argument("--interval", type=float, default=1.0)
    args = ap.parse_args(argv)
    tables = make_stream(args.seed, args.segments + 1, args.events)
    digest = content_hash(tables)
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "warm":
        print("expected 'warm'", file=sys.stderr)
        return 2
    land(tables[0], args.dest, segment_name(0))
    line = sys.stdin.readline().split()
    if len(line) != 2 or line[0] != "go":
        print(f"expected 'go <t0>', got {line!r}", file=sys.stderr)
        return 2
    t0 = float(line[1])
    due, landed = [], []
    for k in range(1, len(tables)):
        due.append(t0 + (k - 1) * args.interval)
        delay = due[-1] - time.time()
        if delay > 0:
            time.sleep(delay)
        land(tables[k], args.dest, segment_name(k))
        landed.append(time.time())
    print(json.dumps({"due": due, "landed": landed,
                      "late_s_max": max(b - a for a, b in zip(due, landed)),
                      "hash": digest}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
