"""Ops CLI — the binlogctl analog (reference binlogctl/: node status,
pause/offline, generate meta tso).

Read-only commands over a change log / snapshot table:

  status <sf_dir|change_log>   per-source watermarks + heartbeat progress
  checkpoint <table_root>      snapshot table version + commit-ts cursor
  view-status <view_root>      maintained-view cursors/watermark/audit
  replay <relay_dir> <start_ts> <stop_ts>  count relay-log events with
                                           start_ts <= commit_ts <= stop_ts

Node operations over a registry file (binlogctl/nodes.go command
surface — pumps/drainers/pause-*/offline-*/update-*):

  pumps <registry.json> [--show-offline]      list pump nodes
  drainers <registry.json> [--show-offline]   list drainer nodes
  pause-pump <registry.json> <node_id>        pause -> pausing
  pause-drainer <registry.json> <node_id>
  offline-pump <registry.json> <node_id>      close -> closing
  offline-drainer <registry.json> <node_id>
  update-pump <registry.json> <node_id> <state>     force a state
  update-drainer <registry.json> <node_id> <state>

Config-password utility (binlogctl/encrypt.go + pkg/encrypt):

  encrypt <plaintext>     print base64(iv @ AES-CFB ciphertext)
  decrypt <ciphertext>    inverse (reads $BINLOG_SECRET_KEY like the
                          reference; falls back to its default key)

Usage: python tools/ctl.py status /root/testdata/sf0.001
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    cmd, target = sys.argv[1], sys.argv[2]

    if cmd == "encrypt":
        # binlogctl EncryptHandler (binlogctl/encrypt.go:10-18): print
        # the base64 iv@cfb ciphertext for a config password.
        from tidb_binlog_spark.encrypt import encrypt as _encrypt
        print(_encrypt(target))
        return 0

    if cmd == "decrypt":
        from tidb_binlog_spark.encrypt import decrypt as _decrypt
        print(_decrypt(target))
        return 0

    if cmd in ("pumps", "drainers"):
        from tidb_binlog_spark.registry import NodeRegistry
        kind = cmd[:-1]
        show_offline = "--show-offline" in sys.argv[3:]
        print(json.dumps(NodeRegistry(target).nodes_by_kind(
            kind, show_offline=show_offline)))
        return 0

    if cmd in ("pause-pump", "pause-drainer",
               "offline-pump", "offline-drainer"):
        from tidb_binlog_spark.registry import NodeRegistry
        action = "pause" if cmd.startswith("pause") else "close"
        print(json.dumps(NodeRegistry(target).apply_action(
            sys.argv[3], action)))
        return 0

    if cmd in ("update-pump", "update-drainer"):
        from tidb_binlog_spark.registry import NodeRegistry
        print(json.dumps(NodeRegistry(target).update_state(
            sys.argv[3], sys.argv[4])))
        return 0

    if cmd == "view-status":
        # maintained-view ops surface: version, per-source cursors,
        # watermark, quarantine counters (streaming/ivm checkpoint)
        ck_path = os.path.join(target, "view_checkpoint.json")
        if not os.path.exists(ck_path):
            print(json.dumps({"error": "no view checkpoint",
                              "root": target}))
            return 1
        with open(ck_path) as f:
            print(json.dumps(json.load(f)))
        return 0

    if cmd == "checkpoint":
        ck_path = os.path.join(target, "checkpoint.json")
        if not os.path.exists(ck_path):
            print(json.dumps({"error": "no checkpoint", "root": target}))
            return 1
        with open(ck_path) as f:
            print(json.dumps(json.load(f)))
        return 0

    from tidb_binlog_spark.session import get_spark
    spark = get_spark("ctl")

    if cmd == "status":
        from tidb_binlog_spark.operators import batching
        from tidb_binlog_spark.sources.changestream import change_stream
        ch = change_stream(spark, target)
        rows = batching.heartbeat_progress(ch).collect()
        print(json.dumps({r["source_id"]: {
            "applied": r["n_applied"],
            "heartbeats": r["n_heartbeats"],
            "checkpoint_ts": r["checkpoint_ts"],
            "last_applied_ts": r["last_applied_ts"],
        } for r in sorted(rows, key=lambda r: r["source_id"])}))
        return 0

    if cmd == "generate_meta":
        # binlogctl GenerateMetaInfo (binlogctl/meta.go:34-51,82-107):
        # record the newest commit ts as the initial drainer savepoint.
        # Our TSO analog is the change log's max commit_ts. Mirrors
        # saveMeta exactly: TOML `commitTS = N`, optional rough-time
        # trailer lines for a timezone (TSOToRoughTime = physical ms
        # from ts >> 18), atomic write (temp + rename).
        from pyspark.sql import functions as F

        from tidb_binlog_spark.sources.changestream import change_stream
        data_dir = sys.argv[3]
        time_zone = sys.argv[4] if len(sys.argv) > 4 else ""
        os.makedirs(data_dir, exist_ok=True)
        ts = change_stream(spark, target) \
            .agg(F.max("commit_ts").alias("m")).collect()[0]["m"]
        ts = int(ts if ts is not None else 0)
        buf = f"commitTS = {ts}\n"
        if time_zone:
            import datetime
            import zoneinfo
            rough = datetime.datetime.fromtimestamp(
                (ts >> 18) / 1000.0, tz=datetime.timezone.utc)
            try:
                loc = zoneinfo.ZoneInfo(time_zone)
                buf += f"{rough}\n{rough.astimezone(loc)}\n"
            except (KeyError, zoneinfo.ZoneInfoNotFoundError):
                pass  # meta.go warns and writes the TOML alone
        meta_file = os.path.join(data_dir, "savepoint")
        tmp = meta_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, meta_file)
        print(json.dumps({"commitTS": ts}))
        return 0

    if cmd == "replay":
        from tidb_binlog_spark.sinks.relay import RelayLog
        start_ts, stop_ts = int(sys.argv[3]), int(sys.argv[4])
        # RelayLog.read's start bound is exclusive; replay's is inclusive
        n = RelayLog(target).read(spark, start_ts - 1, stop_ts).count()
        print(json.dumps({"dump": target, "start_ts": start_ts,
                          "stop_ts": stop_ts, "replayable_events": n}))
        return 0

    print(f"unknown command: {cmd}")
    return 2


if __name__ == "__main__":
    sys.exit(main())
