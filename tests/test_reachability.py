"""Every top-level def of the package, and every method of a top-level
class, is reached by the product, or is on a reviewed keep-list.

The product is the package itself, the driver entry
(``__spark_entry__.py``), ``tools/``, ``examples/``, ``perfbench/``
and ``bench.py``. A def is reached when one of those files names it
outside its own body: as a name, an attribute, an import, or an
identifier string (``getattr`` / registry keys). A def that only
``tests/`` reach is code to maintain, not a capability, so it fails
this test until it gets a caller, is deleted, or is added below with
its reason in review.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tidb_binlog_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

KEEP = {
    # references that tests compare the product engines against
    "_local_components": "causality's driver-side CC reference",
    "iter_records": "pbcodec's per-record reader reference",
    "_assemble_payloads_rows": "pbcodec's per-row assembly reference",
    "encode_record_key": "kvcodec per-row codec reference",
    "decode_record_key": "kvcodec per-row codec reference",
    "record_key_columns": "kvcodec per-row codec reference",
    "encode_insert_row_common": "kvcodec per-row codec reference",
    "_pair_counts": "bpe merge-count reference",
    "bucket_cap_report": "dedup bucket-cap audit reference",
    # wire encoders that build input for a product decoder
    "encode_obinlog_column": "obinlog_pb encoder for decoder tests",
    "encode_row": "obinlog_pb encoder for decoder tests",
    "encode_mutation": "obinlog_pb encoder for decoder tests",
    "encode_table": "obinlog_pb encoder for decoder tests",
    "encode_secondary_binlog": "obinlog_pb encoder for decoder tests",
    "encode_column": "pbcodec encoder for decoder tests",
    "encode_event": "pbcodec encoder for decoder tests",
    # calls that the embedding caller makes
    "finalize_checkpoint": "graceful-stop cursor write (jdbc)",
    "attach": "metrics listener hook a caller installs",
    "load_config": "drainer.toml analog a caller loads",
    "set_secret_key": "key install a caller makes (encrypt)",
    # tidb-binlog components that only tests drive
    "run_file_dump_stream": "pb file sink, drainer/sync/pb.go:38-120",
    "parse_obinlog_wide": "arbiter-side wide decode, arbiter/server.go",
    "read_pb_dump_ddl": "reparo DDL replay of a pb dump, reparo/",
    "AckWindow": "producer in-flight window, drainer/sync/kafka.go:186-278",
    "producer_options": "producer config, drainer/sync/kafka.go",
    "consumer_options": "arbiter consumer config, arbiter/server.go",
    "synthesize_commits":
        "txn-status resolver, pump/storage/storage.go:400-429",
    "rolled_back": "sorter rollback drop, pump/storage/sorter.go:196-214",
    "init_mark_table_sql":
        "loopback mark table, drainer/loopbacksync/loopbacksync.go:53-130",
    "loopback_mark_statements":
        "loopback mark rows, drainer/loopbacksync/loopbacksync.go:53-130",
    "gc_pb_dump_segments": "pb segment retention GC, pump/storage GC",
    # methods of those components, and calls an embedding caller makes
    "AckWindow.try_send": "producer window admit, drainer/sync/kafka.go",
    "AckWindow.ack": "producer window ack, drainer/sync/kafka.go",
    "AckWindow.check_timeouts": "producer ack timeout, drainer/sync/kafka.go",
    "AckWindow.committed_through": "producer window accessor",
    "AckWindow.in_flight_bytes": "producer window accessor",
    "NodeRegistry.complete_shutdown":
        "drained node -> paused/offline, pump/server.go:876-886",
    "SinkCatalog.refresh_hook":
        "jdbc.RetryPolicy on_refresh a caller installs, executor.go:336-405",
    "FileDumpApplier.mark_graceful":
        "graceful-stop marker the run_file_dump_stream caller sets",
    "_StreamView.dead_letter":
        "quarantined-row read, drainer/merge.go:318-329",
    "MaterializedSCD2.gc_history":
        "history retention below a safepoint, pump storage.go:663-798",
    "MaterializedAggregate.read_joined":
        "streaming read of incremental_agg.maintain_join_aggregate",
}


def _product_files():
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("tools", "examples", "perfbench"):
        files += [p for p in (ROOT / d).rglob("*.py")
                  if "tests" not in p.relative_to(ROOT).parts]
    return [p for p in files if p.exists()]


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
# methods Spark itself calls on a registered StreamingQueryListener
_SPARK_CALLBACKS = {"onQueryStarted", "onQueryProgress", "onQueryIdle",
                    "onQueryTerminated"}


def _own_refs(node, name):
    """The nodes inside ``node`` that name ``name``: a def's own body
    does not count as a use of it."""
    return {id(n) for n in ast.walk(node)
            if (isinstance(n, ast.Name) and n.id == name)
            or (isinstance(n, ast.Attribute) and n.attr == name)}


def _scan():
    """(defs of the package, Counter of names the product uses). A def
    is a top-level function or class, named by itself, or a method of
    a top-level class, named ``Class.method``; dunders and Spark's
    listener callbacks are left out, since the runtime calls them."""
    defs, used = [], Counter()
    for path in _product_files():
        tree = ast.parse(path.read_text())
        own = set()
        if PACKAGE in path.parents:
            rel = path.relative_to(ROOT)
            for node in tree.body:
                if not isinstance(node, _FUNCS + (ast.ClassDef,)):
                    continue
                defs.append((rel, node.name))
                own |= _own_refs(node, node.name)
                if not isinstance(node, ast.ClassDef):
                    continue
                for meth in node.body:
                    if (isinstance(meth, _FUNCS)
                            and not meth.name.startswith("__")
                            and meth.name not in _SPARK_CALLBACKS):
                        defs.append((rel, f"{node.name}.{meth.name}"))
                        own |= _own_refs(meth, meth.name)
        for node in ast.walk(tree):
            if id(node) in own:
                continue
            if isinstance(node, ast.Name):
                used[node.id] += 1
            elif isinstance(node, ast.Attribute):
                used[node.attr] += 1
            elif isinstance(node, ast.alias):
                used[node.name.split(".")[-1]] += 1
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and _IDENT.match(node.value)):
                used[node.value] += 1
    return defs, used


def _reached(name, used):
    return used[name.rpartition(".")[2]] > 0


def test_every_package_def_has_a_product_use():
    defs, used = _scan()
    test_only = sorted(f"{path}:{name}" for path, name in defs
                       if not _reached(name, used) and name not in KEEP)
    assert not test_only, "only tests reach:\n" + "\n".join(test_only)


def test_keep_list_names_live_test_only_defs():
    defs, used = _scan()
    names = {name for _path, name in defs}
    assert sorted(set(KEEP) - names) == []          # deleted: drop it
    assert sorted(n for n in KEEP if _reached(n, used)) == []  # now reached
