"""Every top-level def of the package is reached by the product, or is
on a reviewed keep-list.

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
    "frame_record": "pbcodec record framing for reader tests",
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
}


def _product_files():
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("tools", "examples", "perfbench"):
        files += [p for p in (ROOT / d).rglob("*.py")
                  if "tests" not in p.relative_to(ROOT).parts]
    return [p for p in files if p.exists()]


def _scan():
    """(top-level defs of the package, Counter of names the product
    uses). A def's own body does not count as a use of it."""
    defs, used = [], Counter()
    for path in _product_files():
        tree = ast.parse(path.read_text())
        own = set()
        if PACKAGE in path.parents:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    defs.append((path.relative_to(ROOT), node.name))
                    own |= {id(n) for n in ast.walk(node)
                            if isinstance(n, ast.Name) and n.id == node.name}
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


def test_every_package_def_has_a_product_use():
    defs, used = _scan()
    test_only = sorted(f"{path}:{name}" for path, name in defs
                       if not used[name] and name not in KEEP)
    assert not test_only, "only tests reach:\n" + "\n".join(test_only)


def test_keep_list_names_live_test_only_defs():
    defs, used = _scan()
    names = {name for _path, name in defs}
    assert sorted(set(KEEP) - names) == []          # deleted: drop it
    assert sorted(n for n in KEEP if used[n]) == []  # now reached
