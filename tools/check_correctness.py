"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry under Spark and its ``oracle_sql()``
under DuckDB at a given scale factor, then compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values canonicalized). Exit code 1 on any mismatch.

Usage: python tools/check_correctness.py [--json out.json] [sf_dir] [query ...]

``--json`` writes a CORRECTNESS_r{N}-shaped ledger (one record per
query: rows_match/schema_match/hash_match/spark_rows/oracle_rows/
spark_hash/oracle_hash/err; rows-only queries record oracle_rows and
oracle_hash None, a side that errored records its hash None) — the
committed LEDGER_r{N}.json artifact that carries recorded local
evidence for queries outside the driver's 50-slot window. With the
hashes in it, the ledgers of two commits diff to show whether a
change left every result equal.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x01".join(canon_value(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_correctness.py [--json out.json] "
                  "[sf_dir] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from tidb_binlog_spark.cache import release_all
    from tidb_binlog_spark.session import get_spark

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    ledger: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            release_all()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            ledger[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "spark_hash": None,
                            "oracle_hash": None, "err": f"spark: {e}"}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        sn, scols, shash = frame_hash(sdf)
        if name not in oracles:
            ledger[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": sn,
                            "oracle_rows": None, "spark_hash": shash,
                            "oracle_hash": None, "err": None}
            print(f"weak  {name}: rows={len(sdf)} (no oracle, rows-only)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            ledger[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": sn,
                            "oracle_rows": None, "spark_hash": shash,
                            "oracle_hash": None, "err": f"duckdb: {e}"}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        on, ocols, ohash = frame_hash(odf)
        ok = (sn, scols, shash) == (on, ocols, ohash)
        ledger[name] = {"rows_match": sn == on,
                        "schema_match": scols == ocols,
                        "hash_match": shash == ohash,
                        "spark_rows": sn, "oracle_rows": on,
                        "spark_hash": shash, "oracle_hash": ohash,
                        "err": None}
        status = "ok  " if ok else "FAIL"
        print(f"{status}  {name}: rows {sn}/{on} cols={scols == ocols} "
              f"hash={'match' if shash == ohash else 'MISMATCH'} "
              f"({time.time() - t0:.1f}s)")
        if not ok:
            failures.append(name)
            if scols != ocols:
                print(f"      spark cols: {scols}\n      duck  cols: {ocols}")
            if sn == on and scols == ocols:
                # show first differing row for debugging
                s_rows = sorted("\x01".join(canon_value(v) for v in r)
                                for r in sdf[sorted(sdf.columns)]
                                .itertuples(index=False, name=None))
                o_rows = sorted("\x01".join(canon_value(v) for v in r)
                                for r in odf[sorted(odf.columns)]
                                .itertuples(index=False, name=None))
                for a, b in zip(s_rows, o_rows):
                    if a != b:
                        print(f"      spark: {a!r}\n      duck : {b!r}")
                        break
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json as _json
        with open(json_out, "w") as f:
            _json.dump(ledger, f, indent=1)
        print(f"ledger written: {json_out} ({len(ledger)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
