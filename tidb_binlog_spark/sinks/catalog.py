"""Downstream (sink-side) table-info catalog.

Reference: pkg/loader/util.go:84-106 getTableInfo reads the sink's
information_schema to learn column lists and unique keys (PRIMARY
swapped to the front), and pkg/loader/load.go:345-370 caches that per
table, evicting + re-fetching when the executor reports
ErrColumnNotExists (executor.go:336-405) — the statement builder never
trusts a stale schema after downstream DDL.

Spark form: TableInfo objects feed ``generate_sql_wide`` on the
DRIVER (schemas are per-table metadata, never per-row data), so the
catalog is a small driver-side cache in front of a fetch callable.
The sink here is SQLite, introspected with PRAGMA
(``fetch_table_info_sqlite``); a MySQL/TiDB sink would plug in a fetch
over the reference's information_schema queries
(pkg/loader/util.go:43-51) — nothing else changes.
"""

from __future__ import annotations

from .sqlgen import TableInfo

def fetch_table_info_sqlite(conn, _schema: str, table: str) -> TableInfo:
    """getTableInfo for SQLite (the test sink): PRAGMA table_info for
    columns + the implicit PRIMARY key, PRAGMA index_list/index_info
    for unique indexes. Generated columns have hidden flag 2/3 in
    table_xinfo."""
    cols, pk_cols, generated = [], [], []
    for cid, name, _t, _nn, _dflt, pk, hidden in conn.execute(
            f"PRAGMA table_xinfo({table})"):
        if hidden in (2, 3):        # generated VIRTUAL / STORED
            cols.append(name)
            generated.append(name)
        elif hidden == 0:
            cols.append(name)
        if pk:
            pk_cols.append((pk, name))
    keys: dict[str, list[str]] = {}
    if pk_cols:
        keys["PRIMARY"] = [n for _, n in sorted(pk_cols)]
    for _seq, idx_name, unique, origin, _partial in conn.execute(
            f"PRAGMA index_list({table})"):
        if unique and origin != "pk":
            keys[idx_name] = [r[2] for r in
                              conn.execute(f"PRAGMA index_info({idx_name})")]
    if not cols:
        raise LookupError(f"table not exist: {table}")
    return _with_primary_first(cols, keys, generated)


def _with_primary_first(cols, keys: dict[str, list[str]],
                        generated) -> TableInfo:
    """util.go:97-101: PRIMARY is swapped to the front so the where-key
    walk prefers it; remaining unique keys keep a stable order."""
    ordered = sorted(keys.items(), key=lambda kv: (kv[0] != "PRIMARY", kv[0]))
    return TableInfo(
        columns=tuple(cols),
        unique_keys=tuple((n, tuple(c)) for n, c in ordered),
        generated=tuple(generated))


class SinkCatalog:
    """Driver-side TableInfo cache with evict-and-refetch.

    ``fetch(schema, table) -> TableInfo`` is the injected reader (a
    closure over a DB-API connection). ``refresh_hook`` plugs into
    jdbc.RetryPolicy.on_refresh so a mid-stream downstream DDL
    (ErrColumnNotExists) invalidates the cache exactly once per failing
    statement, like executor.go:336-405."""

    def __init__(self, fetch):
        self._fetch = fetch
        self._cache: dict[tuple[str, str], TableInfo] = {}

    def table_info(self, schema: str, table: str) -> TableInfo:
        key = (schema, table)
        info = self._cache.get(key)
        if info is None:
            info = self._fetch(schema, table)
            self._cache[key] = info
        return info

    def evict(self, schema: str, table: str) -> None:
        self._cache.pop((schema, table), None)

    def refresh_hook(self, schema: str, table: str):
        """An on_refresh callable for jdbc.RetryPolicy bound to one
        table: evicts the cached info so the next statement build sees
        the downstream's current schema."""
        def _hook(_conn, _sql_text, _exc):
            self.evict(schema, table)
        return _hook
