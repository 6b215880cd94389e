"""Downstream SQL statement generation — the sink-side statement
builder of the loader.

Reference: pkg/loader/model.go:187-445 builds INSERT / REPLACE /
UPDATE ... LIMIT 1 / DELETE ... LIMIT 1 with a unique-key-preferring,
NULL-safe WHERE clause; identifiers are backtick-quoted
(pkg/loader/util.go quoteSchema/quoteName/holderString).

Spark-first: statement text is generated as a *column* (pure concat
expressions) so a foreachBatch JDBC writer can iterate a partition and
execute; nothing is collected to the driver. The batch path's
``chunk_statements`` is plain Python, run in the sink worker. Safe-mode
variants map I->REPLACE and U->DELETE+REPLACE (executor.go:407-443) —
compose with operators/safe_mode.py upstream of this projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _q(name: str) -> str:
    """Backtick-quote an identifier (loader/util.go quoteName)."""
    return "`" + name.replace("`", "``") + "`"


def _escape_ident(col: Column) -> Column:
    """Escape backticks inside a data-derived identifier value, the
    column-expression analog of quoteName (loader/util.go escapeName).
    Without this a hostile db/tbl value breaks out of the quoting."""
    return F.replace(col, F.lit("`"), F.lit("``"))


def _qualified() -> Column:
    return F.concat(F.lit("`"), _escape_ident(F.col("db")),
                    F.lit("`.`"), _escape_ident(F.col("tbl")), F.lit("`"))


def _escape_str_lit(col: Column) -> Column:
    """Render a string value as a quoted SQL literal: backslashes and
    single quotes doubled (MySQL string-literal rules; the reference
    avoids the issue entirely with `?` placeholders — model.go builds
    parameterized statements. For textual statements, escaping is the
    equivalent safety contract)."""
    escaped = F.replace(F.replace(col, F.lit("\\"), F.lit("\\\\")),
                        F.lit("'"), F.lit("''"))
    return F.concat(F.lit("'"), escaped, F.lit("'"))


def sql_literal(col: Column, is_string: bool,
                dialect: str = "mysql") -> Column:
    """Render one value as a SQL literal. NULL renders as the literal
    NULL (concat/concat_ws silently drop SQL NULLs, which would shift
    a VALUES arity); string values are quoted and escaped per dialect
    (single-quote doubling everywhere; backslash doubling for mysql)."""
    v = col.cast("string")
    if is_string:
        if dialect == "mysql":
            v = _escape_str_lit(v)
        else:   # oracle/sqlite: '' doubling only, no backslash escapes
            v = F.concat(F.lit("'"), F.replace(v, F.lit("'"), F.lit("''")),
                         F.lit("'"))
    return F.coalesce(v, F.lit("NULL"))


def _string_cols(df: DataFrame, cols) -> set[str]:
    """The string-typed columns among ``cols``: their values render as
    quoted literals."""
    return {f.name for f in df.schema.fields
            if f.name in set(cols) and f.dataType.simpleString() == "string"}


def _target(dialect: str) -> tuple[Column, object]:
    """(target table expression, identifier quoting) per dialect."""
    if dialect == "oracle":
        return (F.concat(F.upper(F.col("db")), F.lit("."),
                         F.upper(F.col("tbl"))), str.upper)
    if dialect == "sqlite":     # no schemas in SQLite: table name only
        return (F.concat(F.lit("`"), _escape_ident(F.col("tbl")),
                         F.lit("`")), _q)
    return _qualified(), _q


def generate_sql(changes: DataFrame,
                 pk_cols: tuple[str, ...] = ("pk",),
                 value_cols: tuple[str, ...] = ("pk", "val"),
                 dialect: str = "mysql") -> DataFrame:
    """One downstream statement per change event.

    mysql dialect (pkg/loader/model.go:187-353):
      I -> INSERT INTO t(cols) VALUES(...)
      U -> UPDATE t SET non-pk-cols WHERE pk-cols LIMIT 1
      D -> DELETE FROM t WHERE pk-cols LIMIT 1
      R -> REPLACE INTO t(cols) VALUES(...)   (safe-mode upsert)

    oracle dialect (model.go:196-237,331-353 oracle paths): LIMIT 1
    becomes ``AND rownum <= 1``; REPLACE becomes a
    ``MERGE INTO ... USING dual`` upsert; identifiers unquoted
    upper-cased (drainer/sync/oracle.go table naming).

    sqlite dialect (the test-executable target for sinks/jdbc.py):
    mysql shapes minus the UPDATE/DELETE LIMIT bound (not compiled into
    stock SQLite; the PK WHERE makes it redundant anyway).

    The string-typed columns among value_cols/pk_cols render as quoted
    escaped string literals.
    """
    str_set = _string_cols(changes, (*value_cols, *pk_cols))
    tbl, quote = _target(dialect)

    def lit_val(c: str) -> Column:
        return sql_literal(F.col(c), c in str_set, dialect)

    col_list = F.lit(", ".join(quote(c) for c in value_cols))
    values = F.concat_ws(", ", *[lit_val(c) for c in value_cols])
    set_cols = [c for c in value_cols if c not in pk_cols]
    set_clause = F.concat_ws(", ", *[
        F.concat(F.lit(f"{quote(c)} = "), lit_val(c)) for c in set_cols])

    def null_safe(c: str) -> Column:
        # NULL-safe WHERE fragment (model.go:247-261: `col IS NULL` when
        # the value is NULL, `col = val` otherwise).
        v = F.col(c)
        return F.when(v.isNull(), F.lit(f"{quote(c)} IS NULL")) \
                .otherwise(F.concat(F.lit(f"{quote(c)} = "), lit_val(c)))

    where = F.concat_ws(" AND ", *[null_safe(c) for c in pk_cols])

    insert = F.concat(F.lit("INSERT INTO "), tbl, F.lit("("), col_list,
                      F.lit(") VALUES ("), values, F.lit(")"))
    if dialect == "oracle":
        limit_sfx = F.lit(" AND rownum <= 1")
        replace = F.concat(F.lit("MERGE INTO "), tbl,
                           F.lit(" USING dual ON ("), where,
                           F.lit(") WHEN MATCHED THEN UPDATE SET "), set_clause,
                           F.lit(" WHEN NOT MATCHED THEN INSERT ("), col_list,
                           F.lit(") VALUES ("), values, F.lit(")"))
    else:
        limit_sfx = F.lit("" if dialect == "sqlite" else " LIMIT 1")
        replace = F.concat(F.lit("REPLACE INTO "), tbl, F.lit("("), col_list,
                           F.lit(") VALUES ("), values, F.lit(")"))
    update = F.concat(F.lit("UPDATE "), tbl, F.lit(" SET "), set_clause,
                      F.lit(" WHERE "), where, limit_sfx)
    delete = F.concat(F.lit("DELETE FROM "), tbl, F.lit(" WHERE "), where,
                      limit_sfx)
    stmt = (F.when(F.col("op") == "I", insert)
             .when(F.col("op") == "R", replace)
             .when(F.col("op") == "U", update)
             .when(F.col("op") == "D", delete))
    return changes.withColumn("sql_text", stmt)


class TableInfo:
    """Downstream table metadata for the statement builder — the
    analog of pkg/loader's tableInfo (util.go:68-101): ordered column
    list, unique keys ORDERED with PRIMARY first (util.go:97-101 swaps
    it to the front), and generated columns (excluded from writes,
    drainer/translator/mysql.go:212-222, load.go:748)."""

    def __init__(self, columns: tuple[str, ...],
                 unique_keys: tuple[tuple[str, tuple[str, ...]], ...] = (),
                 generated: tuple[str, ...] = ()):
        self.columns = tuple(columns)
        self.unique_keys = tuple(unique_keys)
        self.generated = tuple(generated)

    @property
    def writable(self) -> tuple[str, ...]:
        return tuple(c for c in self.columns if c not in self.generated)


def generate_sql_wide(changes: DataFrame, info: TableInfo,
                      dialect: str = "mysql") -> DataFrame:
    """Statement builder over the map row model (values/old_values
    MAP<STRING,STRING>) with the reference's key-selection rule.

    WHERE key choice (pkg/loader/model.go:303-330 whereSlice): walk
    unique keys in order (PRIMARY first) and use the first whose
    where-values are ALL non-null; otherwise fall back to every column
    with NULL-safe `col IS NULL` fragments. For updates the where
    values come from old_values, else from values (model.go:292-301
    whereValues). Tables with no unique key are additionally flagged
    exec_mode='single' — the reference routes them to the
    single-statement path, never the bulk batch (load.go:591-628
    groupDMLs).

    The whole builder is nested CASE/concat Catalyst expressions —
    per-row key selection happens executor-side with no Python.
    """
    def render(col_expr: Column) -> Column:
        # map values are strings; render quoted + escaped per dialect
        return sql_literal(col_expr, True, dialect)

    tbl, quote = _target(dialect)
    # executable sqlite target: no UPDATE/DELETE LIMIT in stock builds
    limit_sfx = F.lit({"oracle": " AND rownum <= 1",
                       "sqlite": ""}.get(dialect, " LIMIT 1"))

    def v(c: str) -> Column:
        return F.try_element_at("values", F.lit(c))

    def wv(c: str) -> Column:
        # whereValues: OldValues for updates, Values otherwise
        return F.when(F.col("op") == "U",
                      F.try_element_at("old_values", F.lit(c))) \
                .otherwise(F.try_element_at("values", F.lit(c)))

    writable = info.writable
    col_list = F.lit(", ".join(quote(c) for c in writable))
    values_list = F.concat_ws(", ", *[render(v(c)) for c in writable])
    set_clause = F.concat_ws(", ", *[
        F.concat(F.lit(f"{quote(c)} = "), render(v(c))) for c in writable])

    def key_where(cols: tuple[str, ...]) -> Column:
        return F.concat_ws(" AND ", *[
            F.concat(F.lit(f"{quote(c)} = "), render(wv(c))) for c in cols])

    def all_cols_where() -> Column:
        frags = []
        for c in writable:
            frags.append(
                F.when(wv(c).isNull(), F.lit(f"{quote(c)} IS NULL"))
                 .otherwise(F.concat(F.lit(f"{quote(c)} = "), render(wv(c)))))
        return F.concat_ws(" AND ", *frags)

    where: Column = all_cols_where()
    for name, cols in reversed(info.unique_keys):
        usable = None
        for c in cols:
            cond = wv(c).isNotNull()
            usable = cond if usable is None else (usable & cond)
        where = F.when(usable, key_where(cols)).otherwise(where)

    insert = F.concat(F.lit("INSERT INTO "), tbl, F.lit("("), col_list,
                      F.lit(") VALUES ("), values_list, F.lit(")"))
    replace = F.concat(F.lit("REPLACE INTO "), tbl, F.lit("("), col_list,
                       F.lit(") VALUES ("), values_list, F.lit(")"))
    update = F.concat(F.lit("UPDATE "), tbl, F.lit(" SET "), set_clause,
                      F.lit(" WHERE "), where, limit_sfx)
    delete = F.concat(F.lit("DELETE FROM "), tbl, F.lit(" WHERE "), where,
                      limit_sfx)
    stmt = (F.when(F.col("op") == "I", insert)
             .when(F.col("op") == "R", replace)
             .when(F.col("op") == "U", update)
             .when(F.col("op") == "D", delete))
    mode = F.lit("batch" if info.unique_keys else "single")
    return (changes.withColumn("sql_text", stmt)
                   .withColumn("exec_mode", mode))


def bulk_delete_replace(compacted: DataFrame,
                        value_cols: tuple[str, ...] = ("pk", "val"),
                        batch_size: int = 128) -> DataFrame:
    """Multi-row statement batching per (db, tbl, op): deletes first,
    then replaces, exactly the executor's bulkDelete/bulkReplace order
    (pkg/loader/executor.go:273-334). Emits one row per batched
    statement with its position, so the apply order is total.

    Batch numbering is a per-(db, tbl, op) row_number. The single
    window parallelizes across tables — the reference batches per
    table too, so this matches its unit of parallelism.

    Values render through :func:`sql_literal` (NULL as ``NULL``,
    strings quoted and escaped as mysql literals).
    """
    str_set = _string_cols(compacted, value_cols)
    values_tuple = F.concat(
        F.lit("("),
        F.concat_ws(", ", *[sql_literal(F.col(c), c in str_set)
                            for c in value_cols]),
        F.lit(")"))
    w = Window.partitionBy("db", "tbl", "op").orderBy("pk")
    ranked = compacted.withColumn(
        "batch_no",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("int"))
    return (ranked.groupBy("db", "tbl", "op", "batch_no")
            .agg(F.concat_ws(", ", F.array_sort(F.collect_list(values_tuple)))
                 .alias("values_list"),
                 F.count(F.lit(1)).alias("n_rows")))


# keys per multi-row statement of the batch path (the reference's
# loader batches 128 rows per bulk statement, executor.go:273-334)
BATCH_KEYS = 128


def _marks(n: int) -> str:
    return ", ".join(["?"] * n)


def chunk_statements(tbl: str, cols: tuple[str, ...],
                     keys) -> list[tuple[str, list]]:
    """The batch path's statements for one chunk of one table's merged
    keys (``compaction.merge_by_pk`` rows: op, pre_delete and the final
    image), in apply order, as (text, params) with ``?`` placeholders,
    as the loader's executor builds them (executor.go:273-334):

      D keys and pre_delete keys -> DELETE FROM t WHERE pk IN (?, ...)
      I keys -> INSERT INTO t(cols) VALUES (?, ...), (?, ...)
      R keys -> REPLACE INTO t(cols) VALUES (?, ...), (?, ...)
      U keys -> UPDATE t SET c = CASE pk WHEN ? THEN ? ... END, ...
                WHERE pk IN (?, ...)

    The DELETE comes first, so a key deleted and re-inserted in the
    batch finds its slot free; a key that is already live fails the
    multi-row INSERT as it would the single one. The shapes are the
    sqlite dialect's; mysql's differ only by the schema-qualified table.
    """
    t, pk_q = _q(tbl), _q("pk")
    set_cols = [c for c in cols if c != "pk"]
    out = []
    dels = [k["pk"] for k in keys if k["op"] == "D" or k["pre_delete"]]
    if dels:
        out.append((f"DELETE FROM {t} WHERE {pk_q} IN ({_marks(len(dels))})",
                    dels))
    row = f"({_marks(len(cols))})"
    col_list = ", ".join(_q(c) for c in cols)
    for verb, op in (("INSERT", "I"), ("REPLACE", "R")):
        rows = [k for k in keys if k["op"] == op]
        if rows:
            out.append((f"{verb} INTO {t}({col_list}) VALUES "
                        + ", ".join([row] * len(rows)),
                        [k[c] for k in rows for c in cols]))
    upd = [k for k in keys if k["op"] == "U"]
    if upd and set_cols:        # a pk-only table has nothing to update
        cases = " WHEN ? THEN ?" * len(upd)
        sets = ", ".join(f"{_q(c)} = CASE {pk_q}{cases} END"
                         for c in set_cols)
        out.append((f"UPDATE {t} SET {sets} "
                    f"WHERE {pk_q} IN ({_marks(len(upd))})",
                    [v for c in set_cols for k in upd for v in (k["pk"], k[c])]
                    + [k["pk"] for k in upd]))
    return out
