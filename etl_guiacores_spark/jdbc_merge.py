"""Keyed JDBC upsert: staging table + MERGE / ON CONFLICT (L4).

The reference bootstraps a typed ``leads`` table and upserts each
batch with ``INSERT ... ON CONFLICT (contador_id) DO UPDATE``
(reference: src/extractors/manual_scraper.py:197-295). The engine's
scalable twin:

1. write the batch to a staging table with the plain JDBC writer
   (distributed, per-partition inserts — the only part that moves
   data, and it's append-shaped),
2. one set-based ``MERGE INTO`` / ``INSERT ... ON CONFLICT`` from
   staging into the target, executed ON the database (a single
   statement regardless of batch size — no read-modify-write of the
   whole target),
3. drop staging.

SQL generation is split out pure (``bootstrap_ddl`` / ``merge_sql``)
so the statements are contract-testable — and genuinely executed in
tests against SQLite and DuckDB, which share the ON CONFLICT dialect —
without a JDBC driver on the classpath (none ships here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Spark -> ANSI-ish SQL types, conservative enough for the dialects we
# generate for (Postgres / SQLite / DuckDB / MERGE-capable warehouses).
_SQL_TYPES: dict[type, str] = {
    T.StringType: "TEXT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
    T.BinaryType: "BLOB",
}


def quote_ident(name: str) -> str:
    """Double-quote a (possibly dotted) SQL identifier: DataFrame
    column names may be reserved words or carry spaces, and the
    generated statements interpolate them — quoting keeps the DDL and
    MERGE valid (and closes the injection surface) on every dialect
    these generators target."""
    return ".".join('"' + part.replace('"', '""') + '"' for part in name.split("."))


def sql_type_for(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    for spark_t, sql_t in _SQL_TYPES.items():
        if isinstance(dt, spark_t):
            return sql_t
    # arrays/structs/maps land as TEXT — callers serialize (the
    # reference stores telefonos/rubros as joined TEXT too)
    return "TEXT"


def bootstrap_ddl(schema: T.StructType, table: str, key: str) -> str:
    """Typed CREATE TABLE IF NOT EXISTS with a UNIQUE key — the
    reference's init_db() (manual_scraper.py:197-238) derived from the
    DataFrame schema instead of hand-maintained DDL."""
    cols = ",\n    ".join(
        f"{quote_ident(f.name)} {sql_type_for(f.dataType)}"
        + (" UNIQUE" if f.name == key else "")
        for f in schema.fields
    )
    return f"CREATE TABLE IF NOT EXISTS {quote_ident(table)} (\n    {cols}\n)"


def staging_name(table: str) -> str:
    return f"{table}__staging"


def missing_driver(e: Exception) -> bool:
    """True only for a genuinely absent JDBC driver — SQL/auth/network
    failures must surface as themselves, not as a classpath hint."""
    msg = str(e)
    return "No suitable driver" in msg or "ClassNotFound" in msg


def merge_sql(
    table: str, staging: str, key: str, columns: list[str], dialect: str = "merge"
) -> str:
    """One set-based upsert statement from staging into target.

    dialect="merge": ANSI MERGE INTO (warehouses, SQL Server, modern
    Postgres). dialect="onconflict": INSERT ... ON CONFLICT DO UPDATE
    (Postgres/SQLite/DuckDB — the reference's own statement shape,
    manual_scraper.py:272-295).
    """
    non_key = [quote_ident(c) for c in columns if c != key]
    qcols = [quote_ident(c) for c in columns]
    qt, qs, qk = quote_ident(table), quote_ident(staging), quote_ident(key)
    collist = ", ".join(qcols)
    if dialect == "merge":
        set_clause = ", ".join(f"{c} = s.{c}" for c in non_key)
        values = ", ".join(f"s.{c}" for c in qcols)
        return (
            f"MERGE INTO {qt} t USING {qs} s ON t.{qk} = s.{qk}\n"
            f"WHEN MATCHED THEN UPDATE SET {set_clause}\n"
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({values})"
        )
    if dialect == "onconflict":
        set_clause = ", ".join(f"{c} = excluded.{c}" for c in non_key)
        return (
            f"INSERT INTO {qt} ({collist}) SELECT {collist} FROM {qs} WHERE true\n"
            f"ON CONFLICT ({qk}) DO UPDATE SET {set_clause}"
        )
    raise ValueError(f"unknown dialect {dialect!r}; use 'merge' or 'onconflict'")


def jdbc_keyed_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key: str,
    dialect: str = "merge",
    properties: dict | None = None,
    bootstrap: bool = True,
) -> None:
    """Distributed staging write + one on-database merge statement.

    Unlike merge-then-overwrite this never reads or rewrites the
    target, so cost scales with the BATCH, not with the accumulated
    table — the correct shape for a target that grows for years.
    Needs a JDBC driver on the Spark classpath (none ships in this
    container; tests exercise the generated SQL directly).
    """
    spark = df.sparkSession
    props = properties or {}
    staging = staging_name(table)
    # MERGE/ON CONFLICT both reject a batch that touches the same
    # target row twice ("cannot affect row a second time") — one row
    # per key is the statement's contract, enforced here; callers
    # needing a deterministic winner pre-reduce with dedupe_keyed_first
    df = df.dropDuplicates([key])
    stmts = []
    if bootstrap:
        stmts.append(bootstrap_ddl(df.schema, table, key))
    stmts.append(merge_sql(table, staging, key, df.columns, dialect))

    _missing_driver = missing_driver

    # only a genuinely missing driver gets the classpath message; any
    # other failure (auth, network, SQL) must surface as itself.
    # The staging name is passed PRE-QUOTED: Spark's JDBC writer
    # interpolates the table string verbatim into its CREATE/INSERT, so
    # an unquoted name would be case-folded by the database (Postgres:
    # Leads__staging -> leads__staging) while merge_sql references the
    # quoted, case-preserved form — the merge would miss the table.
    try:
        df.write.jdbc(url, quote_ident(staging), mode="overwrite", properties=props)
    except Exception as e:  # pragma: no cover - no JDBC driver in test env
        if _missing_driver(e):
            raise RuntimeError(
                f"jdbc_keyed_upsert needs a JDBC driver for {url} on the "
                f"Spark classpath; statements it would run: {stmts}"
            ) from e
        raise
    try:  # pragma: no cover - no JDBC driver in test env
        jvm = spark._sc._jvm  # executing DDL needs a raw JDBC statement
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            jprops.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    except Exception as e:  # pragma: no cover
        if _missing_driver(e):
            raise RuntimeError(
                f"jdbc_keyed_upsert needs a JDBC driver for {url} on the "
                f"Spark classpath; statements it would run: {stmts}"
            ) from e
        raise RuntimeError(
            f"jdbc_keyed_upsert: connection failed AFTER the staging write — "
            f"table {staging!r} may remain in the database and should be "
            f"dropped manually"
        ) from e
    try:  # pragma: no cover - no JDBC driver in test env
        st = conn.createStatement()
        for stmt in stmts:
            st.execute(stmt)
        st.close()
    finally:  # pragma: no cover
        try:  # the staging table must not leak when the merge fails
            cleanup = conn.createStatement()
            cleanup.execute(f"DROP TABLE IF EXISTS {quote_ident(staging)}")
            cleanup.close()
        except Exception:
            pass
        conn.close()
