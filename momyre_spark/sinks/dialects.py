"""SQL dialect abstraction for the JDBC/DBAPI sink.

The reference hardcodes MySQL (backtick identifiers, ``ON DUPLICATE KEY
UPDATE`` via error-1062 fallback, ``SHOW TABLES/COLUMNS`` —
``/root/reference/app/mysql.go``). The engine keeps those semantics behind a
dialect object so tests can run on sqlite (no MySQL server in CI) and
production points at MySQL/MariaDB. Identifiers are validated + quoted —
the reference concatenates them raw (mysql.go:173,408,482,516), a SQL
injection the engine does not reproduce (SURVEY.md §7 non-goals).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def check_ident(name: str) -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


@dataclass(frozen=True)
class Dialect:
    name: str
    quote_char: str
    ph: str = "?"  # DBAPI parameter placeholder

    def q(self, ident: str) -> str:
        return f"{self.quote_char}{check_ident(ident)}{self.quote_char}"

    def upsert_sql(self, table: str, columns: list[str], key: str) -> str:
        raise NotImplementedError

    def guarded_upsert_sql(
        self, table: str, columns: list[str], key: str, ts_col: str
    ) -> str:
        """Upsert that only overwrites when the incoming row's sequence
        column is >= the stored one — last-writer-wins under out-of-order
        cross-batch delivery. ``ts_col`` must be in ``columns``."""
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join(self.ph for _ in columns)
        sets = ", ".join(
            f"{self.q(c)} = excluded.{self.q(c)}" for c in columns if c != key
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT({self.q(key)}) DO UPDATE SET {sets} "
            f"WHERE excluded.{self.q(ts_col)} >= {self.q(table)}.{self.q(ts_col)}"
        )

    def guarded_delete_sql(self, table: str, key: str, ts_col: str) -> str:
        return (
            f"DELETE FROM {self.q(table)} WHERE {self.q(key)} = {self.ph} "
            f"AND {self.q(ts_col)} <= {self.ph}"
        )

    # two-arg least/greatest spelling (sqlite scalar MIN/MAX; others
    # LEAST/GREATEST)
    least_fn = "MIN"
    greatest_fn = "MAX"

    def merge_upsert_sql(
        self, table: str, columns: list[str], key: str, merge: dict[str, str]
    ) -> str:
        """Upsert that COMBINES with the stored row instead of replacing it:
        ``merge`` maps column -> 'sum' | 'min' | 'max' | 'replace'. This is
        what lets a streaming micro-batch fold pre-aggregated deltas into a
        maintained aggregate table with one statement per row — the
        sink-side half of operators/incremental.py. NOT idempotent ('sum'
        double-applies on replay) — callers must pair it with the in-txn
        batch progress marker, which is exactly what merge_upsert_dataframe's
        staged protocol does."""
        t, e = self.q(table), "excluded"

        def combine(c: str) -> str:
            qc = self.q(c)
            kind = merge.get(c, "replace")
            if kind == "replace":
                return f"{qc} = {e}.{qc}"
            stored, new = f"{t}.{qc}", f"{e}.{qc}"
            if kind == "sum":
                return f"{qc} = {stored} + {new}"
            if kind == "min":
                return f"{qc} = {self.least_fn}({stored}, {new})"
            if kind == "max":
                return f"{qc} = {self.greatest_fn}({stored}, {new})"
            raise ValueError(f"unknown merge kind {kind!r} for column {c!r}")

        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join(self.ph for _ in columns)
        sets = ", ".join(combine(c) for c in columns if c != key)
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT({self.q(key)}) DO UPDATE SET {sets}"
        )

    def delete_sql(self, table: str, key: str) -> str:
        return f"DELETE FROM {self.q(table)} WHERE {self.q(key)} = ?"

    def update_sql(
        self, table: str, columns: Sequence[str], key: str, ts_col: str | None = None
    ) -> str:
        """Partial update of ``columns`` by key (reference K4,
        mysql.go:449-505). With ``ts_col`` it also advances the row's
        sequence column, and only if the incoming one is >= the stored one;
        params are then ``(*values, ts, key, ts)``, else ``(*values, key)``."""
        sets = ", ".join(f"{self.q(c)} = {self.ph}" for c in columns)
        where = f"{self.q(key)} = {self.ph}"
        if ts_col is not None:
            sets += f", {self.q(ts_col)} = {self.ph}"
            where += f" AND {self.q(ts_col)} <= {self.ph}"
        return f"UPDATE {self.q(table)} SET {sets} WHERE {where}"

    def insert_sql(self, table: str, columns: list[str]) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("?" for _ in columns)
        return f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph})"

    # -------------------------------------------- staged two-phase merge --
    # Combining merges (sum) are NOT idempotent, and per-partition replay
    # markers only match when the replay reuses the same row-to-partition
    # layout — a restart that changes num_partitions / AQE coalescing would
    # double-apply deltas. The staged protocol is layout-independent:
    # executors REPLACE-upsert rows into a staging table keyed
    # (batch_id, key) — idempotent under any re-delivery — and the driver
    # then applies staging -> target as ONE set-based statement in the same
    # transaction that records the batch marker.

    def sql_type(self, spark_dtype: str, key: bool = False) -> str:
        """Portable column type for a Spark dtype string (staging DDL)."""
        t = spark_dtype.lower()
        if t.startswith("decimal"):
            return t.upper()
        mapping = {
            "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
            "tinyint": "SMALLINT", "double": "DOUBLE PRECISION",
            "float": "REAL", "boolean": "SMALLINT", "date": "DATE",
            "timestamp": "TIMESTAMP", "binary": "BLOB", "string": "TEXT",
        }
        if key and t == "string":
            return "VARCHAR(191)"  # index-safe under utf8mb4
        return mapping.get(t, "TEXT")

    def create_staging_sql(
        self, stage: str, cols: list[tuple[str, str]], keys: list[str]
    ) -> str:
        defs = ", ".join(
            f"{self.q(c)} {self.sql_type(t, c in keys)}" for c, t in cols
        )
        pk = ", ".join(self.q(k) for k in keys)
        return (
            f"CREATE TABLE IF NOT EXISTS {self.q(stage)} "
            f"({defs}, PRIMARY KEY ({pk}))"
        )

    def upsert_sql_multi(
        self, table: str, columns: list[str], keys: list[str]
    ) -> str:
        """Replace-upsert on a COMPOSITE key (the staging write)."""
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join(self.ph for _ in columns)
        conflict = ", ".join(self.q(k) for k in keys)
        sets = ", ".join(
            f"{self.q(c)} = excluded.{self.q(c)}"
            for c in columns
            if c not in keys
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT({conflict}) DO UPDATE SET {sets}"
        )

    def merge_from_staging_sql(
        self,
        table: str,
        stage: str,
        columns: list[str],
        key: str,
        merge: dict[str, str],
        batch_col: str = "__batch_id",
    ) -> str:
        """Apply one staged batch into the target with ONE combining
        INSERT..SELECT — executed driver-side inside the marker transaction.
        Precondition: one staged row per key per batch (merge semantics
        already require pre-aggregated deltas)."""
        t = self.q(table)

        def combine(c: str) -> str:
            qc = self.q(c)
            kind = merge.get(c, "replace")
            if kind == "replace":
                return f"{qc} = excluded.{qc}"
            stored, new = f"{t}.{qc}", f"excluded.{qc}"
            if kind == "sum":
                return f"{qc} = {stored} + {new}"
            if kind == "min":
                return f"{qc} = {self.least_fn}({stored}, {new})"
            if kind == "max":
                return f"{qc} = {self.greatest_fn}({stored}, {new})"
            raise ValueError(f"unknown merge kind {kind!r} for column {c!r}")

        cols = ", ".join(self.q(c) for c in columns)
        sets = ", ".join(combine(c) for c in columns if c != key)
        # the WHERE on the SELECT also satisfies sqlite's upsert-with-SELECT
        # parsing requirement
        return (
            f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {self.q(stage)} "
            f"WHERE {self.q(batch_col)} = {self.ph} "
            f"ON CONFLICT({self.q(key)}) DO UPDATE SET {sets}"
        )

    def purge_staging_sql(self, stage: str, batch_col: str = "__batch_id") -> str:
        return (
            f"DELETE FROM {self.q(stage)} WHERE {self.q(batch_col)} <= {self.ph}"
        )


class MySQLDialect(Dialect):
    """MySQL/MariaDB: INSERT ... ON DUPLICATE KEY UPDATE (the set-based form
    of the reference's insert-then-update-on-1062 dance, mysql.go:357-374)."""

    def __init__(self) -> None:
        super().__init__(name="mysql", quote_char="`", ph="%s")

    def upsert_sql(self, table: str, columns: list[str], key: str) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        sets = ", ".join(
            f"{self.q(c)} = VALUES({self.q(c)})" for c in columns if c != key
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )

    def guarded_upsert_sql(
        self, table: str, columns: list[str], key: str, ts_col: str
    ) -> str:
        # MySQL has no WHERE on ON DUPLICATE KEY UPDATE; per-column IF with
        # the sequence column assigned LAST (assignments evaluate in order)
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        guard = f"VALUES({self.q(ts_col)}) >= {self.q(ts_col)}"
        data_cols = [c for c in columns if c not in (key, ts_col)]
        sets = ", ".join(
            f"{self.q(c)} = IF({guard}, VALUES({self.q(c)}), {self.q(c)})"
            for c in data_cols
        )
        sets += (f", {self.q(ts_col)} = IF({guard}, VALUES({self.q(ts_col)}), "
                 f"{self.q(ts_col)})")
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )

    def merge_upsert_sql(
        self, table: str, columns: list[str], key: str, merge: dict[str, str]
    ) -> str:
        # MySQL spelling: ON DUPLICATE KEY UPDATE, incoming row via
        # VALUES(col), stored row via the bare column name
        def combine(c: str) -> str:
            qc = self.q(c)
            kind = merge.get(c, "replace")
            if kind == "replace":
                return f"{qc} = VALUES({qc})"
            if kind == "sum":
                return f"{qc} = {qc} + VALUES({qc})"
            if kind == "min":
                return f"{qc} = LEAST({qc}, VALUES({qc}))"
            if kind == "max":
                return f"{qc} = GREATEST({qc}, VALUES({qc}))"
            raise ValueError(f"unknown merge kind {kind!r} for column {c!r}")

        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        sets = ", ".join(combine(c) for c in columns if c != key)
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )

    def delete_sql(self, table: str, key: str) -> str:
        return f"DELETE FROM {self.q(table)} WHERE {self.q(key)} = %s"

    def insert_sql(self, table: str, columns: list[str]) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        return f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph})"

    def upsert_sql_multi(
        self, table: str, columns: list[str], keys: list[str]
    ) -> str:
        # ODKU fires on whichever unique key conflicts — the staging table's
        # composite PRIMARY KEY does the routing
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        sets = ", ".join(
            f"{self.q(c)} = VALUES({self.q(c)})"
            for c in columns
            if c not in keys
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )

    def merge_from_staging_sql(
        self,
        table: str,
        stage: str,
        columns: list[str],
        key: str,
        merge: dict[str, str],
        batch_col: str = "__batch_id",
    ) -> str:
        def combine(c: str) -> str:
            qc = self.q(c)
            kind = merge.get(c, "replace")
            if kind == "replace":
                return f"{qc} = VALUES({qc})"
            if kind == "sum":
                return f"{qc} = {qc} + VALUES({qc})"
            if kind == "min":
                return f"{qc} = LEAST({qc}, VALUES({qc}))"
            if kind == "max":
                return f"{qc} = GREATEST({qc}, VALUES({qc}))"
            raise ValueError(f"unknown merge kind {kind!r} for column {c!r}")

        cols = ", ".join(self.q(c) for c in columns)
        sets = ", ".join(combine(c) for c in columns if c != key)
        return (
            f"INSERT INTO {self.q(table)} ({cols}) "
            f"SELECT {cols} FROM {self.q(stage)} "
            f"WHERE {self.q(batch_col)} = %s "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )


class SQLiteDialect(Dialect):
    """sqlite: INSERT ... ON CONFLICT(key) DO UPDATE (test stand-in)."""

    def __init__(self) -> None:
        super().__init__(name="sqlite", quote_char='"')

    def upsert_sql(self, table: str, columns: list[str], key: str) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("?" for _ in columns)
        sets = ", ".join(
            f"{self.q(c)} = excluded.{self.q(c)}" for c in columns if c != key
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT({self.q(key)}) DO UPDATE SET {sets}"
        )


class PostgresDialect(Dialect):
    """PostgreSQL: INSERT ... ON CONFLICT (key) DO UPDATE."""

    least_fn = "LEAST"
    greatest_fn = "GREATEST"

    def __init__(self) -> None:
        super().__init__(name="postgres", quote_char='"', ph="%s")

    def sql_type(self, spark_dtype: str, key: bool = False) -> str:
        if spark_dtype.lower() == "binary":
            return "BYTEA"
        return super().sql_type(spark_dtype, key)

    def upsert_sql(self, table: str, columns: list[str], key: str) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        sets = ", ".join(
            f"{self.q(c)} = EXCLUDED.{self.q(c)}" for c in columns if c != key
        )
        return (
            f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT ({self.q(key)}) DO UPDATE SET {sets}"
        )

    def delete_sql(self, table: str, key: str) -> str:
        return f"DELETE FROM {self.q(table)} WHERE {self.q(key)} = %s"

    def insert_sql(self, table: str, columns: list[str]) -> str:
        cols = ", ".join(self.q(c) for c in columns)
        ph = ", ".join("%s" for _ in columns)
        return f"INSERT INTO {self.q(table)} ({cols}) VALUES ({ph})"


DIALECTS: dict[str, Dialect] = {
    "mysql": MySQLDialect(),
    "sqlite": SQLiteDialect(),
    "postgres": PostgresDialect(),
}
