"""Transactional upsert/delete sink with in-transaction checkpointing.

Re-expression of the reference's write path (``/root/reference/app/mysql.go``):

- K2/K3 upsert        : ``upsertRow``/``appendRow`` (mysql.go:357-431) — one
                        row, one statement, one txn there; batched
                        set-based upserts per partition here.
- K4 partial update   : mysql.go:449-505 — rows grouped by the set of
                        fields they change, one prepared statement per
                        group.
- K5 delete           : ``deleteRow`` (mysql.go:507-534).
- K1/K6 exactly-once  : the reference bumps its ``momyre(name,value)``
                        checkpoint row INSIDE the data transaction
                        (``updateTimestampInTx``, mysql.go:563-588). The
                        engine keeps that exact trick, generalized to
                        microbatches: each partition's transaction also
                        upserts ``(label, batch_id)`` into the progress
                        table; a replayed batch is detected and skipped —
                        idempotent under Structured Streaming's
                        at-least-once ``foreachBatch`` re-delivery.

Every write goes through one executor-side body, :func:`write_partition`:
one connection and one transaction per partition, whatever mix of
statements the partition's rows need. A CDC batch's upserts, patches and
deletes for a table therefore commit together, under one replay marker.

Connections are made by a picklable ``connection_factory`` (a zero-arg
callable returning a DBAPI connection), so executors — not the driver — own
their connections. Tests inject sqlite; production injects
``mysql.connector``/``pymysql`` partials. Rows flow through
``df.foreachPartition`` in batches of ``executemany`` — the Spark-side plan
stays whatever the caller built (merged CDC state, snapshot projection, ...).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame

from momyre_spark.sinks.dialects import DIALECTS, Dialect, check_ident

PROGRESS_TABLE = "momyre_progress"  # analog of the `momyre` table (mysql.go:128-144)
BATCH_ROWS = 1000  # rows per executemany call

ConnFactory = Callable[[], Any]
# maps a row to the (sql, params) it writes, or None to skip the row
Statement = Callable[[Any], "tuple[str, tuple] | None"]


def ensure_progress_table(cur: Any, dialect: Dialect) -> None:
    """D4: bootstrap the checkpoint table (mysql.go:87-107,128-144)."""
    q = dialect.q
    cur.execute(
        f"CREATE TABLE IF NOT EXISTS {q(PROGRESS_TABLE)} "
        f"({q('name')} VARCHAR(128) PRIMARY KEY, {q('value')} VARCHAR(64))"
    )


def _progress_key(
    label: str, part: int | None = None, layout: int | None = None
) -> str:
    # per-PARTITION progress: partitions of one batch commit independently,
    # so each needs its own replay marker. The total partition count is part
    # of the key: a replayed batch with a DIFFERENT row-to-partition layout
    # (changed num_partitions / shuffle-partition conf between restarts) must
    # not match the old markers — skipping rows never applied loses writes,
    # while reapplying is safe (upserts/patches/deletes are idempotent).
    if part is None:
        return f"batch:{label}"
    return f"batch:{label}:p{part}of{layout}"


def read_progress(cur: Any, dialect: Dialect, name: str) -> int | None:
    """S4: read a resume point (mysql.go:108-123). None = from scratch."""
    q = dialect.q
    cur.execute(
        f"SELECT {q('value')} FROM {q(PROGRESS_TABLE)} WHERE {q('name')} = {dialect.ph}",
        (name,),
    )
    row = cur.fetchone()
    return int(row[0]) if row else None


def _write_progress_in_tx(cur: Any, dialect: Dialect, name: str, batch_id: int) -> None:
    """K6: checkpoint bump inside the open data transaction."""
    sql = dialect.upsert_sql(PROGRESS_TABLE, ["name", "value"], key="name")
    cur.execute(sql, (name, str(batch_id)))


def write_partition(
    rows: Iterable,
    statement: Statement,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    layout: int,
    batch_id: int | None = None,
    label: str | None = None,
) -> None:
    """Executor-side body of every sink write: one partition, one txn.

    Each row goes through ``statement``; rows are grouped by the SQL they
    need and each group runs as ``executemany`` in chunks of BATCH_ROWS.
    Rows of different groups must touch different keys (one action per key),
    since groups do not keep their relative order.

    With ``batch_id`` set, the transaction also records
    ``(batch:{label}:p{part}of{layout}, batch_id)``; if the stored id is
    already >= batch_id the partition was applied by a previous attempt and
    is skipped (exactly-once per batch against at-least-once delivery).
    ``layout`` is the batch's total partition count — part of the marker
    key, so replays under a different partition layout reapply instead of
    silently skipping."""
    dialect = DIALECTS[dialect_name]
    marker = None
    if batch_id is not None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        marker = _progress_key(label, tc.partitionId() if tc else None, layout)
    conn = connection_factory()
    try:
        cur = conn.cursor()
        if marker is not None:
            ensure_progress_table(cur, dialect)
            seen = read_progress(cur, dialect, marker)
            if seen is not None and seen >= batch_id:
                return  # replayed batch/partition — already applied
        groups: dict[str, list[tuple]] = {}
        for row in rows:
            stmt = statement(row)
            if stmt is None:
                continue
            buf = groups.setdefault(stmt[0], [])
            buf.append(stmt[1])
            if len(buf) >= BATCH_ROWS:
                cur.executemany(stmt[0], buf)
                buf.clear()
        for sql, buf in groups.items():
            if buf:
                cur.executemany(sql, buf)
        if marker is not None:
            _write_progress_in_tx(cur, dialect, marker, batch_id)
        conn.commit()
    except Exception:
        conn.rollback()  # mysql.go:301-306 rollback-on-error
        raise
    finally:
        conn.close()


def write_dataframe(
    df: DataFrame,
    statement: Statement,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    batch_id: int | None = None,
    label: str | None = None,
    num_partitions: int | None = None,
) -> None:
    """Run :func:`write_partition` over every partition of ``df``.

    At scale, ``num_partitions`` caps sink concurrency (a thousand executors
    hammering one MySQL is the actual bottleneck — the reference never had
    the problem because it was single-threaded). ``batch_id`` and
    ``label`` name the replay marker, see write_partition."""
    if num_partitions:
        df = df.coalesce(num_partitions)
    rdd = df.rdd
    layout = rdd.getNumPartitions()
    rdd.foreachPartition(
        lambda rows: write_partition(
            rows,
            statement,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            layout=layout,
            batch_id=batch_id,
            label=label,
        )
    )


def upsert_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    key: str = "_id",
    batch_id: int | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
) -> None:
    """Distributed upsert: every partition opens its own connection/txn,
    replay-guarded by the ``{table}`` marker when ``batch_id`` is set."""
    columns = df.columns
    if key not in columns:
        raise ValueError(f"key column {key!r} not in DataFrame ({columns})")
    dialect = DIALECTS[dialect_name]
    if ts_guard_col is not None:
        sql = dialect.guarded_upsert_sql(table, columns, key, ts_guard_col)
    else:
        sql = dialect.upsert_sql(table, columns, key)
    write_dataframe(
        df,
        lambda row: (sql, tuple(row)),
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        batch_id=batch_id,
        label=table,
        num_partitions=num_partitions,
    )


def merge_upsert_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    merge: dict[str, str],
    key: str = "_id",
    batch_id: int | None = None,
    num_partitions: int | None = None,
    progress_label: str | None = None,
) -> None:
    """Distributed combining upsert (sink half of operators/incremental.py):
    each row folds into the maintained aggregate row for its key.

    With ``batch_id`` set this uses a STAGED two-phase protocol, because
    combining merges (sum) are not idempotent and per-partition replay
    markers are layout-dependent — a replayed batch whose rows land in
    different partitions (changed num_partitions, shuffle conf, AQE
    coalescing across a restart) would miss the old markers and
    double-apply:

    1. executors replace-upsert the deltas into ``{table}__stage`` keyed
       ``(__batch_id, key)`` — idempotent under any re-delivery/layout;
    2. the driver, in ONE transaction: checks the per-(table, batch)
       marker, applies staging -> target as a single set-based combining
       INSERT..SELECT, records the marker, and purges the staged batch.

    Either the whole batch's merge and its marker commit together, or
    neither does. Without ``batch_id`` the deltas are applied directly
    (no replay protection — caller owns delivery semantics)."""
    columns = df.columns
    if key not in columns:
        raise ValueError(f"key column {key!r} not in DataFrame ({columns})")
    unknown = set(merge) - set(columns)
    if unknown:
        raise ValueError(f"merge columns not in DataFrame: {sorted(unknown)}")
    dialect = DIALECTS[dialect_name]

    if batch_id is None:
        sql = dialect.merge_upsert_sql(table, columns, key, merge)
        write_dataframe(
            df,
            lambda row: (sql, tuple(row)),
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            num_partitions=num_partitions,
        )
        return

    from pyspark.sql import functions as F

    check_ident(table)
    # The staging table is scoped to the WRITER (progress_label), not just
    # the target table: two streams merging into one table would otherwise
    # share a stage, replace-upsert over each other's (batch_id, key) rows,
    # and purge each other's staged batches before phase 2 applied them.
    # Labels are free-form strings, so non-default labels get a hex suffix
    # rather than appearing in the identifier.
    # UPGRADE NOTE: deployments that ran a pre-suffix build with a
    # non-default progress_label staged into the SHARED `table__stage`;
    # phase 2 now reads `table__stage_<hex>`, so an in-flight batch staged
    # by the old build (crash between phase 1 and phase 2) would be
    # orphaned. Drain in-flight batches (let phase 2 complete) before
    # upgrading a live sink, or replay the last micro-batch after upgrade
    # (staging replace-upsert on (batch_id, key) makes the replay safe).
    if progress_label and progress_label != table:
        import hashlib as _hashlib

        suffix = _hashlib.md5(progress_label.encode("utf-8")).hexdigest()[:8]
        stage = f"{table}__stage_{suffix}"
    else:
        stage = f"{table}__stage"
    check_ident(stage)
    bkey = _progress_key(progress_label or table)

    # Combining merges are ASSOCIATIVE per column (sum/min/max), so deltas
    # are pre-folded to ONE row per key before staging: the staging table's
    # replace-upsert on (batch_id, key) would otherwise keep only the last
    # duplicate and silently drop the rest of the key's deltas.
    folds = {"sum": F.sum, "min": F.min, "max": F.max}
    unknown_fold = sorted(
        {f for f in merge.values() if f not in folds and f != "replace"}
    )
    if unknown_fold:
        raise ValueError(
            f"merge functions must be associative for staging: {unknown_fold}"
        )
    agg_cols = [c for c, f in merge.items() if f in folds]
    # 'replace' merge columns and non-merged columns both carry replace
    # semantics on conflict. They are folded as ONE WHOLE ROW (max_by over
    # the ordered struct of the fold columns) — per-column max would
    # synthesize a row mixing values from different deltas (and fails on
    # unorderable types like maps). Ties on the fold key pick either of the
    # (then equal-weight) rows.
    row_cols = [c for c in columns if c != key and c not in agg_cols]
    aggs = [folds[merge[c]](c).alias(c) for c in agg_cols]
    if row_cols:
        if agg_cols:
            ord_key = F.struct(*[F.col(c) for c in agg_cols])
        else:
            ord_key = F.lit(1)
        aggs.append(
            F.max_by(F.struct(*[F.col(c) for c in row_cols]), ord_key).alias(
                "__row"
            )
        )
        df = df.groupBy(key).agg(*aggs).select(
            key,
            *agg_cols,
            *[F.col(f"__row.{c}").alias(c) for c in row_cols],
        ).select(*columns)
    else:
        df = df.groupBy(key).agg(*aggs).select(*columns)

    # phase 0 (driver): skip an already-applied batch; bootstrap staging DDL
    conn = connection_factory()
    try:
        cur = conn.cursor()
        ensure_progress_table(cur, dialect)
        seen = read_progress(cur, dialect, bkey)
        if seen is not None and seen >= batch_id:
            conn.commit()
            return  # replayed batch — already merged
        stage_cols = [("__batch_id", "bigint")] + df.dtypes
        cur.execute(
            dialect.create_staging_sql(stage, stage_cols, ["__batch_id", key])
        )
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()

    # phase 1 (executors): idempotent staging writes. The fold reshuffled to
    # spark.sql.shuffle.partitions; write_dataframe re-applies the caller's
    # sink-connection cap before executors open connections.
    all_cols = ["__batch_id", *columns]
    stage_sql = dialect.upsert_sql_multi(stage, all_cols, ["__batch_id", key])
    write_dataframe(
        df.select(F.lit(batch_id).cast("bigint").alias("__batch_id"), *columns),
        lambda row: (stage_sql, tuple(row)),
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        num_partitions=num_partitions,
    )

    # phase 2 (driver, one txn): marker-gated set-based apply + purge
    conn = connection_factory()
    try:
        cur = conn.cursor()
        seen = read_progress(cur, dialect, bkey)
        if seen is None or seen < batch_id:
            cur.execute(
                dialect.merge_from_staging_sql(
                    table, stage, columns, key, merge
                ),
                (batch_id,),
            )
            _write_progress_in_tx(cur, dialect, bkey, batch_id)
            cur.execute(dialect.purge_staging_sql(stage), (batch_id,))
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def purge_tombstones(
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    tombstone_col: str,
    ts_guard_col: str,
    older_than: int,
) -> int:
    """Compact soft-deleted rows: physically DELETE rows flagged by
    ``tombstone_col`` whose high-water mark is older than ``older_than``.

    Run this as periodic maintenance once the retention window exceeds the
    transport's maximum reorder horizon — after that, no stale upsert for
    the key can still arrive, so dropping the tombstone (and its guard ts)
    is safe. Returns the number of rows purged. Driver-side single
    statement: the flagged set is bounded by delete traffic, not table
    size, and the sink indexes the primary key, not the flag."""
    dialect = DIALECTS[dialect_name]
    check_ident(table)
    ph = dialect.ph
    q = dialect.q
    conn = connection_factory()
    try:
        cur = conn.cursor()
        cur.execute(
            f"DELETE FROM {q(table)} WHERE {q(tombstone_col)} = 1 "
            f"AND {q(ts_guard_col)} < {ph}",
            (older_than,),
        )
        n = cur.rowcount
        conn.commit()
        return n if n is not None else 0
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def delete_dataframe(
    df: DataFrame,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    table: str,
    key: str = "_id",
    num_partitions: int | None = None,
) -> None:
    """Distributed delete of ``df``'s keys, one txn per partition."""
    sql = DIALECTS[dialect_name].delete_sql(table, key)
    write_dataframe(
        df.select(key),
        lambda row: (sql, tuple(row)),
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        num_partitions=num_partitions,
    )
