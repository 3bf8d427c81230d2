"""Structured Streaming CDC pipeline (reference §3.2 steady state).

The reference's steady state is: tailable oplog cursor -> decode -> one MySQL
txn per entry, sequential (``run.go:297-335``). Here the same contract is a
Structured Streaming query:

    ops stream -> foreachBatch:
        per table: merge_ops_microbatch (one shuffle, final action per key)
        -> one sink pass over the action frame: each row is an upsert (whole
           row), a patch (present fields only) or a delete, and each
           partition applies all of them in ONE transaction that also
           records the batch id under ONE replay marker
           (sinks/jdbc_upsert.write_partition) for exactly-once apply.

Ordering: the reference relies on a single sequential applier; the engine
instead collapses each batch to one action per key *before* writing (order-
insensitive within the batch), and Structured Streaming guarantees batch
serialization — batch N+1 never starts before N commits. Replay after crash
re-delivers a completed batch; the in-txn progress marker makes that a no-op.

The ops-stream source is any DataFrame stream with columns
(ts, ns, op, _id, payload) plus an optional ``seq`` tie-breaker (emitted by
the raw-oplog decoder for txn unwraps) — file/parquet streams in tests, the MongoDB Spark
connector's change stream or a Kafka/Debezium topic in production
(decode mappings per SURVEY.md §2.3: C1-C9 collapse to these five columns
with the official connector's updateDescription/fullDocument surface).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from momyre_spark.operators.cdc import merge_ops_microbatch
from momyre_spark.sinks.dialects import DIALECTS, check_ident
from momyre_spark.sinks.jdbc_upsert import ConnFactory, write_dataframe
from momyre_spark.spec import Spec, TableSpec


def apply_actions(
    actions: DataFrame,
    table: TableSpec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    batch_id: int | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """Write a merge_ops_microbatch action frame to the sink in one pass.

    Each row's ``__action`` picks its statement: ``upsert`` writes the whole
    row, ``patch`` updates only the ``__present`` fields (reference K4,
    mysql.go:449-505; one prepared statement per distinct field set) and
    ``delete`` removes the key. Each partition commits all three kinds in
    one transaction, replay-guarded by the ``{table}#actions`` marker.

    With ``ts_guard_col`` the actions frame must carry ``__ts`` (from
    ``merge_ops_microbatch(emit_seq=True)``) and the sink table a matching
    sequence column: every write is then guarded by the per-key high-water
    mark, making stale UPDATES/UPSERTS no-ops under OUT-OF-ORDER cross-batch
    delivery (reordered Kafka partitions, replayed ranges) — a failure mode
    the reference's totally-ordered oplog could never produce.

    RESURRECTION WINDOW and ``tombstone_col``: a guarded DELETE physically
    removes the row *and therefore its high-water mark*; a stale upsert
    arriving after that delete finds no row to compare against and
    re-inserts it. Passing ``tombstone_col`` (requires ``ts_guard_col``)
    closes the window: deletes become guarded soft-delete upserts that keep
    the key + high-water mark with ``tombstone_col = 1``, upserts write
    ``tombstone_col = 0``, and a stale upsert after a newer delete is
    correctly rejected by the guard. Readers must filter
    ``tombstone_col = 0``; compact flagged rows later with
    ``sinks.jdbc_upsert.purge_tombstones``. Without ``tombstone_col``,
    deployments whose transport can reorder a delete before an older upsert
    should keep per-key ordering in the transport (Kafka key-partitioning
    does)."""
    if tombstone_col is not None and ts_guard_col is None:
        raise ValueError("tombstone_col requires ts_guard_col")
    dialect = DIALECTS[dialect_name]
    name, key = table.name, "_id"
    fields = [c for c in table.sql_columns if c != key]
    if ts_guard_col is None:
        upsert_sql = dialect.upsert_sql(name, [key, *fields], key)
        delete_sql = dialect.delete_sql(name, key)
    elif tombstone_col is None:
        upsert_sql = dialect.guarded_upsert_sql(
            name, [key, *fields, ts_guard_col], key, ts_guard_col
        )
        delete_sql = dialect.guarded_delete_sql(name, key, ts_guard_col)
    else:
        # soft delete: a guarded upsert that keeps the key + high-water mark
        # with the tombstone flag set — closes the resurrection window
        upsert_sql = dialect.guarded_upsert_sql(
            name, [key, *fields, ts_guard_col, tombstone_col], key, ts_guard_col
        )
        delete_sql = dialect.guarded_upsert_sql(
            name, [key, ts_guard_col, tombstone_col], key, ts_guard_col
        )
    # tombstone flag written by upserts (live) and soft deletes (dead)
    live, dead = ((0,), (1,)) if tombstone_col else ((), ())
    patch_sql: dict[tuple[str, ...], str] = {}  # field set -> UPDATE, per task
    n = len(fields)

    def statement(row):
        # row = (__action, __present, key, *fields[, __ts])
        action, k, vals, ts = row[0], row[2], row[3 : 3 + n], row[3 + n :]
        if action == "upsert":
            return upsert_sql, (k, *vals, *ts, *live)
        if action == "delete":
            return delete_sql, (k, *ts, *dead)
        present = set(row[1])
        cols = tuple(f for f in fields if f in present)
        if not cols:
            return None  # no-op patch (mysql.go:478-480: empty SET skipped)
        sql = patch_sql.get(cols)
        if sql is None:
            sql = patch_sql[cols] = dialect.update_sql(name, cols, key, ts_guard_col)
        return sql, (*(v for f, v in zip(fields, vals) if f in present), *ts, k, *ts)

    write_dataframe(
        actions.select("__action", "__present", key, *fields,
                       *(["__ts"] if ts_guard_col else [])),
        statement,
        connection_factory=connection_factory,
        dialect_name=dialect_name,
        batch_id=batch_id,
        # a label of its own: a `{table}` marker left by upsert_dataframe
        # must not make this pass skip a batch's patches and deletes
        label=f"{name}#actions",
        num_partitions=num_partitions,
    )


def _per_table(
    batch_df: DataFrame,
    spec: Spec,
    order: Sequence[str] | None,
    apply: Callable[[TableSpec, dict[str, str], DataFrame], None],
    emit_seq: bool = False,
) -> None:
    """Route a microbatch's ops by namespace, reduce each table's ops to one
    action per key (merge_ops_microbatch) and hand the action frame to
    ``apply(table_spec, fields, actions)``.

    The batch is persisted for the duration of the apply: each table's
    branch filters the same frame, and without the persist a 10-table spec
    would re-read/re-decode the micro-batch 10 times.

    ``order=None`` auto-selects the tie-breakers the IR carries:
    ``seq`` (txn-unwrap array position, sources/opslog.py C8 — inner
    applyOps ops share the outer ts) and ``tok`` (connector resume token,
    sources/mongo.py — txn events share one clusterTime), giving
    ``("ts", "seq", "tok")`` / ``("ts", "seq")`` / ``("ts",)``."""
    if order is None:
        order = tuple(
            c for c in ("ts", "seq", "tok") if c in batch_df.columns
        )
    multi_table = len(spec.tables) > 1
    if multi_table:
        batch_df = batch_df.persist()
    try:
        for tname, tspec in spec.tables.items():
            ops = batch_df.filter(F.col("ns") == tname)
            fields = {c: t for c, t in tspec.sql_columns.items() if c != "_id"}
            actions = merge_ops_microbatch(
                ops, fields, key="_id", order=order, emit_seq=emit_seq
            )
            apply(tspec, fields, actions)
    finally:
        if multi_table:
            batch_df.unpersist()


def apply_ops_microbatch(
    batch_df: DataFrame,
    batch_id: int,
    spec: Spec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    order: Sequence[str] | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
) -> None:
    """foreachBatch body: route ops by namespace, merge, apply per table
    (see _per_table for the routing and apply_actions for the sink pass)."""
    _per_table(
        batch_df,
        spec,
        order,
        lambda tspec, fields, actions: apply_actions(
            actions,
            tspec,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            batch_id=batch_id,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
            tombstone_col=tombstone_col,
        ),
        emit_seq=ts_guard_col is not None,
    )


def start_cdc_stream(
    ops_stream: DataFrame,
    spec: Spec,
    *,
    connection_factory: ConnFactory,
    dialect_name: str,
    checkpoint_dir: str,
    order: Sequence[str] | None = None,
    trigger: dict[str, Any] | None = None,
    num_partitions: int | None = None,
    ts_guard_col: str | None = None,
    tombstone_col: str | None = None,
):
    """Wire the streaming query (reference O5 consume loop, run.go:297-335).

    The Structured Streaming checkpoint dir replaces the reference's
    ``momyre.timestamp`` resume token (S4/K6) for source offsets; the
    per-batch progress markers in the sink give exactly-once apply.
    ``ts_guard_col``/``tombstone_col``: see apply_actions — sequence-guarded
    writes and soft deletes for out-of-order transports. Bad options raise
    ``ValueError`` here, before the query starts."""
    if tombstone_col is not None and ts_guard_col is None:
        raise ValueError("tombstone_col requires ts_guard_col")
    for ident in (*spec.tables, ts_guard_col, tombstone_col):
        if ident is not None:
            check_ident(ident)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_ops_microbatch(
            batch_df,
            batch_id,
            spec,
            connection_factory=connection_factory,
            dialect_name=dialect_name,
            order=order,
            num_partitions=num_partitions,
            ts_guard_col=ts_guard_col,
            tombstone_col=tombstone_col,
        )

    writer = (
        ops_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def supervise(
    start_query,
    max_restarts: int = -1,
    backoff_seconds: float = 5.0,
    on_failure=None,
):
    """Restart-forever supervision (reference O5: the endless tailing-cursor
    restart loop, run.go:330-335).

    ``start_query``: zero-arg callable returning a StreamingQuery (it must
    reuse the same checkpoint dir, so each restart resumes from the last
    committed offsets and the sink's batch-progress markers absorb any
    replayed batch). ``max_restarts < 0`` = forever. Returns the number of
    restarts performed once the query ends cleanly or the budget is spent.
    """
    import time as _time

    restarts = 0
    while True:
        query = start_query()
        try:
            query.awaitTermination()
            return restarts  # clean stop
        except Exception as exc:  # failed batch / source error
            if on_failure is not None:
                on_failure(exc)
            if max_restarts >= 0 and restarts >= max_restarts:
                raise
            restarts += 1
            _time.sleep(backoff_seconds)


def start_cdc_lake_stream(
    ops_stream: DataFrame,
    spec: Spec,
    *,
    lake_root: str,
    checkpoint_dir: str,
    order: Sequence[str] | None = None,
    partition_by: dict[str, list[str]] | None = None,
    trigger: dict[str, Any] | None = None,
    versioned: bool = False,
):
    """CDC stream into the LAKE: each micro-batch merges per-table actions
    into ``{lake_root}/{table}`` via the copy-on-write parquet MERGE
    (sinks/lake.merge_cdc_actions) — the path that makes replicated tables
    directly scannable at 100 TB without an RDBMS in the loop.

    Exactly-once story: Structured Streaming serializes batches and
    checkpoints offsets; the merge itself is idempotent (re-merging a
    replayed batch reproduces the same table), so at-least-once foreachBatch
    delivery converges. ``partition_by`` optionally maps table -> partition
    columns for affected-partition-only rewrites.

    ``versioned=True`` routes merges through the snapshot store
    (sinks/snapshots.snapshot_merge_cdc): every micro-batch commits a new
    manifest version, so the table is time-travelable batch-by-batch and
    readers are isolated from in-flight merges; pair with a periodic
    ``snapshot_vacuum`` for retention.
    """
    from momyre_spark.sinks.lake import merge_cdc_actions
    from momyre_spark.sinks.snapshots import snapshot_merge_cdc

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        def merge(tspec: TableSpec, fields: dict[str, str], actions: DataFrame) -> None:
            kwargs = {
                "key": "_id",
                "partition_by": (partition_by or {}).get(tspec.name),
            }
            if versioned:
                # the epoch id makes replayed batches skip instead of
                # re-committing an identical version
                kwargs["batch_id"] = batch_id
            (snapshot_merge_cdc if versioned else merge_cdc_actions)(
                batch_df.sparkSession,
                f"{lake_root}/{tspec.name}",
                actions,
                fields,
                **kwargs,
            )

        _per_table(batch_df, spec, order, merge)

    writer = (
        ops_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
