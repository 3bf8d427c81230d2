"""Structured Streaming CDC pipeline end-to-end on sqlite.

Ops arrive as parquet files in a stream-watched directory (the test stand-in
for a change-stream source); the foreachBatch apply must converge the sink
to the sequential reference state, across multiple microbatches, with
exactly-once apply under batch replay.
"""

from __future__ import annotations

import functools
import sqlite3
import time

import pytest

from momyre_spark.operators.cdc import merge_ops_microbatch
from momyre_spark.spec import parse_spec
from momyre_spark.streaming.pipeline import apply_ops_microbatch, start_cdc_stream
from tests.cdc_fixture import FIELDS, OPS_SCHEMA, make_ops, ops_as_rows, sequential_apply

SPEC_YAML = """
tables:
  users:
    type: varchar(100)
    email: varchar(100)
    pubkey: varchar(100)
"""


def _mk_sink(tmp_path):
    path = str(tmp_path / "stream_sink.db")
    factory = functools.partial(sqlite3.connect, path, timeout=60)
    conn = factory()
    conn.execute(
        'CREATE TABLE "users" ("_id" varchar(24) PRIMARY KEY, '
        '"type" varchar(100), "email" varchar(100), "pubkey" varchar(100))'
    )
    conn.commit()
    conn.close()
    return factory


def _sink_state(factory):
    conn = factory()
    try:
        cur = conn.execute('SELECT "_id","type","email","pubkey" FROM "users"')
        return {r[0]: dict(zip(FIELDS, r[1:])) for r in cur.fetchall()}
    finally:
        conn.close()


def test_foreachbatch_apply_converges(spark, tmp_path):
    factory = _mk_sink(tmp_path)
    spec = parse_spec(SPEC_YAML)
    ops = sorted(make_ops(n_keys=90), key=lambda o: o["ts"])
    size = len(ops) // 4 + 1
    for bid, i in enumerate(range(0, len(ops), size)):
        batch = spark.createDataFrame(ops_as_rows(ops[i : i + size]), OPS_SCHEMA)
        apply_ops_microbatch(
            batch, bid, spec, connection_factory=factory,
            dialect_name="sqlite", num_partitions=1,
        )
    assert _sink_state(factory) == sequential_apply(ops)


def _opening_inserts_then_rest(ops):
    """Split a log into two batches: every key's opening insert, then the
    rest. Each key's ops keep their order, so applying the two batches in
    turn must reach ``sequential_apply``; the second batch reduces to
    upserts, patches and deletes."""
    first = {}
    for o in ops:
        first.setdefault(o["_id"], o)
    return list(first.values()), [o for o in ops if first[o["_id"]] is not o]


@pytest.mark.parametrize(
    "num_partitions", [1, 2, None], ids=["layout-1", "layout-2", "layout-default"]
)
def test_foreachbatch_replay_is_noop(spark, tmp_path, num_partitions):
    """Re-delivering a batch (crash-replay) is a no-op under the same
    partition layout and an idempotent reapply under a different one, for
    every action kind."""
    factory = _mk_sink(tmp_path)
    spec = parse_spec(SPEC_YAML)
    ops = sorted(make_ops(n_keys=30), key=lambda o: o["ts"])
    b0, b1 = (
        spark.createDataFrame(ops_as_rows(part), OPS_SCHEMA)
        for part in _opening_inserts_then_rest(ops)
    )
    kinds = {
        r["__action"]
        for r in merge_ops_microbatch(b1, {f: "string" for f in FIELDS})
        .select("__action").collect()
    }
    assert kinds == {"upsert", "patch", "delete"}

    def deliver(batch, bid, parts):
        apply_ops_microbatch(
            batch, bid, spec, connection_factory=factory,
            dialect_name="sqlite", num_partitions=parts,
        )

    deliver(b0, 0, num_partitions)
    deliver(b1, 1, num_partitions)
    for parts in (2, 1, 1):  # replay batch 1, changing then keeping the layout
        deliver(b1, 1, parts)
    assert _sink_state(factory) == sequential_apply(ops)


def test_replay_marker_of_split_apply_is_not_reused(spark, tmp_path):
    """A marker written by an upsert-only pass (``batch:users:...``) must
    not make the single action pass skip a batch's patches and deletes."""
    factory = _mk_sink(tmp_path)
    spec = parse_spec(SPEC_YAML)
    conn = factory()
    conn.executemany(
        'INSERT INTO "users" VALUES (?, ?, ?, ?)',
        [("a", "t", "a@x", "pa"), ("b", "t", "b@x", "pb")],
    )
    conn.execute(
        'CREATE TABLE "momyre_progress" ("name" VARCHAR(128) PRIMARY KEY, '
        '"value" VARCHAR(64))'
    )
    conn.execute(
        'INSERT INTO "momyre_progress" VALUES (?, ?)', ("batch:users:p0of1", "1")
    )
    conn.commit()
    conn.close()
    import json as _json

    batch = spark.createDataFrame(
        [(10, "users", "update", "a", _json.dumps({"email": "a2@x"})),
         (11, "users", "delete", "b", "{}")],
        OPS_SCHEMA,
    )
    apply_ops_microbatch(
        batch, 1, spec, connection_factory=factory,
        dialect_name="sqlite", num_partitions=1,
    )
    assert _sink_state(factory) == {
        "a": {"type": "t", "email": "a2@x", "pubkey": "pa"}
    }


def _write_ops_in_order(spark, ops_chunk, src_dir, n_files, mtime_base):
    """Land ``ops_chunk`` as ``n_files`` sequential single-file parquet
    writes with STRICTLY INCREASING mtimes matching ts order.

    The CDC contract models an in-order transport (the reference tails the
    oplog sequentially); this parquet-dir stand-in must deliver the same
    order. One bulk 32-partition write does NOT guarantee that:
    FileStreamSource orders new files by modification time, all parts of
    one write commit share an mtime, and the tie falls back to the
    filesystem's listing order — which ext4 returns hash-ordered, so an
    ``update``/``delete`` can land a batch BEFORE its key's ``insert``
    (observed on this host; path-sorted listings on earlier hosts hid it).
    Explicit per-file mtimes make the arrival order deterministic on any
    filesystem."""
    import glob
    import math
    import os

    chunk = math.ceil(len(ops_chunk) / n_files) or 1
    for i in range(0, len(ops_chunk), chunk):
        seen = set(glob.glob(f"{src_dir}/part-*.parquet"))
        spark.createDataFrame(
            ops_as_rows(ops_chunk[i : i + chunk]), OPS_SCHEMA
        ).repartition(1).write.parquet(src_dir, mode="append")
        mtime_base += 2
        for f in set(glob.glob(f"{src_dir}/part-*.parquet")) - seen:
            os.utime(f, (mtime_base, mtime_base))
    return mtime_base


def test_streaming_query_end_to_end(spark, tmp_path):
    factory = _mk_sink(tmp_path)
    spec = parse_spec(SPEC_YAML)
    ops = sorted(make_ops(n_keys=60), key=lambda o: o["ts"])

    src_dir = str(tmp_path / "ops_in")
    ckpt_dir = str(tmp_path / "ckpt")
    half = len(ops) // 2
    # mtimes start a minute in the past so every file is inside the
    # source's maxFileAge window yet strictly ordered
    mtime = _write_ops_in_order(
        spark, ops[:half], src_dir, n_files=8, mtime_base=time.time() - 60
    )

    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(src_dir)
    )
    q = start_cdc_stream(
        stream, spec, connection_factory=factory, dialect_name="sqlite",
        checkpoint_dir=ckpt_dir, num_partitions=1,
        trigger={"processingTime": "1 second"},
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and _sink_state(factory) != sequential_apply(ops[:half]):
            time.sleep(1)
        assert _sink_state(factory) == sequential_apply(ops[:half])

        # late arrivals: the rest of the log lands as new ordered files
        _write_ops_in_order(
            spark, ops[half:], src_dir, n_files=8, mtime_base=mtime
        )
        expected = sequential_apply(ops)
        deadline = time.time() + 60  # phase-2 budget, not shared with phase 1
        while time.time() < deadline and _sink_state(factory) != expected:
            time.sleep(1)
        assert _sink_state(factory) == expected
    finally:
        q.stop()


def test_multi_table_routing(spark, tmp_path):
    """Ops for two tables in one stream route to their own sinks."""
    path = str(tmp_path / "multi.db")
    factory = functools.partial(sqlite3.connect, path, timeout=60)
    conn = factory()
    for t in ("users", "regs"):
        conn.execute(
            f'CREATE TABLE "{t}" ("_id" varchar(24) PRIMARY KEY, '
            '"type" varchar(100), "email" varchar(100), "pubkey" varchar(100))'
        )
    conn.commit(); conn.close()

    spec = parse_spec(
        "tables:\n"
        "  users: {type: varchar(100), email: varchar(100), pubkey: varchar(100)}\n"
        "  regs: {type: varchar(100), email: varchar(100), pubkey: varchar(100)}\n"
    )
    import json as _json

    rows = [
        (1, "users", "insert", "u1", _json.dumps({"type": "a"})),
        (2, "regs", "insert", "r1", _json.dumps({"type": "b"})),
        (3, "users", "update", "u1", _json.dumps({"email": "u@x"})),
        (4, "regs", "delete", "r1", "{}"),
        (5, "regs", "insert", "r2", _json.dumps({"type": "c"})),
    ]
    batch = spark.createDataFrame(rows, OPS_SCHEMA)
    sc = spark.sparkContext
    group = "test_multi_table_routing"
    sc.setJobGroup(group, "apply one two-table microbatch")
    try:
        apply_ops_microbatch(
            batch, 0, spec, connection_factory=factory,
            dialect_name="sqlite", num_partitions=1,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # one pass per table: the merge aggregate's shuffle and the sink write
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2 * len(spec.tables) + 1, jobs
    conn = factory()
    users = conn.execute('SELECT "_id","type","email" FROM "users"').fetchall()
    regs = conn.execute('SELECT "_id","type" FROM "regs"').fetchall()
    conn.close()
    assert users == [("u1", "a", "u@x")]
    assert regs == [("r2", "c")]


@pytest.mark.parametrize(
    "spec_yaml, options",
    [
        (SPEC_YAML, {"tombstone_col": "_deleted"}),
        (SPEC_YAML, {"ts_guard_col": "seq; DROP TABLE users"}),
        (SPEC_YAML, {"ts_guard_col": "_seq", "tombstone_col": "dead flag"}),
        ("tables:\n  bad-name: {type: varchar(10)}\n", {}),
    ],
    ids=["tombstone-without-guard", "bad-guard-col", "bad-tombstone-col",
         "bad-table-name"],
)
def test_start_cdc_stream_rejects_bad_options(spark, tmp_path, spec_yaml, options):
    """Bad options fail on the driver before any streaming query starts."""
    src_dir = tmp_path / "ops_in"
    src_dir.mkdir()
    stream = spark.readStream.schema(OPS_SCHEMA).parquet(str(src_dir))
    with pytest.raises(ValueError):
        start_cdc_stream(
            stream, parse_spec(spec_yaml), connection_factory=_mk_sink(tmp_path),
            dialect_name="sqlite", checkpoint_dir=str(tmp_path / "ckpt"),
            **options,
        )
    assert spark.streams.active == []
