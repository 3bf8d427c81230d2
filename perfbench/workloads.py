"""The benchmark workloads. Each takes a :class:`Ctx` and returns a
:class:`Result`; inputs are generated from ``ctx.seed`` before any timing
starts, and every output is checked outside the timed region.

Per-layer numbers are reported per unit of work (one replication cycle,
one query pass), so they do not depend on how many units fit in a run.
"""

from __future__ import annotations

import copy
import functools
import hashlib
import math
import os
import shutil
import sqlite3
import statistics
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen, lag, reference
from perfbench.proc import jit_cpu_s, tree_cpu_s
from perfbench.trace import quantile

# sizes, tuned so one unit of work takes a few seconds on a 4-core host,
# and the length of a warm unit there: a run makes seconds / UNIT_S warm
# units, so every run of one length does the same work (and the JVM's JIT
# the same warm-up) whatever the host's speed at the time
SNAPSHOT_ROWS = 10_000
BACKLOG_ENTRIES = 3_000
BACKLOG_KEYS = 1_000
BACKLOG_FILES = 1
BACKLOG_FILES_PER_TRIGGER = 1
REPLICATE_UNIT_S = 10.5
ANALYTICS_SCALE = 0.25
ANALYTICS_UNIT_S = 6.5
ANALYTICS_QUERIES = (
    "q11_tpch_q1_agg", "q33_tpch_q5_shape", "q73_tpch_q21_shape",
    "q16_window_running_sum", "q07_latest_wins_merge", "cdc_scd2_history",
    "dedup_minhash_lsh", "text_bm25_topk",
)
ANALYTICS_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
                    "events", "documents")


@dataclass
class Ctx:
    spark: object
    spec: object
    work: str
    seed: int
    seconds: float
    jvm_pid: int = 0  # the driver JVM
    tracer: object = None  # perfbench.trace.Tracer in the traced run
    sink_acc: object = None  # accumulator behind trace.CountingFactory

    def cpu(self) -> tuple[float, float]:
        """CPU seconds used so far by the process tree, and by the driver
        JVM's JIT compiler threads among them."""
        return tree_cpu_s(), jit_cpu_s(self.jvm_pid)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def factory(self, db: str):
        if self.sink_acc is not None:
            from perfbench.trace import CountingFactory

            return CountingFactory(db, self.sink_acc)
        return functools.partial(sqlite3.connect, db, timeout=60)

    def span(self, layer: str, call: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(layer, call, fn, *args, **kwargs)


@dataclass
class Result:
    metrics: dict  # end-to-end metric -> value
    attempted: int = 0
    failed: int = 0
    units: int = 1  # units of work the per-layer numbers are divided by
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # per-layer values measured here
    details: dict = field(default_factory=dict)  # workload-specific names for the report


def make_sink(path: str, spec, rows: dict | None = None) -> None:
    """A sink with the spec's tables (and ``rows`` per table) already in it."""
    from momyre_spark.sinks.ddl import create_table_sql
    from momyre_spark.sinks.dialects import DIALECTS

    conn = sqlite3.connect(path)
    try:
        for tspec in spec.tables.values():
            conn.execute(create_table_sql(tspec, DIALECTS["sqlite"]))
        for t, docs in (rows or {}).items():
            cols = list(reference.COLUMNS[t])
            names = ", ".join(f'"{c}"' for c in ["_id", *cols])
            marks = ", ".join("?" for _ in range(len(cols) + 1))
            conn.executemany(
                f'INSERT INTO "{t}" ({names}) VALUES ({marks})',
                [[d["_id"], *reference.row(t, d).values()] for d in docs])
        conn.commit()
    finally:
        conn.close()


def _spent(before: tuple, after: tuple) -> tuple:
    return tuple(b - a for a, b in zip(before, after))


def _add(x: tuple, y: tuple) -> tuple:
    return tuple(a + b for a, b in zip(x, y))


def _percentiles(samples: list[float]) -> tuple[float, float]:
    return statistics.median(samples), quantile(samples, 0.9)


def cold_then_warm(ctx: Ctx, unit, unit_s: float) -> list:
    """Run ``unit(k)`` once cold (right after set-up), then as many warm
    times as units of ``unit_s`` fit in ``ctx.seconds`` (at least once).
    Returns the results of the units that completed; a unit returns None to
    stop the loop."""
    out = []
    for k in range(1 + max(1, int(ctx.seconds // unit_s))):
        r = unit(k)
        if r is None:
            break
        out.append(r)
    return out


# --------------------------------------------------------------------------
# replicate
# --------------------------------------------------------------------------
def replicate(ctx: Ctx) -> Result:
    """The replicator's cold start, one cycle per unit of work, each into a
    fresh sink (orphan rows preloaded) and checkpoint:

    1. snapshot sync with ``zerop=True`` in ``ReplicationEngine.run_batch_sync``
       order: reconcile DDL, then per table snapshot, sink key scan and
       orphan delete;
    2. catch-up of the oplog backlog that accrued meanwhile: readStream.json
       -> decode_oplog -> start_cdc_stream(availableNow), closed loop.

    A record's latency is the time from the start of the cycle until it is
    visible in the sink: a snapshot row when its table is synced, an oplog
    entry when the batch that read it commits. The sink is checked after
    each phase; checks are not timed."""
    from momyre_spark.engine import ReplicationEngine
    from momyre_spark.sources.opslog import decode_oplog
    from momyre_spark.streaming import pipeline

    source, orphans = gen.snapshot_source(ctx.seed, SNAPSHOT_ROWS)
    paths = gen.write_snapshot_source(source, ctx.path("source"))
    entries = gen.backlog_entries(ctx.seed, BACKLOG_ENTRIES, BACKLOG_KEYS,
                                  existing={t: [d["_id"] for d in docs]
                                            for t, docs in source.items()})
    src = ctx.path("oplog")
    per_file = {}
    for f in gen.write_backlog(entries, src, BACKLOG_FILES):
        with open(f) as fh:
            per_file[os.path.basename(f)] = sum(1 for _ in fh)
    want_sync = reference.snapshot_expected(source)
    want = reference.sequential_apply(entries, state=copy.deepcopy(want_sync))
    template = ctx.path("sink-template.db")
    make_sink(template, ctx.spec, orphans)
    n_rows = sum(len(v) for v in source.values())
    n_batches = math.ceil(BACKLOG_FILES / BACKLOG_FILES_PER_TRIGGER)
    spark = ctx.spark
    res = Result(metrics={})

    def fail(n: int) -> None:
        res.failed += n
        res.problems.append(traceback.format_exc(limit=3))

    def cycle(k: int):
        db, ckpt = ctx.path(f"sink-{k}.db"), ctx.path(f"checkpoint-{k}")
        shutil.copyfile(template, db)
        factory = ctx.factory(db)
        engine = ReplicationEngine(spark, ctx.spec, lambda t: spark.read.parquet(paths[t]),
                                   factory, dialect_name="sqlite", zerop=True)
        res.attempted += len(ctx.spec.tables) + n_batches
        lat = []
        try:
            c0 = ctx.cpu()
            t0 = time.perf_counter()
            engine.reconcile_ddl()
            for t in ctx.spec.tables:
                engine.snapshot_table(t)
                engine.delete_orphans(t, engine.sink_ids(t))
                lat += [time.perf_counter() - t0] * len(source[t])
            sync_s = time.perf_counter() - t0
            cpu = _spent(c0, ctx.cpu())
        except Exception:
            fail(len(ctx.spec.tables) + n_batches)
            return None
        bad = reference.diff_states(want_sync, reference.read_sink(db))
        res.failed += len(bad)
        res.problems += bad

        raw = (spark.readStream.schema("entry string")
               .option("maxFilesPerTrigger", BACKLOG_FILES_PER_TRIGGER).json(src))
        ops = ctx.span("sources.opslog", "decode_oplog", decode_oplog, raw,
                       tables=list(ctx.spec.tables))
        c1 = ctx.cpu()
        t1 = time.time()
        try:
            q = pipeline.start_cdc_stream(
                ops, ctx.spec, connection_factory=factory, dialect_name="sqlite",
                checkpoint_dir=ckpt, trigger={"availableNow": True})
            q.awaitTermination()
            drain_s = time.time() - t1
            cpu = _add(cpu, _spent(c1, ctx.cpu()))
        except Exception:
            fail(n_batches)
            return None
        cdc_lat, missing = lag.entry_latencies(ckpt, per_file, {f: t1 for f in per_file})
        lat += [sync_s + x for x in cdc_lat]
        bad = reference.diff_states(want, reference.read_sink(db))
        if bad or missing:
            # the sink state is cumulative: a wrong end state fails every batch
            res.failed += n_batches
            res.problems += bad + ([f"{missing} entries never committed"] if missing else [])
        shutil.rmtree(ckpt)
        os.remove(db)
        return sync_s, drain_s, cpu, lat

    cycles = cold_then_warm(ctx, cycle, REPLICATE_UNIT_S)
    warm = cycles[1:] or cycles
    p50, p90 = _percentiles([x for *_, lat in warm for x in lat] or [0.0])
    med = statistics.median
    n_items = n_rows + len(entries)
    res.metrics = {
        "throughput_per_s": n_items / med(a + b for a, b, _, _ in warm) if warm else 0.0,
        "latency_p50_s": p50,
        "cpu_ms_per_item": 1000 * med(c - j for _, _, (c, j), _ in warm) / n_items
        if warm else 0.0,
        "latency_p90_s": p90,
        "cold_s": sum(cycles[0][:2]) if cycles else 0.0,
    }
    res.units = max(1, len(cycles))
    res.layers["spark.jit_cpu_s"] = med(j for _, _, (_, j), _ in warm) if warm else 0.0
    res.details = {
        "source_rows": n_rows, "orphan_rows": sum(len(v) for v in orphans.values()),
        "raw_entries": len(entries), "batches_per_drain": n_batches, "cycles": len(cycles),
        "rows_per_s": n_rows / med(a for a, *_ in warm) if warm else 0.0,
        "ops_per_s": len(entries) / med(b for _, b, *_ in warm) if warm else 0.0,
        "sync_s": [a for a, *_ in cycles], "drain_s": [b for _, b, *_ in cycles],
        "cpu_s": [c for _, _, (c, _), _ in cycles], "jit_s": [j for _, _, (_, j), _ in cycles]}
    return res


# --------------------------------------------------------------------------
# analytics_mix
# --------------------------------------------------------------------------
def _canon(v) -> str:
    from decimal import Decimal

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    return str(v)


def frame_digest(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive hash of every cell)."""
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_canon(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    return len(pdf), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()


def analytics_mix(ctx: Ctx) -> Result:
    """Registered queries over seed-generated tables: one cold pass after
    ``clearCache()``, then warm passes. Every execution collects its result
    (Arrow ``toPandas``), which is checked against the query's DuckDB oracle
    outside the timed region."""
    import duckdb

    import momyre_spark.plans as plans
    from momyre_spark.session import apply_runtime_confs

    sf = ctx.path("tables")
    gen.write_tables(gen.analytics_tables(ctx.seed, ANALYTICS_SCALE), sf)
    con = duckdb.connect()
    for t in ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    plans.load_all()
    want = {q: frame_digest(con.execute(plans.ORACLES[q]).df()) for q in ANALYTICS_QUERIES}
    con.close()
    spark = apply_runtime_confs(ctx.spark)
    res = Result(metrics={})

    def run(q: str):
        return plans.QUERIES[q](spark, sf).toPandas()

    def one_pass(k: int):
        took, cpu = {}, (0.0, 0.0)
        for q in ANALYTICS_QUERIES:
            res.attempted += 1
            c0 = ctx.cpu()
            t0 = time.perf_counter()
            try:
                pdf = ctx.span("plans", q, run, q)
            except Exception:
                res.failed += 1
                res.problems.append(f"{q}: " + traceback.format_exc(limit=3))
                continue
            took[q] = time.perf_counter() - t0
            cpu = _add(cpu, _spent(c0, ctx.cpu()))
            got = frame_digest(pdf)
            if got != want[q]:
                res.failed += 1
                res.problems.append(f"{q}: (rows, columns) {got[:2]} != oracle {want[q][:2]}"
                                    " or values differ")
        return took, cpu

    spark.catalog.clearCache()
    runs = cold_then_warm(ctx, one_pass, ANALYTICS_UNIT_S)
    passes = [took for took, _ in runs]
    cold = passes[0] if passes else {}
    warm = {q: statistics.median(p[q] for p in passes[1:] if q in p)
            for q in ANALYTICS_QUERIES if any(q in p for p in passes[1:])}
    warm_total = sum(warm.values())
    p50, p90 = _percentiles(list(warm.values()) or [0.0])
    warm_cpu = [(c - j) / len(took) for took, (c, j) in runs[1:] if took]
    res.metrics = {
        "throughput_per_s": len(warm) / warm_total if warm_total else 0.0,
        "latency_p50_s": p50,
        "cpu_ms_per_item": 1000 * statistics.median(warm_cpu) if warm_cpu else 0.0,
        "latency_p90_s": p90,
        "cold_s": sum(cold.values()),
    }
    res.units = max(1, len(passes))
    res.layers["spark.jit_cpu_s"] = statistics.median(j for _, (_, j) in runs[1:]) \
        if runs[1:] else 0.0
    for q in ANALYTICS_QUERIES:
        res.layers[f"plans.{q}.cold_s"] = cold.get(q, 0.0)
        res.layers[f"plans.{q}.warm_s"] = warm.get(q, 0.0)
    res.details = {"cold_total_s": sum(cold.values()), "warm_total_s": warm_total,
                   "passes": len(passes), "queries": len(ANALYTICS_QUERIES),
                   "query_s": passes, "cpu_s": [c for _, (c, _) in runs],
                   "jit_s": [j for _, (_, j) in runs]}
    return res


WORKLOADS = {"replicate": replicate, "analytics_mix": analytics_mix}
