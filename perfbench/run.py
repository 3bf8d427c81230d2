"""Benchmark of the momyre_spark replication and analytics paths.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``replicate``: the replicator's cold start into a fresh sqlite sink: a
  snapshot sync of seed-generated source tables through
  ``ReplicationEngine`` (engine + bulk upsert), then the catch-up drain of
  a raw-oplog backlog through ``decode_oplog`` and ``start_cdc_stream``
  (decode, per-key merge, transactional apply);
- ``analytics_mix``: registered queries over seed-generated tables, cold
  then warm.

A run builds the session (launching the JVM), generates the inputs, runs
one cold unit of work and then ``--seconds`` worth of warm units (a fixed
number per run length, see ``workloads.cold_then_warm``), and builds the
session ``SETUP_REPEATS`` more times on the warm JVM. End-to-end metrics:

- ``setup_s``: median CPU time of those set-ups, each ``get_spark``
  (including ``ship_package``) plus a first trivial job, in the process tree
  and without the JVM's JIT compiler threads (their wall-clock time is the
  per-layer ``session.setup_wall_s``);
- ``cpu_ms_per_item``: CPU time of the process tree (driver JVM, Python
  driver, Python workers) per record replicated or query answered, median
  over the warm units, without the JVM's JIT compiler threads (their time
  is the per-layer ``spark.jit_cpu_s``);

CPU time rather than wall-clock time because this host is a shared 4-vCPU
guest: time the hypervisor gives to other guests, which is not in a
process's CPU time, moves wall-clock figures by a quarter to a half between
runs of the same code.
- ``peak_rss_mb``: peak resident memory of the process tree, each page
  counted once (the sum of proportional set sizes: the forked Python
  workers share most of theirs). The JVM heap is fixed at ``DRIVER_MEM`` and
  resident from the start, so the metric moves with the JVM's other memory
  and the Python processes; heap pressure shows in ``spark.gc_s``.

Throughput, latency p50/p90 and the cold unit's time are printed too, and
reported with the per-layer metrics, but not bounded (see ``WALL_CLOCK``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans, the Spark event log and a counting sink proxy, and
prints the per-layer metrics. Both write a JSON artifact with all numbers,
the problems found by the correctness checks and (traced) the spans to
``.perfbench_out/``; a traced run whose untraced twin (same workload and
seed) is already there also records the tracing overhead. The last line of
stdout is the result object.

The run pins its environment (``pin_env``) and keeps every file it
writes inside the checkout: inputs, sinks, checkpoints, Spark local dirs and
temp files live under ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.proc import tree_pss_kb  # noqa: E402

# Run environment. local[N] with N half the CPUs the process may use: the
# driver JVM's JIT and GC threads and one Python worker per running task
# come on top of the N task threads, and a run that asks for every core
# times the scheduler whenever anything else on the host is busy. The heap
# fits a 15 GiB host (the session default of 48g does not); the Spark local
# and temp dirs point into the run's work directory.
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
DRIVER_MEM = "2g"
SETUP_REPEATS = 5  # set-ups after the workload; setup_s is their median

END_TO_END = {"setup_s": "s", "cpu_ms_per_item": "ms", "peak_rss_mb": "MB"}
# Wall-clock figures of every workload. On a shared 4-vCPU guest they move
# by a quarter to a half between runs of the same code (time the hypervisor
# gives to other guests, and the JIT compiler threads competing with the
# work while they still compile), so they are printed and kept in every
# run's artifact and reported with the per-layer metrics, but not bounded.
# cold_s is one sample per run and latency_p90_s has no ten samples beyond it.
WALL_CLOCK = {"throughput_per_s": "1/s", "latency_p50_s": "s", "latency_p90_s": "s",
              "cold_s": "s"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric of the traced run -> unit. A workload reports 0
    for a layer it does not run."""
    from perfbench.trace import SINK_KEYS
    from perfbench.workloads import ANALYTICS_QUERIES

    names = {
        **WALL_CLOCK,
        "session.get_spark_s": "s", "session.cold_setup_s": "s", "session.setup_wall_s": "s",
        "opslog.entries_in": "count", "opslog.ops_out": "count",
        "opslog.python_s": "s", "opslog.task_s": "s",
        "cdc.ops_in": "count", "cdc.keys_out": "count", "cdc.reduction": "ratio",
        "cdc.agg_runs_per_table_batch": "count", "cdc.shuffle_bytes": "B", "cdc.task_s": "s",
        "stream.batches": "count", "stream.entries_per_batch_p50": "count",
        "stream.batch_s_p50": "s", "stream.batch_s_p90": "s",
        "stream.jobs_per_batch": "count", "stream.stages_per_batch": "count",
        "stream.addbatch_s": "s", "stream.overhead_s": "s", "stream.driver_s": "s",
    }
    names.update({f"sink.{k}": "s" if k.endswith("_s") else "count" for k in SINK_KEYS})
    names.update({"engine.reconcile_ddl_s": "s", "engine.snapshot_table_s": "s",
                  "engine.sink_ids_s": "s", "engine.delete_orphans_s": "s",
                  "engine.orphans_deleted": "count"})
    for q in ANALYTICS_QUERIES:
        names.update({f"plans.{q}.cold_s": "s", f"plans.{q}.warm_s": "s",
                      f"plans.{q}.jobs": "count", f"plans.{q}.driver_s": "s"})
    names.update({"spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
                  "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
                  "spark.spill_bytes": "B", "spark.core_busy": "ratio",
                  "spark.outside_jobs_s": "s", "spark.jit_cpu_s": "s"})
    return names


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants (the driver JVM
    and the Python workers): the largest proportional set size of the tree
    seen, sampled from /proc, and its split by command name."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak: dict[str, int] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        now = tree_pss_kb()
        if sum(now.values()) > sum(self.peak.values()):
            self.peak = now

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def stop(self) -> float:
        """Peak in MB."""
        self._halt.set()
        self.join()
        self.sample()
        return sum(self.peak.values()) / 1024


def pin_env(work: str) -> None:
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM would otherwise keep its perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # executor-side Python workers import perfbench.trace (sink proxy)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str, k: int, trace: bool) -> dict:
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap, resident from the start (G1 otherwise touches
            # more or less of it by its own timing, and the peak resident set
            # follows), and JIT compiler threads that live as long as the
            # JVM, so that proc.jit_cpu_s sees all their time
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                             "-XX:-UseDynamicNumberOfCompilerThreads "
                                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
    if trace:
        # PySpark 4.1 compresses event logs with zstd by default, which this
        # parser cannot read
        ev = os.path.join(work, "events", str(k))
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false"})
    return conf


def set_up(work: str, trace: bool, k: int):
    """Build session ``k``: ``get_spark`` (the first one launches the JVM)
    plus a first trivial job. Returns the session, the set-up time and the
    part of it in ``get_spark``."""
    from momyre_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="momyre-perfbench", extra_conf=spark_conf(work, k, trace))
    t1 = time.perf_counter()
    spark.range(1).count()
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took, t1 - t0


def install_tracer(spark, workload: str, sink_acc):
    from momyre_spark import engine
    from momyre_spark.sinks import jdbc_upsert
    from momyre_spark.streaming import pipeline

    from perfbench.trace import Tracer

    tr = Tracer(spark, workload, sink_acc)
    for m in ("reconcile_ddl", "snapshot_table", "sink_ids", "delete_orphans"):
        tr.wrap_method(engine.ReplicationEngine, m, "engine")
    for name in ("upsert_dataframe", "delete_dataframe"):
        tr.wrap([jdbc_upsert, engine, pipeline], name, "sinks.jdbc_upsert")
    tr.wrap([pipeline], "merge_ops_microbatch", "operators.cdc")
    for name in ("start_cdc_stream", "apply_ops_microbatch", "apply_actions"):
        tr.wrap([pipeline], name, "streaming.pipeline")
    return tr


# per-layer numbers that are already rates, ratios or percentiles and so are
# not divided by the number of units of work
UNSCALED = {"stream.entries_per_batch_p50", "stream.batch_s_p50", "stream.batch_s_p90",
            "stream.jobs_per_batch", "stream.stages_per_batch",
            "cdc.agg_runs_per_table_batch", "spark.core_busy"}


def layer_metrics(work, res, tracer, sink_acc, wall_s, n_tables) -> dict:
    """Per-layer numbers of the traced run, per unit of work."""
    from perfbench.trace import EventLog, sink_counts

    ev = EventLog(os.path.join(work, "events", "0"))
    raw = {**ev.executor(wall_s, CPUS), **ev.stream(n_tables)}
    sink = sink_counts(sink_acc)
    raw.update({f"sink.{k}": v for k, v in sink.items()})
    # keys the per-key merge emitted = sink actions applied by the batches
    raw["cdc.keys_out"] = sum(
        tracer.sink_delta("streaming.pipeline", "apply_ops_microbatch", k)
        for k in ("rows_upserted", "rows_patched", "rows_deleted"))
    for call in ("reconcile_ddl", "snapshot_table", "sink_ids", "delete_orphans"):
        raw[f"engine.{call}_s"] = tracer.total("engine", call)
    raw["engine.orphans_deleted"] = tracer.sink_delta("engine", "delete_orphans",
                                                      "rows_deleted")
    out = {k: v if k in UNSCALED else v / res.units for k, v in raw.items()}
    if raw.get("cdc.ops_in"):
        out["cdc.reduction"] = raw.get("cdc.keys_out", 0) / raw["cdc.ops_in"]
    out.update(res.layers)
    for q in {s["call"] for s in tracer.spans if s["layer"] == "plans"}:
        tag = f"{tracer.workload}:plans:{q}"
        runs = sum(1 for s in tracer.spans if s["tag"] == tag)
        jobs = ev.tagged(tag)
        out[f"plans.{q}.jobs"] = jobs["jobs"] / runs
        out[f"plans.{q}.driver_s"] = max(0.0, tracer.total("plans", q) - jobs["job_s"]) / runs
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "examples", "momyre.yml")
    if not (os.path.isdir(os.path.join(ROOT, "momyre_spark")) and os.path.exists(spec_path)):
        print("perfbench: run from the root of a momyre_spark checkout "
              "(momyre_spark/ and examples/momyre.yml not found)", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work)
    mem = MemorySampler()
    mem.start()
    spark = None
    try:
        spark, cold_setup_s, _ = set_up(work, trace, 0)
        from momyre_spark.spec import parse_spec

        with open(spec_path) as fh:
            spec = parse_spec(fh.read())
        tracer = sink_acc = None
        if trace:
            from perfbench.trace import DictSum

            sink_acc = spark.sparkContext.accumulator({}, DictSum())
            tracer = install_tracer(spark, args.workload, sink_acc)
        from pyspark import SparkContext

        ctx = Ctx(spark=spark, spec=spec, work=work, seed=args.seed, seconds=args.seconds,
                  jvm_pid=SparkContext._gateway.proc.pid, tracer=tracer, sink_acc=sink_acc)
        t0 = time.perf_counter()
        res = WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - t0
        if trace:
            tracer.restore()
        # set-up again on the JVM the workload warmed, timing the CPU each
        # set-up takes as well as its wall-clock time
        setups, setup_cpu_s, get_spark_s = [], [], []
        for k in range(1, SETUP_REPEATS + 1):
            spark.stop()
            c0 = ctx.cpu()
            spark, took, in_get = set_up(work, trace, k)
            c1 = ctx.cpu()
            setups.append(took)
            setup_cpu_s.append((c1[0] - c0[0]) - (c1[1] - c0[1]))
            get_spark_s.append(in_get)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = mem.stop()

    e2e = {"setup_s": statistics.median(setup_cpu_s), **res.metrics,
           "setup_wall_s": statistics.median(setups), "peak_rss_mb": peak_mb}
    if trace:
        layers = layer_metrics(work, res, tracer, sink_acc, wall, len(spec.tables))
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["session.cold_setup_s"] = cold_setup_s
        layers["session.setup_wall_s"] = e2e["setup_wall_s"]
        layers.update({k: res.metrics[k] for k in WALL_CLOCK})
        names = per_layer_names()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}

    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": CPUS, "driver_mem": DRIVER_MEM,
                "peak_rss_kb_by_process": mem.peak,
                "end_to_end": e2e, "details": res.details, "attempted": res.attempted,
                "failed": res.failed,
                "failed_ratio": res.failed / res.attempted if res.attempted else 1.0,
                "problems": res.problems, "metrics": metrics}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    if trace:
        artifact["spans"] = tracer.spans
        twin = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(twin):
            with open(twin) as fh:
                base = json.load(fh)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: e2e[k] / base[k] - 1 for k in {**END_TO_END, **WALL_CLOCK} if base.get(k)}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if not trace:
        for name, unit in WALL_CLOCK.items():
            print(f"{args.workload} {name} = {e2e[name]:.6g} {unit} (not bounded)")
    for name, v in res.details.items():
        if not isinstance(v, list):
            print(f"{args.workload} detail {name} = {v}")
    print(f"{args.workload} failed_ratio = {artifact['failed_ratio']:.6g} "
          f"({res.failed}/{res.attempted})")
    for p in res.problems:
        print(f"PROBLEM {p}", file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0 and res.attempted > 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
