#!/usr/bin/env python3
"""Benchmark entry point for the market engine.

    python3 perfbench/run.py --workload market_serve --seed 1 --seconds 22 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets the engine up (``session.get_spark`` on ``local[<cores>]``,
default: every core this process may use), warms it, measures a closed
loop with one client for ``--seconds`` seconds, checks every output
and prints one JSON object as the last line of standard output:

* ``--trace 0``: the end-to-end metrics (``setup_s``, ``p50_ms``,
  ``p90_ms``, ``ops_per_s``);
* ``--trace 1``: the per-layer metrics: Spark counters per operation,
  per-layer spans and self times, and the tracing overhead. Spans are
  written to ``.perfbench_work/spans/``.

``BENCHMARK.json`` lists ``market_serve`` and ``market_ingest``;
``curate_batch`` runs the same way but is not in the gated set (a
traced ``market_serve`` run makes a curation pass for its per-layer
metrics).

The line before it names the workload's own metrics (``serve_p50_ms``,
``freshness_p90_ms``, ``curate_pass_s`` ...) and the error rate. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
ENGINE = "hridaya_steam_market_tracker_spark"
WORKLOADS = {
    "market_serve": ("perfbench.serve", "MarketServe"),
    "market_ingest": ("perfbench.ingest", "MarketIngest"),
    "curate_batch": ("perfbench.curate", "CurateBatch"),
}
# set-ups after the cold one, in the same JVM; setup_s is their median
RESETUPS = 5
# every end-to-end metric means the same on each workload, with the
# workload's operation: a request, a micro-batch or a query
WORKLOAD_NAMES = {
    "market_serve": {"p50_ms": "serve_p50_ms", "p90_ms": "serve_p90_ms"},
    "market_ingest": {"p50_ms": "freshness_p50_ms", "p90_ms": "freshness_p90_ms"},
    "curate_batch": {},
}
SELF_LAYERS = (
    "op", "queries.fn", "action", "tables.table", "createDataFrame",
    "sources.wire.normalize", "streaming.ingest.idempotent_append",
    "storage.layout.write_partitioned", "storage.layout.compact_partition",
    "streaming.push.route_batch",
)


@dataclass
class Ctx:
    seed: int
    cores: int
    work_dir: str
    cache_dir: str
    trace: bool = False
    data_dir: str = ""  # the fixture tables, set by the workload


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def configure_env(work: Path, cores: int) -> None:
    """Keep every file Spark and Python write inside the run's work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf 'spark.driver.extraJavaOptions={java_opts}' "
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
        ),
    )
    time.tzset()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def trace_tables(rec):
    """Wrap ``tables.table`` in a span wherever the engine imported it."""
    from hridaya_steam_market_tracker_spark import tables

    orig = tables.table

    def traced_table(*args, **kwargs):
        with rec.span("tables.table"):
            return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith(ENGINE) and getattr(mod, "table", None) is orig:
            mod.table = traced_table


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def quantile(vals: list[float], q: int) -> float:
    """The q-th decile (``statistics.quantiles``, inclusive)."""
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=10, method="inclusive")[q - 1]


def end_to_end(wl, rec, setup_s: float) -> dict:
    """Over the workload's unit of work: a request, a batch or a pass."""
    if hasattr(wl, "latencies_ms"):
        ms = wl.latencies_ms(rec)
    else:
        ms = [o.ms for o in rec.ops if not o.traced]
    return {
        "setup_s": (setup_s, "s"),
        "p50_ms": (statistics.median(ms), "ms"),
        "p90_ms": (quantile(ms, 9), "ms"),
        "ops_per_s": (len(ms) / (sum(ms) / 1e3), "1/s"),
    }


def per_layer(wl, rec, ctx: Ctx, setups: list[float]) -> dict:
    traced = [o for o in rec.ops if o.traced]
    n = max(1, len(traced))
    out: dict[str, float] = {"spark.ops": len(traced), "spark.cores": ctx.cores}
    from perfbench.trace import COUNTERS

    for c in COUNTERS:
        out[f"spark.{c}"] = sum(o.counters.get(c, 0) for o in traced) / n
    wall_ms = sum(o.ms for o in traced)
    out["spark.op_wall_ms"] = wall_ms / n
    out["spark.core_busy_frac"] = (
        sum(o.counters.get("executor_run_ms", 0) for o in traced) / (wall_ms * ctx.cores)
        if wall_ms else 0.0
    )
    out["session.cold_start_s"] = setups[0]
    table_ms = rec.span_ms("tables.table")
    out["tables.table_ms"] = statistics.median(table_ms) if table_ms else 0.0
    out["tables.table_calls"] = len(table_ms) / n
    self_ms = rec.self_times_ms()
    for layer in SELF_LAYERS:
        out[f"{layer}.self_ms"] = self_ms.get(layer, 0.0)
    overhead, base = rec.overhead_ms()
    out["trace.overhead_ms"] = overhead
    out["trace.untraced_ms"] = base
    out["trace.overhead_frac"] = overhead / base if base else 0.0
    out["trace.counter_read_ms"] = rec.counter_read_s * 1e3 / n
    out.update(wl.layer_metrics(rec))
    return out


def layer_names() -> list[str]:
    """Every per-layer metric name, whichever workload runs (a layer a
    workload does not reach reports 0)."""
    from perfbench import curate, serve
    from perfbench.trace import COUNTERS
    from perfbench.wire import STREAMS

    names = [f"spark.{c}" for c in COUNTERS] + [
        "spark.ops", "spark.cores", "spark.op_wall_ms", "spark.core_busy_frac",
        "session.cold_start_s", "tables.table_ms", "tables.table_calls",
    ]
    names += [f"{layer}.self_ms" for layer in SELF_LAYERS]
    names += ["trace.overhead_ms", "trace.untraced_ms", "trace.overhead_frac", "trace.counter_read_ms"]
    names += [f"serve.{k}_ms" for k in serve.KINDS]
    names += [f"queries.{g}.{k}" for g in ("item", "dash") for k in ("plan_ms", "exec_ms")]
    names += [f"sources.wire.{s}.{k}" for s in STREAMS for k in ("normalize_ms", "rows_in", "rows_out")]
    names += [
        "streaming.ingest.append_ms", "streaming.ingest.offered_rows",
        "streaming.ingest.appended_rows", "streaming.ingest.kept_frac",
        "streaming.ingest.stored_rows", "storage.layout.write_ms",
        "storage.layout.compact_ms", "storage.layout.sink_files",
        "streaming.push.route_ms", "streaming.push.frames",
    ]
    names += [f"curate.{q}.{k}" for q in curate.QUERIES for k in ("plan_ms", "exec_ms")]
    return names


LAYER_UNITS = (
    ("_bytes", "B"), ("_ms", "ms"), ("_s", "s"), ("_frac", "ratio"),
)


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def measure(args, work: Path) -> dict:
    """Inputs, set-up, warm-up, the measured loop and the checks; the
    result object run.py prints."""
    from perfbench.trace import Recorder

    ctx = Ctx(args.seed, args.cores, str(work), str(work.parent / "cache"), bool(args.trace))
    os.makedirs(ctx.cache_dir, exist_ok=True)
    mod, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod), cls)(ctx)
    t0 = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t0
    log(f"inputs {inputs_s:.1f}s")

    from hridaya_steam_market_tracker_spark.session import get_spark

    rec = Recorder(bool(args.trace))
    setups: list[float] = []
    spark = None
    try:
        for i in range(1 + RESETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            wl.set_up(spark)
            # the cold set-up counts from process start, less input generation
            setups.append(time.perf_counter() - (T_START + inputs_s if i == 0 else t0))
        log("set-ups " + " ".join(f"{x:.2f}s" for x in setups))
        rec.bind(spark)
        if args.trace:
            trace_tables(rec)
        t0 = time.perf_counter()
        wl.warm_up(spark, rec)
        log(f"warm-up {time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()
        wl.run(spark, rec, args.seconds)
        log(f"measured {time.perf_counter() - t0:.1f}s, {len(rec.ops)} ops (ms: "
            + " ".join(f"{o.kind}={o.ms:.0f}" for o in rec.ops) + ")")
        wl.finish(spark, rec)
    finally:
        if spark is not None:
            stop_spark(spark)

    every = rec.ops + rec.warm_ops
    failed = sum(not o.ok for o in every)
    if args.trace:
        values = per_layer(wl, rec, ctx, setups)
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": layer_unit(k)} for k in layer_names()}
        spans_dir = work.parent / "spans"
        spans_dir.mkdir(exist_ok=True)
        rec.write_spans(str(spans_dir / f"{args.workload}-s{args.seed}.json"))
        if getattr(wl, "curate_rec", None) is not None:
            wl.curate_rec.write_spans(str(spans_dir / f"{args.workload}-s{args.seed}-curate.json"))
    else:
        e2e = end_to_end(wl, rec, statistics.median(setups[1:]))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        named = {WORKLOAD_NAMES[args.workload].get(k, k): vu for k, vu in e2e.items()}
        named.update(wl.summary(rec))
        named["error_rate"] = (failed / len(every), "ratio")
        print(
            f"# {args.workload} seed={args.seed} local[{args.cores}] ops={len(every)}: "
            + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in named.items())
        )
    return {"correct": failed == 0, "attempted": len(every), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, args.cores)
    sys.path.insert(0, str(ROOT))
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
