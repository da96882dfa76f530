#!/usr/bin/env python3
"""Benchmark of tts_etl_pipeline_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. A single client drives the
workload closed-loop against `local[<cpus>]`, one operation in flight at a
time. After set-up (timed three times, median reported) it runs one
unmeasured warm-up pass of the workload, then measured passes until
`--seconds` have passed (at least one). It checks every pass's
outputs outside the timed region and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, latencies
scaled by an untimed host probe run before each operation. `--trace 1`
replaces the measured passes with one traced pass and reports the
per-layer metrics, including `trace.overhead_s`, the time that pass spent
reading Spark's status stores.
Generated inputs, Spark's local directories and the trace spans live under
`.perfbench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tts_etl_pipeline_spark"
SETUPS = 3
PROBE_ROWS = 3_000_000
# reported times are scaled to a host on which the probe takes this long
PROBE_REF_S = 0.1
DEADLINE_S = 170  # a hung run fails instead of blocking its caller


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    `work`, and put the checkout on the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def _warm_up(spark) -> None:
    """One job, so the session is known to schedule work. Per-query JIT
    and code generation warm up in the workload's unmeasured first pass."""
    spark.range(1).count()


def _setup(cpus: int):
    """Session start, registry import, warm-up; returns the session and
    the three layer times."""
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    registry = importlib.import_module(f"{PACKAGE}.registry")
    registry.all_queries()
    registry.all_oracles()
    t2 = time.perf_counter()
    _warm_up(spark)
    t3 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "registry.load_s": t2 - t1, "session.warmup_s": t3 - t2}


def _probe(spark) -> float:
    """Seconds for a fixed Spark job that runs no package code: a hash sum
    over generated rows on every core. Run between operations (untimed),
    it gauges how fast the shared host is at that moment."""
    t0 = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, spark.sparkContext.defaultParallelism) \
        .selectExpr("sum(hash(id, id * 3))").collect()
    return time.perf_counter() - t0


def _run_pass(wl, store, tracer, n: int) -> dict:
    """One pass of the workload; operations run back to back, with one
    host probe before each. Wall and CPU time count the operations only."""
    from procstat import cpu_seconds

    wl.begin_pass()
    ops = wl.ops()
    group = f"pass{n}"
    phase = tracer.phase if tracer else (lambda _name: None)
    lat, cpu, probes, results, failed = [], 0.0, [], [], set()
    for name, op in ops:
        probes.append(_probe(wl.spark))
        if tracer:
            tracer.begin()
        else:
            store.group(group)
        c = cpu_seconds()
        a = time.perf_counter()
        try:
            res = op(phase)
        except Exception:  # a failed op is counted, the pass goes on
            traceback.print_exc()
            failed.add(name)
            res = None
        lat.append(time.perf_counter() - a)
        cpu += cpu_seconds() - c
        if tracer:
            tracer.end(name)
        else:
            store.group(None)
        results.append((name, res))
    in_bytes = wl.pass_input_bytes(store, group)
    failed |= wl.check_pass(results)
    return {"wall": sum(lat), "cpu": cpu, "lat": lat, "names": [n for n, _ in ops], "bytes": in_bytes,
            "probe": statistics.median(probes), "attempted": len(ops), "failed": len(failed)}


def _shutdown(spark) -> None:
    """Stop Spark and the JVM it launched, then wait for every process
    this run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(30)


def _reap(grace_s: float) -> None:
    """Wait up to `grace_s` for every descendant process to end, then
    kill the ones left."""
    from procstat import tree_pids

    deadline = time.time() + grace_s
    while left := [p for p in tree_pids() if p != os.getpid()]:
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _timeout(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _log(f"no {PACKAGE}/ package next to {os.path.basename(HERE)}/: run from a source checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        specs = json.load(fh)["workloads"]
    if args.workload not in specs:
        _log(f"unknown workload {args.workload!r}")
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    _environment(work)

    import datagen
    import workloads
    from procstat import peak_rss_mb
    from tracer import StatusStore, Tracer

    spec = specs[args.workload]
    data_dir = os.path.join(work, "data")
    if "documents" in spec.get("input", {}):
        datagen.write_tables(data_dir, args.seed, spec["input"]["sf"],
                             spec["input"]["documents"], spec["input"]["embeddings"])
    cpus = len(os.sched_getaffinity(0))

    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            _purge_package()
        spark, layers = _setup(cpus)
        setups.append(layers)
        _log("setup " + ", ".join(f"{k} {v:.2f}" for k, v in layers.items()))
    try:
        wl = workloads.KINDS[args.workload](spec, spark, args.seed, work, data_dir)
        wl.prepare()
        store = StatusStore(spark)
        warm = _run_pass(wl, store, None, 0)
        _log(f"warm-up pass: {warm['wall']:.2f} s")
        passes = []
        if args.trace:
            tracer = Tracer(store)
            passes.append(_run_pass(wl, store, tracer, 1))
            wl.trace_layers(tracer)
            tracer.write(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            t_begin = time.perf_counter()
            while not passes or time.perf_counter() - t_begin < args.seconds:
                p = _run_pass(wl, store, None, len(passes) + 1)
                passes.append(p)
                _log(f"pass {len(passes)}: {p['wall']:.2f} s; "
                     + " ".join(f"{n}={x:.2f}" for n, x in zip(p["names"], p["lat"])))
        peak = peak_rss_mb()
    finally:
        _shutdown(spark)

    runs = [warm] + passes
    attempted = sum(p["attempted"] for p in runs)
    failed = sum(p["failed"] for p in runs)
    # best of the measured passes: each operation's fastest latency, the
    # fastest pass; host contention only ever adds time
    best: dict[str, float] = {}
    for p in passes:
        for name, x in zip(p["names"], p["lat"]):
            best[name] = min(x, best.get(name, x))
    lat = list(best.values())
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[8]
    wall = min(p["wall"] for p in passes)
    probe = statistics.median(p["probe"] for p in passes)
    if not args.trace:
        raw = {
            "setup_s": statistics.median(sum(s.values()) for s in setups),
            "wall_s": wall,
            "op_p50_s": statistics.median(lat),
            "cpu_s": min(p["cpu"] for p in passes),
            "input_mb_per_s": max(p["bytes"] / 1e6 / p["wall"] for p in passes),
        }
        _log(f"probe {probe:.4f} s; unscaled {json.dumps(raw)}")
        # latencies follow the shared host's speed, which drifts by up to
        # 2x within minutes; scaling them by the probe of the same pass
        # takes most of that drift out. CPU seconds barely follow it, and
        # set-up (JVM and context start) runs before any probe: both raw.
        scale = PROBE_REF_S / probe
        values = dict(raw, wall_s=raw["wall_s"] * scale, op_p50_s=raw["op_p50_s"] * scale,
                      input_mb_per_s=raw["input_mb_per_s"] / scale)
        wanted = bench["end_to_end"]
    else:
        values = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
        values.update(tracer.totals)
        values.update(wl.layers)
        values["spark.peak_exec_mem_bytes"] = tracer.peak_exec_mem
        values["trace.overhead_s"] = tracer.totals["trace.read_s"]
        values["op_p90_s"] = p90
        values["peak_rss_mb"] = peak
        values["host.probe_s"] = probe
        wanted = bench["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        code = main()
    finally:
        _reap(10)
    sys.exit(code)
