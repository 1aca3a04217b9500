"""Benchmark of the etl_wrap_spark engine, run from the repository root:

    python3 perfbench/run.py --workload catalog_floor --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from ``--seed``, sets up a Spark session
three times (the first set-up launches the JVM, the others start a new
Spark context in it), measures the
workload for ``--seconds`` seconds as one client in a closed loop,
checks the outputs, and prints one JSON line as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the run traces every warm op and the
metrics are the per-layer ones. A detail record of
the run (host context, every op, spans) goes to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``. Everything the run
writes stays under ``perfbench/out`` and ``perfbench/.work``; the work
directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CPUS = "4"  # fixed, so plan shapes and task counts do not depend on the host
DRIVER_MEMORY = "3g"
SETUPS = 3

WHY = {
    "catalog_floor": "floor-class catalog queries at sf0.01: wall is mostly plan build, Catalyst and per-job scheduling",
    "etl_load": "the paper's process: tab files -> German-locale coerce -> keyed lake upsert -> export; the only workload that writes",
}


def _make_workload(name: str, work: str, seed: int, tracer):
    from workloads import CatalogWorkload, EtlWorkload

    if name == "catalog_floor":
        return CatalogWorkload(ROOT, seed, tracer)
    return EtlWorkload(work, seed, tracer)


# ------------------------------------------------------------ host/process


def _mem_available_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    return -1.0


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs: the steal share of a
    window shows a hypervisor that ran other guests on our CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _reset_vm_hwm() -> None:
    """Restart this process's peak-RSS count from its current RSS, so the
    peak leaves out the benchmark's own input generation and oracle."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def _vm_hwm_kb(pid) -> int:
    """Peak resident set size of a process (kernel-tracked VmHWM)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _sched_floor(spark, n: int = 3) -> float:
    """Best-of-n wall of an empty 1-task job: the scheduling round trip."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        spark.sparkContext.parallelize([], 1).count()
        best = min(best, time.perf_counter() - t0)
    return best


def _env(work: str) -> None:
    """Confine the engine's scratch files to the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # JAVA_TOOL_OPTIONS also reaches the launcher JVM that spark-submit runs
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:+UseParallelGC -Dderby.system.home={work}"
    import tempfile

    tempfile.tempdir = tmp


def _timed_launch(launch):
    """Wrap pyspark's JVM launcher so the launch wall is recorded in
    ``_timed_launch.s`` (0 for a session that reused the live JVM)."""

    def launch_gateway(*a, **kw):
        t0 = time.perf_counter()
        try:
            return launch(*a, **kw)
        finally:
            _timed_launch.s = time.perf_counter() - t0

    return launch_gateway


def _start_session(work: str):
    from etl_wrap_spark.session import session_builder

    spark = (
        session_builder("perfbench")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)
    for k in kids:
        if os.path.exists(f"/proc/{k}"):
            try:
                os.kill(k, 9)
            except OSError:
                pass


# ------------------------------------------------------------------ tracing


def _install_tracer():
    import importlib
    import pkgutil

    from tracing import Tracer

    import etl_wrap_spark.operators as ops_pkg

    tracer = Tracer()
    skip = {"jpeg_stdlib", "mpeg_audio", "mpeg_layer3"}  # UDF-side codec kernels
    for m in pkgutil.iter_modules(ops_pkg.__path__):
        if m.name not in skip:
            tracer.wrap_module(importlib.import_module(f"etl_wrap_spark.operators.{m.name}"), "operators")
    for mod, layer in (
        ("etl_wrap_spark.functions.coerce", "functions"),
        ("etl_wrap_spark.functions.dateutil", "functions"),
        ("etl_wrap_spark.sources.files", "sources"),
        ("etl_wrap_spark.sinks.files", "sinks"),
        ("etl_wrap_spark.sinks.merge", "sinks"),
        ("etl_wrap_spark.plans.config", "plans"),
        ("etl_wrap_spark.plans.runner", "plans"),
    ):
        tracer.wrap_module(importlib.import_module(mod), layer)
    from etl_wrap_spark.plans.runner import ProcessedLedger
    from etl_wrap_spark.sinks.lake import AtomicTable

    tracer.wrap_methods(AtomicTable, "sinks", ["upsert", "write", "delete_insert", "vacuum", "read"])
    tracer.wrap_methods(ProcessedLedger, "plans", ["unprocessed", "mark"])
    return tracer


def _layer_metrics(wl, tracer, setups, floor_start) -> dict[str, float]:
    """Per-layer metrics: means per traced warm op, from its spans and
    counters. A layer the workload never reaches reads 0."""
    import stats

    warm = [o for o in wl.ops if o["traced"] and o["kind"] == "warm" and o["ok"]]
    n = len(warm) or 1
    labels = {o["label"] for o in warm}
    spans = [s for s in tracer.spans if s["op"] in labels]
    layer_self = stats.layer_self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def top(layer):  # spans of a layer not nested in a span of the same layer
        return [s for s in spans if s["layer"] == layer
                and not (s["parent"] in by_id and by_id[s["parent"]]["layer"] == layer)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / n

    def per_op(key):
        return sum(o.get(key, 0) for o in warm) / n

    def calls(layer):
        return sum(1 for s in spans if s["layer"] == layer) / n

    def self_s(layer):
        return layer_self.get(layer, 0.0) / n

    etl = bool(wl.rounds)
    in_bytes = per_op("bytes") if etl else 0.0
    cost = per_op("trace_cost_s")
    return {
        "session.jvm_launch_s": setups[0]["launch_s"],
        "session.start_s": stats.median(s["start_s"] for s in setups),
        "session.load_tables_s": stats.median(s["register_s"] for s in setups),
        "catalog.build_s": dur(top("catalog")),
        "catalog.build_py4j": per_op("build_py4j"),
        "catalog.build_jobs": per_op("build_jobs"),
        "operators.calls": calls("operators"),
        "operators.self_s": self_s("operators"),
        "operators.jobs": sum(s["jobs"] for s in top("operators")) / n,
        "catalyst.analysis_ms": per_op("catalyst_analysis_ms"),
        "catalyst.optimization_ms": per_op("catalyst_optimization_ms"),
        "catalyst.planning_ms": per_op("catalyst_planning_ms"),
        "exec.s": dur(top("exec")),
        "exec.jobs": per_op("exec_jobs"),
        "exec.stages": per_op("exec_stages"),
        "exec.tasks": per_op("exec_tasks"),
        "exec.shuffle_write_bytes": per_op("exec_shuffle_write_bytes"),
        "exec.sched_floor_s": floor_start,
        "sources.read_s": dur(top("sources")),
        "sources.rows_in": per_op("rows") if etl else 0.0,
        "sources.bytes_in": in_bytes,
        "functions.calls": calls("functions"),
        "functions.self_s": self_s("functions"),
        "sinks.commit_s": dur([s for s in top("sinks") if s["name"] == "AtomicTable.upsert"]),
        "sinks.bytes_written": per_op("bytes_written"),
        "sinks.files_written": per_op("files_written"),
        "sinks.write_amp": per_op("bytes_written") / in_bytes if in_bytes else 0.0,
        "sinks.export_s": wl.rounds[0]["export_s"] if etl else 0.0,
        "sinks.stored_bytes_per_input_byte": (wl.rounds[0]["stored_bytes"] / wl.rounds[0]["input_bytes"]
                                              if etl else 0.0),
        "plans.s": dur(top("plans")),
        "trace.overhead_pct": 100.0 * cost / (per_op("wall") - cost),
    }


# -------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_wrap_spark", "__init__.py")):
        print(f"perfbench: no etl_wrap_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    _env(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    import stats

    tracer = _install_tracer() if args.trace else None
    wl = _make_workload(args.workload, os.path.join(work, "wl"), args.seed, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t0

    _reset_vm_hwm()

    # The first set-up launches the JVM. The others stop the session and
    # start a new Spark context in the same JVM; the last session is the
    # one measured.
    import pyspark.context

    pyspark.context.launch_gateway = _timed_launch(pyspark.context.launch_gateway)
    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            _timed_launch.s = 0.0
            t0 = time.perf_counter()
            spark = _start_session(work)
            t1 = time.perf_counter()
            wl.register(spark)
            t2 = time.perf_counter()
            spark.sparkContext.parallelize([], 1).count()  # warm-up: one empty job
            t3 = time.perf_counter()
            launch = _timed_launch.s
            setups.append({"launch_s": launch, "start_s": t1 - t0 - launch, "register_s": t2 - t1,
                           "warm_up_s": t3 - t2, "total_s": t3 - t0 - launch})
        if tracer:
            tracer.attach(spark)
        host = {"nproc": os.cpu_count(), "spark_cpus": int(CPUS),
                "mem_available_mb_start": _mem_available_mb(), "sched_floor_s_start": _sched_floor(spark)}
        cpu0 = _cpu_jiffies()
        t0 = time.perf_counter()
        wl.run(spark, args.seconds, tracer.counters if tracer else None)
        measured_s = time.perf_counter() - t0
        cpu1 = _cpu_jiffies()
        host.update(sched_floor_s_end=_sched_floor(spark), mem_available_mb_end=_mem_available_mb(),
                    steal_pct=100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]))
        peak_rss_mb = (_vm_hwm_kb("self") + sum(_vm_hwm_kb(k) for k in _descendants(os.getpid()))) / 1024
        wl.check()
    finally:
        if spark is not None:
            _shutdown(spark)
        if tracer:
            tracer.unwrap()

    for o in wl.ops:
        o["label"] = f"p{o['pass']}.{o['name']}" if "pass" in o else f"f{o.get('file')}"
    failed = sum(not o["ok"] for o in wl.ops) + sum(not c["ok"] for c in wl.checks)
    attempted = len(wl.ops) + len(wl.checks)
    warm = [o["wall"] for o in wl.ops if o["ok"] and o["kind"] == "warm"]
    cold = [o["wall"] for o in wl.ops if o["ok"] and o["kind"] == "cold"]
    if not warm or not cold:
        print(f"perfbench: no successful ops to measure ({failed} of {attempted} failed)", file=sys.stderr)
        for o in wl.ops + wl.checks:
            if "error" in o:
                print(f"  {o.get('name', o.get('file'))}: {o['error']}", file=sys.stderr)
                break
        return 1
    tail_v, tail_p = stats.tail(warm)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "gen_s": gen_s, "setups": setups, "measured_s": measured_s,
        "tail_percentile": tail_p, "warm_samples": len(warm), "cold_samples": len(cold),
        "ops": wl.ops, "checks": wl.checks, "rounds": wl.rounds,
    }
    if args.trace:
        metrics = {k: (v, _unit(k)) for k, v in _layer_metrics(wl, tracer, setups, host["sched_floor_s_start"]).items()}
        detail["spans"] = tracer.spans
    else:
        metrics = {
            "setup_s": (setups[0]["launch_s"] + stats.median(s["total_s"] for s in setups), "s"),
            "op_p50_s": (stats.median(warm), "s"),
            "op_tail_s": (tail_v, "s"),
            "cold_op_p50_s": (stats.median(cold), "s"),
            "ops_per_min": (60.0 * len(warm) / sum(warm), "1/min"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(f"perfbench: {args.workload} seed={args.seed} warm={len(warm)} cold={len(cold)} "
          f"tail=p{tail_p:.0f} failed={failed}/{attempted} host={json.dumps(host)} detail={path}",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name in ("exec.s", "plans.s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name and "per_input" not in name:
        return "bytes"
    if name.endswith(("write_amp", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
