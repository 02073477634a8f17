"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_parity --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository: the package is
imported from ``./parq_tools_spark`` and every file the run makes stays
under ``./.perfbench_work`` (deleted at the end). The last line of
standard output is the result object (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is the full record (box
guard, input sizes, per-op timings, every metric of the run).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same loop with every public call in its own job group and reports the
per-layer metrics read from Spark's status store (see ``trace.py``).
One client drives each workload in a closed loop: the next call is
issued only after the previous one returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
# Rows a sorter may hold before it spills; at this input size it makes
# the sorts of etl_parity go out of core, as they would at scale.
SPILL_ROWS = "5000"
# The first pass compiles (class loading, codegen, Python workers) and
# counts in setup_s. The JIT keeps speeding the driver up for a few
# passes more (etl_parity read 9.3, 7.7, 7.3, then a flat 6.9 s after
# the warm-up pass), and the box's own speed drifts by tens of percent
# over tens of seconds, so a run times at least MIN_PASSES passes and
# reports their median. More passes do not fit the run-time budget:
# a full set of 48 runs must finish in 57 minutes.
WARMUP_PASSES = 1
MIN_PASSES = 2
# A quiet 4-vCPU box runs the spin probe in 60-110 ms; the host's other
# tenants can slow it 2-3x without any stolen time showing in /proc/stat.
SPIN_CONTENDED_MS = 150

WORKLOADS = ("etl_parity", "text_pipeline")

# Per-layer counters of the traced run: layer -> counters, each
# reported as the median over timed passes of the per-pass sum.
LAYERS = {
    "plans.query_parser": ("wall_s",),
    "sources.parquet_io": ("wall_s", "driver_s", "jobs", "tasks", "input_bytes", "bytes_written", "empty_task_frac"),
    "operators.filter": ("wall_s", "driver_s", "jobs", "input_bytes"),
    "operators.concat": ("wall_s", "driver_s", "jobs", "shuffle_bytes"),
    "operators.index_ops": ("wall_s", "driver_s", "jobs", "shuffle_bytes", "spill_bytes"),
    "operators.schema_tools": ("wall_s", "bytes_written"),
    "operators.profile": ("wall_s", "driver_s", "jobs"),
    "operators.compare": ("wall_s", "driver_s", "jobs"),
    "lazy": ("wall_s", "driver_s", "jobs"),
    "functions.calculated_columns": ("wall_s", "py_rows"),
    "operators.text": ("wall_s", "driver_s", "jobs", "cpu_s", "py_rows"),
    "operators.quality": ("wall_s", "cpu_s", "py_rows"),
    "operators.repetition": ("wall_s", "jobs", "shuffle_bytes"),
    "operators.dedup": ("wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_bytes", "py_rows", "pair_yield"),
    "operators.similarity": ("wall_s", "driver_s", "jobs", "cpu_s"),
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def spin_probe_ms() -> float:
    """Milliseconds of a fixed pure-Python loop: a box-speed probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x ^= i
    return (time.perf_counter() - t0) * 1000.0


def cpu_busy(seconds: float = 0.5) -> dict:
    """Share of the box's CPU time that was busy, and stolen by the
    hypervisor, over ``seconds`` (from /proc/stat)."""

    def snap():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0

    t1, idle1, steal1 = snap()
    time.sleep(seconds)
    t2, idle2, steal2 = snap()
    total = max(1, t2 - t1)
    return {"busy_frac": 1 - (idle2 - idle1) / total, "steal_frac": (steal2 - steal1) / total}


def _spark_conf(work: str, traced: bool) -> dict:
    from perfbench.trace import TRACE_CONF

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.shuffle.spill.numElementsForceSpillThreshold": SPILL_ROWS,
    }
    if traced:
        conf.update(TRACE_CONF)
    return conf


def _make(name: str, work: str, seed: int):
    if name == "etl_parity":
        from perfbench.etl import EtlParity as W
    else:
        from perfbench.text import TextPipeline as W
    return W(work, seed)


def layer_metrics(spans, passes: int, session: dict) -> dict:
    """Median over timed passes of each layer counter's per-pass sum."""
    per_pass = [dict() for _ in range(passes)]
    for s in spans:
        if s.pass_id is None or not s.counters:
            continue
        acc = per_pass[s.pass_id].setdefault(s.layer, {})
        for k, v in s.counters.items():
            acc[k] = acc.get(k, 0) + v
        for k, v in s.extra.items():
            acc[k] = acc.get(k, 0) + v
    out = {}
    for layer, counters in LAYERS.items():
        for c in counters:
            vals = []
            for p in per_pass:
                acc = p.get(layer, {})
                if c == "empty_task_frac":
                    v = acc.get("empty_scan_tasks", 0) / acc["scan_tasks"] if acc.get("scan_tasks") else 0.0
                elif c == "pair_yield":
                    v = acc.get("verified_pairs", 0) / acc["candidate_pairs"] if acc.get("candidate_pairs") else 0.0
                else:
                    v = acc.get(c, 0)
                vals.append(v)
            out[f"{layer}.{c}"] = statistics.median(vals) if vals else 0
    out.update(session)
    return out


def main() -> int:
    a = _args()
    if not os.path.isfile(os.path.join(ROOT, "parq_tools_spark", "__init__.py")):
        _die(f"no parq_tools_spark package under {ROOT}; run from a checkout root")
    if a.seconds <= 0:
        _die("--seconds must be positive")
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work: str) -> int:
    from perfbench.trace import Recorder

    traced = bool(a.trace)
    box = {
        "nproc": os.cpu_count(),
        "local_n": CPUS,
        "driver_memory": DRIVER_MEMORY,
        "spin_cpu_ms": spin_probe_ms(),
        "load_start": os.getloadavg(),
        **cpu_busy(),
    }
    t = time.perf_counter()
    wl = _make(a.workload, work, a.seed)  # inputs + references: untimed
    gen_s = time.perf_counter() - t

    from parq_tools_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", **_spark_conf(work, traced))
    start_s = time.perf_counter() - t0
    try:
        warm = Recorder(spark, traced=False)
        warm_pass_s = []
        for w in range(WARMUP_PASSES):
            t = time.perf_counter()
            wl.run_pass(spark, warm, f"warm{w}")
            warm_pass_s.append(time.perf_counter() - t)
        warmup_s = sum(warm_pass_s)
        if warm.errors:
            print(f"perfbench: warm-up errors: {warm.errors}", file=sys.stderr)
        setup_s = start_s + warmup_s

        rec = Recorder(spark, traced)
        pass_s, attempted, failed = [], 0, 0
        failures: list = []
        t_loop = time.perf_counter()
        while len(pass_s) < MIN_PASSES or sum(pass_s) < a.seconds:
            k = len(pass_s)
            rec.pass_id = k
            n_spans, n_err = len(rec.spans), len(rec.errors)
            t = time.perf_counter()
            res = wl.run_pass(spark, rec, k)
            pass_s.append(time.perf_counter() - t)
            rec.pass_id = None
            bad = set(wl.check_pass(k, res)) | {e[0] for e in rec.errors[n_err:]}
            attempted += len({s.op for s in rec.spans[n_spans:]})
            failed += len(bad)
            failures += [f"pass {k}: {op}" for op in sorted(bad)]
            if time.perf_counter() - t_loop > 90:
                break  # untimed checks count here; keeps a run bounded
    finally:
        _stop(spark)

    box["load_end"] = os.getloadavg()
    box["spin_cpu_ms_end"] = spin_probe_ms()
    # another process held at least a quarter of the box, or the
    # hypervisor took CPU away, just before the run, or the spin probe
    # ran slow at either end
    box["contended"] = (
        box["busy_frac"] > 0.25
        or box["steal_frac"] > 0.05
        or max(box["spin_cpu_ms"], box["spin_cpu_ms_end"]) > SPIN_CONTENDED_MS
    )
    rows_per_s = statistics.median(wl.rows_per_pass / s for s in pass_s)
    e2e = {"setup_s": setup_s, "rows_per_s": rows_per_s}
    units = {"setup_s": "s", "rows_per_s": "1/s"}
    ops: dict = {}
    for s in rec.spans:
        ops.setdefault(s.op, []).append(s.wall_s)
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "box": box,
        "inputs": wl.inputs,
        "client": "closed loop, 1 client",
        "gen_s": gen_s,
        "session": {"start_s": start_s, "warmup_s": warmup_s, "warm_pass_s": warm_pass_s},
        "passes": len(pass_s),
        "pass_s": pass_s,
        "end_to_end": e2e,
        "op_s": ops,
        "failures": failures,
    }
    if traced:
        layers = layer_metrics(rec.spans, len(pass_s), {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.overhead_s": statistics.median(pass_s) - statistics.median(
                [sum(s.wall_s for s in rec.spans if s.pass_id == k) for k in range(len(pass_s))]
            ),
        })
        record["per_layer"] = layers
        record["op_counters"] = {s.op: s.counters for s in rec.spans if s.pass_id == 0}
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it;
    stopping the context also stops the Python worker daemon."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes") or last == "bytes_written":
        return "bytes"
    if last.endswith("_frac") or last == "pair_yield":
        return "ratio"
    return "count"


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        raise SystemExit(1)
