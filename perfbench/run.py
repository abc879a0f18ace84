"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 16 --trace 0

Runs one workload of ``perfbench/workloads.py`` from one client process
on ``local[<cpus>]`` (all CPUs this process may use):

1. set-up: generate the seeded inputs into a fresh directory, start
   the engine session, run the workload's one-time preparation and warm
   every op up until its time stops falling;
2. the timed region: whole passes over the workload's ops for about
   ``--seconds``, with the process tree sampled from /proc; rates and
   CPU per op come from the median of each op over the region's passes;
3. the checks: every timed op's output against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
timed region twice, untraced and then traced (job group per op, Spark's
REST API, the streaming listener, /proc), prints the per-layer metrics
and the tracing overhead, and writes the spans to
``.perfbench_work/traces/``.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a report with the telemetry behind the numbers.  The exit
code is non-zero when any op failed or returned wrong rows.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run inputs are removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# every timed region sees each op at least three times, whatever the
# host's speed, so that each op has a median that one slow call cannot set
MIN_PASSES = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["sql_batch", "event_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--size", choices=["full", "tiny"], default="full",
        help="input size; 'tiny' is for the smoke test",
    )
    return ap.parse_args(argv)


def _isolate(work: str, cpus: int) -> None:
    """Point every scratch location of Python, Spark and the engine into
    this run's work directory, before anything reads them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_GRAFT_CPUS=str(cpus),
    )
    tempfile.tempdir = tmp


class Ctx:
    """What the workloads share: session, inputs, seeded RNG and the
    per-op hooks the tracer fills in."""

    def __init__(self, spark, data, work, rng):
        self.spark = spark
        self.data = data
        self.work = work
        self.rng = rng
        self.tracer = None
        self.hook_s = 0.0  # time spent in the tracer's per-op hooks

    def tag(self, key: str) -> None:
        if self.tracer:
            t = time.perf_counter()
            self.tracer.tag(key)
            self.hook_s += time.perf_counter() - t

    def after_op(self, op, children=None) -> None:
        if self.tracer:
            t = time.perf_counter()
            self.tracer.after_op(op, children)
            self.hook_s += time.perf_counter() - t
        self.spark.catalog.clearCache()


@dataclass
class Call:
    """One ``run_op`` call in a timed region: one query (sql_batch) or
    one pipeline run over every micro-batch (event_stream)."""

    name: str
    wall: float
    cpu: float  # process-tree CPU seconds over the call
    ops: list


def warm_up(wl) -> tuple[dict, list[str]]:
    """Run each op until its times stop falling: until an attempt is at
    most WARMUP_SETTLED faster than the fastest attempt before it (so one
    slow, noisy attempt does not count as a fall), or the op has had
    WARMUP_RUNS attempts.  An attempt is one ``run_op`` call, timed as the
    sum of the walls of the ops it yields (an event_stream attempt is one
    pipeline run over every micro-batch).  Returns the attempt times per
    op and the ops that reached the cap while still getting faster."""
    from workloads import WARMUP_RUNS, WARMUP_SETTLED

    history = {n: [] for n in wl.order}

    def falling(h):
        return len(h) < 2 or h[-1] < (1 - WARMUP_SETTLED) * min(h[:-1])

    pending = list(history)
    while pending:
        for name in pending:
            history[name].append(sum(op.wall for op in wl.run_op(name)))
        pending = [n for n, h in history.items() if len(h) < WARMUP_RUNS and falling(h)]
    capped = [n for n, h in history.items() if falling(h)]
    return {n: [round(x, 3) for x in h] for n, h in history.items()}, capped


def timed_region(wl, seconds: float) -> dict:
    """Whole passes for about ``seconds``: at least MIN_PASSES, and a
    further one only while the region would end nearer to ``seconds``
    with it than without it.  Each ``run_op`` call is recorded as a
    ``Call`` with its wall time and the process tree's CPU over it.
    Returns the calls, their ops, the wall time and the window's
    process-tree and host telemetry."""
    from procstat import TreeSampler, host_snapshot, host_window, tree_cpu

    sampler = TreeSampler()
    host0 = host_snapshot()
    sampler.start()
    t0 = time.perf_counter()
    cpu_mark = tree_cpu(sampler.root)
    calls, pass_s, elapsed = [], [], 0.0
    while len(pass_s) < MIN_PASSES or elapsed + elapsed / len(pass_s) / 2 < seconds:
        for name in wl.order:
            t = time.perf_counter()
            ops = wl.run_op(name)
            wall = time.perf_counter() - t
            cpu = tree_cpu(sampler.root)
            calls.append(Call(name, wall, cpu - cpu_mark, ops))
            cpu_mark = cpu
        pass_s.append(time.perf_counter() - t0 - elapsed)
        elapsed = time.perf_counter() - t0
    tree = sampler.stop()
    return {
        "calls": calls,
        "ops": [op for c in calls for op in c.ops],
        "wall": elapsed,
        "pass_s": pass_s,
        "tree": tree,
        "host": host_window(host0, host_snapshot()),
    }


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it (nearest-rank)."""
    n = len(values)
    k = max(n - 10, 1)  # rank of the tail sample, 1-based
    return round(100.0 * k / n, 1), sorted(values)[k - 1]


def work_of(wl_name: str, c: Call) -> int:
    """Input events a call processed (event_stream) or queries it
    completed (sql_batch)."""
    if wl_name == "event_stream":
        return sum(op.rows_in for op in c.ops if not op.error)
    return sum(1 for op in c.ops if not op.error)


def _median_by_name(calls: list[Call], value) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for c in calls:
        by_name.setdefault(c.name, []).append(value(c))
    return {k: statistics.median(v) for k, v in sorted(by_name.items())}


def e2e_metrics(wl_name: str, region: dict, setup_s: float) -> tuple[dict, dict]:
    """Rates and CPU come from per-op medians: for each op name, the
    median over the region's calls of its wall time, its work and its
    CPU; a rate is the summed median work over the summed median wall,
    i.e. the rate of one pass at median op times.  A call slowed by a
    co-tenant burst moves its own op's median at most."""
    calls, ops = region["calls"], region["ops"]
    walls = [op.wall for op in ops]
    named = "events_per_s" if wl_name == "event_stream" else "queries_per_s"
    work = _median_by_name(calls, lambda c: work_of(wl_name, c))
    call_s = _median_by_name(calls, lambda c: c.wall)
    call_cpu = _median_by_name(calls, lambda c: c.cpu)
    call_ops = _median_by_name(calls, lambda c: len(c.ops))
    throughput = sum(work.values()) / sum(call_s.values())
    pct, tail_v = tail(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "cpu_s_per_op": (sum(call_cpu.values()) / sum(call_ops.values()), "s"),
    }
    extra = {
        named: round(throughput, 4),
        "call_median_s": {k: round(v, 4) for k, v in call_s.items()},
        "call_median_cpu_s": {k: round(v, 4) for k, v in call_cpu.items()},
        "op_tail_s": {"value": round(tail_v, 4), "percentile": pct, "samples": len(walls)},
        "peak_rss_mb": round(region["tree"]["peak_rss_mb"], 1),
        "ops": len(ops),
        "pass_s": [round(x, 3) for x in region["pass_s"]],
        "timed_wall_s": round(region["wall"], 3),
        # whole-region rates, for comparison with the median-based ones
        "region_rate_per_s": round(
            sum(work_of(wl_name, c) for c in calls) / region["wall"], 4
        ),
        "region_cpu_s_per_op": round(region["tree"]["cpu_total_s"] / len(ops), 4),
        "cpu_s_by_process": {k: round(v, 3) for k, v in region["tree"]["cpu_s"].items()},
        "host": region["host"],
        "calls": [
            [c.name, round(c.wall, 4), round(c.cpu, 3), [round(op.wall, 4) for op in c.ops]]
            for c in calls
        ],
    }
    return metrics, extra


def _as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM the client launched, and wait for
    every process below this one to end."""
    from pyspark import SparkContext

    from procstat import descendants

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort before the kill
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while True:
            left = descendants(os.getpid())
            if not left or time.time() > deadline:
                break
            for pid in left:
                try:
                    os.kill(pid, 15)
                except OSError:
                    pass
            time.sleep(0.2)


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops the engine and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "flink_1_12_2_spark")):
        print("perfbench: engine package flink_1_12_2_spark not found", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        return _run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cpus: int) -> int:
    import datagen
    from workloads import SIZES, TABLES

    # 1. inputs
    data = os.path.join(work, "input")
    t = time.perf_counter()
    rows = datagen.generate(
        data, args.seed, SIZES[args.workload][args.size], TABLES[args.workload]
    )
    gen_s = time.perf_counter() - t

    # 2. session
    from flink_1_12_2_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        return _measure(args, spark, data, work, rows, gen_s, session_s)
    finally:
        _stop_engine(spark)


def _measure(args, spark, data, work, rows, gen_s, session_s) -> int:
    import random

    from oracle import Oracle
    from workloads import WORKLOADS

    ctx = Ctx(spark, data, work, random.Random(args.seed))
    wl = WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    warm, capped = warm_up(wl)
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T0

    regions = [timed_region(wl, args.seconds)]
    if args.trace:
        from tracer import Tracer

        ctx.tracer = Tracer(spark, wl)
        regions.append(timed_region(wl, args.seconds))
        ctx.tracer.tag(None)

    # checks, outside every timed region
    t = time.perf_counter()
    oracle = Oracle(data)
    all_ops = [op for r in regions for op in r["ops"]]
    bad = wl.check(all_ops, oracle)
    failed = sum(1 for op in all_ops if op.check_key in bad)
    check_s = time.perf_counter() - t

    metrics, extra = e2e_metrics(args.workload, regions[0], setup_s)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_rows": rows,
        "end_to_end": _as_json(metrics),
        **extra,
        "error_rate": failed / len(all_ops),
        "attempted": len(all_ops),
        "failed": failed,
        "wrong_outputs": dict(list(bad.items())[:5]),
        "setup": {
            "gen_s": round(gen_s, 3),
            "session_s": round(session_s, 3),
            "prepare_s": round(prepare_s, 3),
            "warmup_s": round(warmup_s, 3),
            "warmup_attempts_s": warm,
            "warmup_still_falling": capped,
        },
        "check_s": round(check_s, 3),
    }
    if args.trace:
        traced, _ = e2e_metrics(args.workload, regions[1], setup_s)
        layer, trace_report = ctx.tracer.finish(
            regions[1], 100.0 * ctx.hook_s / regions[1]["wall"],
            os.path.join(WORK_ROOT, "traces"), f"{args.workload}-seed{args.seed}",
        )
        trace_report["untraced_vs_traced"] = {
            k: [round(metrics[k][0], 4), round(traced[k][0], 4)]
            for k in ("throughput_per_s", "op_p50_s", "cpu_s_per_op")
        }
        report["trace_report"] = trace_report
        out_metrics = layer
    else:
        out_metrics = metrics
    print(json.dumps(report), flush=True)
    print(
        json.dumps(
            {
                "correct": not bad,
                "attempted": len(all_ops),
                "failed": failed,
                "metrics": _as_json(out_metrics),
            }
        ),
        flush=True,
    )
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
