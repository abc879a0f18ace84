"""The benchmark's workloads: what an op is, how a pass runs, and how
every op's output is checked.

A workload runs *passes*.  A pass runs every op of the workload once, in
a closed loop (each op starts when the previous one has finished), in an
order fixed by the seed.  Timing whole passes keeps the op mix the same
for every seed.

``sql_batch``
    One op is one batch query: the builder ``fn(spark, dir)`` is called
    (plan build plus any probe jobs it runs) and its result is written to
    a fresh parquet directory.  The op time runs from the ``fn()`` call to
    the end of the write.  The check reads every written result back and
    compares it with the query's DuckDB oracle on the same input files.

``event_stream``
    The events table is split once into ``STREAM_FILES`` time-ordered
    files by ``streaming.core.stream_events_multibatch`` and replayed one
    file per micro-batch through three pipelines: a JVM tumbling-window
    aggregate, ``streaming_topn`` (``applyInPandasWithState``) and
    ``cep_pattern_matches`` (Python NFA).  One op is one micro-batch; its
    time is the batch's ``triggerExecution`` duration from a
    ``StreamingQueryListener``.  The check compares each pipeline run's
    final output with the registry oracle of the matching registry query.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow.parquet as pq

from datagen import STAR_TABLES

# input scale per workload (see datagen.py); "tiny" is for the smoke test
SIZES = {
    "sql_batch": {"full": 0.01, "tiny": 0.001},
    "event_stream": {"full": 0.004, "tiny": 0.002},
}
# the tables each workload reads; no other table is generated
TABLES = {"sql_batch": STAR_TABLES, "event_stream": ("events",)}

# registry rows of sql_batch; dataset_reduce_group_top2 below completes it
SQL_QUERIES = (
    "q1_pricing_summary",
    "join_star_broadcast",
    "join_fact_fact_smj",
    "sort_limit",
    "q3_shipping_priority",
    "tpcds_literal_q42",
    "flat_aggregate_top2",
)

STREAM_FILES = 2
PIPELINES = ("tumble_agg", "topn", "cep")
# the registry query whose oracle checks each pipeline's final output
PIPELINE_ORACLE = {
    "tumble_agg": "stream_tumble_agg",
    "topn": "stream_topn_multibatch",
    "cep": "stream_cep_multibatch",
}

# warm-up: repeat an op until an attempt is no more than this share
# faster than the fastest one before, at most WARMUP_RUNS attempts of it
WARMUP_SETTLED = 0.10
WARMUP_RUNS = 2


@dataclass
class Op:
    """One timed unit of work, with the spans the trace hangs below it."""

    name: str
    start: float  # epoch seconds
    end: float
    build_end: float | None = None  # sql_batch: fn() returned
    run: str = ""  # event_stream: the streaming query's run id
    batch: int = -1
    rows_in: int = 0
    progress: dict = field(default_factory=dict)
    check_key: str = ""  # which output this op's correctness rides on
    error: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class _Workload:
    """A workload runs ``run_op`` for each name in ``order``; one call
    may yield several Ops (one per micro-batch)."""

    order: list[str]

    def prepare(self) -> None:
        """One-time set-up after the session starts."""


# ---------------------------------------------------------------- sql_batch


REDUCE_GROUP_ORACLE = """
SELECT c_nationkey, c_custkey, c_acctbal FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer) WHERE rn <= 2
"""


def dataset_reduce_group_top2(spark, sf_dir):
    """DataSet ``groupBy(...).reduceGroup`` row: the two richest customers
    of every nation, chosen by a pandas group function."""
    from flink_1_12_2_spark.dataset import ExecutionEnvironment
    from flink_1_12_2_spark.registry import load

    def top2(pdf):
        return pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(2)

    cust = ExecutionEnvironment(spark).from_dataframe(
        load(spark, sf_dir, "customer").select(
            "c_nationkey", "c_custkey", "c_acctbal"
        )
    )
    return (
        cust.group_by("c_nationkey")
        .reduce_group(top2, "c_nationkey int, c_custkey long, c_acctbal double")
        .df
    )


def _sql_specs():
    """name -> (builder, oracle SQL)."""
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    specs = {n: (QUERIES[n].fn, QUERIES[n].oracle) for n in SQL_QUERIES}
    specs["dataset_reduce_group_top2"] = (
        dataset_reduce_group_top2,
        REDUCE_GROUP_ORACLE,
    )
    return specs


class SqlBatch(_Workload):
    name = "sql_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.specs = _sql_specs()
        self.order = list(self.specs)
        ctx.rng.shuffle(self.order)
        self.outputs: dict[str, str] = {}  # check_key -> parquet dir
        self._n = 0

    def run_op(self, name: str) -> list[Op]:
        ctx = self.ctx
        self._n += 1
        key = f"{self._n:04d}_{name}"
        path = os.path.join(ctx.work, "out", key)
        fn = self.specs[name][0]
        ctx.tag(key)
        t0 = time.time()
        op = Op(name=name, start=t0, end=t0, check_key=key)
        try:
            df = fn(ctx.spark, ctx.data)
            op.build_end = time.time()
            df.write.mode("overwrite").parquet(path)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            op.error = f"{type(e).__name__}: {e}"[:300]
        op.end = time.time()
        self.outputs[key] = path
        ctx.after_op(op)
        return [op]

    def check(self, ops: list[Op], oracle) -> dict[str, str]:
        """check_key -> problem, for every op whose output is wrong."""
        bad = {}
        for op in ops:
            if op.error:
                bad[op.check_key] = op.error
                continue
            table = pq.read_table(self.outputs[op.check_key])
            rows = list(zip(*(c.to_pylist() for c in table.columns)))
            problem = oracle.compare(
                op.name, self.specs[op.name][1], table.column_names, rows
            )
            if problem:
                bad[op.check_key] = problem
        return bad


# ------------------------------------------------------------- event_stream


class ProgressListener:
    """Keeps every ``StreamingQueryProgress`` by run id and signals when a
    query terminates (progress events arrive asynchronously)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: dict[str, list[dict]] = {}
        self.done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer._event(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._event(str(event.runId)).set()

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def _event(self, run_id: str) -> threading.Event:
        with self._lock:
            return self.done.setdefault(run_id, threading.Event())

    def wait(self, run_id: str, timeout: float = 30.0) -> list[dict]:
        self._event(run_id).wait(timeout)
        with self._lock:
            return list(self.progress.get(run_id, []))

    def run_ids(self) -> set[str]:
        with self._lock:
            return set(self.done)


def _tumble_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_1_12_2_spark.streaming.core import (
        ltz_to_ntz_utc,
        run_to_memory,
        stream_events_multibatch,
    )

    ev = stream_events_multibatch(spark, sf_dir, n_files=STREAM_FILES)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value")
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        ltz_to_ntz_utc(F.col("win.start")).alias("win_start"),
        "event_type",
        "cnt",
        "total_value",
    )


def _topn(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_1_12_2_spark.streaming.core import (
        run_to_memory,
        stream_events_multibatch,
    )
    from flink_1_12_2_spark.streaming.stateful import streaming_topn

    ev = stream_events_multibatch(spark, sf_dir, n_files=STREAM_FILES)
    out = run_to_memory(streaming_topn(ev, n=3), output_mode="update")
    # the last emission per key is its final top-3
    w = Window.partitionBy("user_id")
    return (
        out.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .drop("seq", "max_seq")
    )


def _cep(spark, sf_dir):
    from pyspark.sql import functions as F

    from flink_1_12_2_spark.streaming.cep import Pattern, cep_pattern_matches
    from flink_1_12_2_spark.streaming.core import (
        run_to_memory,
        stream_events_multibatch,
    )

    ev = stream_events_multibatch(spark, sf_dir, n_files=STREAM_FILES)
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    return run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")


_PIPELINE_FNS = {"tumble_agg": _tumble_agg, "topn": _topn, "cep": _cep}


class EventStream(_Workload):
    name = "event_stream"

    def __init__(self, ctx):
        from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

        load_all_query_modules()
        self.ctx = ctx
        self.oracles = {p: QUERIES[PIPELINE_ORACLE[p]].oracle for p in PIPELINES}
        self.order = list(PIPELINES)
        self.results: dict[str, tuple[str, object]] = {}
        self.listener = ProgressListener(ctx.spark)
        self._n = 0

    def prepare(self) -> None:
        """Split the events into one file per micro-batch (once per run,
        into this run's fresh input directory)."""
        from flink_1_12_2_spark.streaming.core import stream_events_multibatch

        stream_events_multibatch(self.ctx.spark, self.ctx.data, n_files=STREAM_FILES)

    def run_op(self, name: str) -> list[Op]:
        """Run one pipeline over every file; one Op per micro-batch."""
        ctx = self.ctx
        self._n += 1
        key = f"{self._n:04d}_{name}"
        ctx.tag(key)
        before = self.listener.run_ids()
        t0 = time.time()
        err = ""
        try:
            df = _PIPELINE_FNS[name](ctx.spark, ctx.data)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            df, err = None, f"{type(e).__name__}: {e}"[:300]
        t1 = time.time()
        self.results[key] = (name, df)
        new = sorted(self.listener.run_ids() - before)
        ops = []
        for run_id in new:
            for p in self.listener.wait(run_id):
                d = p["durationMs"]
                start = _epoch(p["timestamp"])
                ops.append(
                    Op(
                        name=name,
                        start=start,
                        end=start + d.get("triggerExecution", 0) / 1000.0,
                        run=run_id,
                        batch=int(p["batchId"]),
                        rows_in=int(p.get("numInputRows", 0)),
                        progress=p,
                        check_key=key,
                        error=err,
                    )
                )
        if not ops:
            ops = [Op(name=name, start=t0, end=t1, check_key=key, error=err or "no batches")]
        # the pipeline run itself, for the trace: build + batches + stop
        ctx.after_op(Op(name=name, start=t0, end=t1, check_key=key, error=err), ops)
        return ops

    def check(self, ops: list[Op], oracle) -> dict[str, str]:
        bad = {}
        for key in sorted({op.check_key for op in ops}):
            name, df = self.results[key]
            errs = [op.error for op in ops if op.check_key == key and op.error]
            if errs:
                bad[key] = errs[0]
                continue
            rows = [tuple(r) for r in df.collect()]
            problem = oracle.compare(
                PIPELINE_ORACLE[name], self.oracles[name], df.columns, rows
            )
            if problem:
                bad[key] = problem
        return bad


def _epoch(iso: str) -> float:
    """Progress timestamps look like 2026-01-01T00:00:00.123Z (UTC)."""
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


WORKLOADS = {"sql_batch": SqlBatch, "event_stream": EventStream}
