"""Traced run: per-layer metrics and spans from outside the engine.

Three sources, all read from the client process:

- a job group per op (``SparkContext.setJobGroup``), so every job the op
  submits from the client thread is attributed to it; micro-batch jobs
  run under the stream's run id and carry ``batch = N`` in their
  description;
- Spark's REST API (``/api/v1/applications/<id>/jobs|stages|sql``),
  read once after the traced region;
- the workload's ``StreamingQueryListener`` progress and the /proc
  samples of the process tree.

Spans: op -> build / action -> job -> stage for batch ops; pipeline run
-> micro-batch -> lifecycle segment (latestOffset, walCommit, getBatch,
queryPlanning, addBatch, commitOffsets) -> job -> stage for streaming.
Self time is given by a sweep over each op's span tree: every instant of
the op goes to the deepest spans active at it, split evenly between
concurrent ones, so the self times of an op's spans add up to its wall
time exactly.  The share of op wall the trace does not explain is the
self time of the container spans (the op itself, each micro-batch
outside its lifecycle segments) plus that of build and action spans
under which no job ran.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import urllib.request
from datetime import datetime, timezone

_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_NODES = ("Python", "Pandas", "Arrow")
_SEGMENTS = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets",
)

# name -> unit of every per-layer metric, in the order printed
LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.stages_skipped": "count",
    "session.driver_gap_s": "s",
    "jvm.executor_run_s": "s",
    "jvm.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.tasks_failed": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "sources.scan_rows": "count",
    "sources.scan_mb": "MB",
    "sources.write_mb": "MB",
    "sources.write_s": "s",
    "python.wait_s": "s",
    "python.worker_cpu_s": "s",
    "python.worker_starts": "count",
    "python.mb_to_worker": "MB",
    "python.mb_from_worker": "MB",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.batches_nonempty_frac": "fraction",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "cache_registry.persistent_rdds_after_op": "count",
    "cache_registry.storage_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.unexplained_frac": "fraction",
}


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _metric(value: str) -> float:
    """A SQL UI metric string ('9.3 s (2.2 s, ...)', '148.0 KiB', '1,598')
    as seconds, bytes or a plain number (the total, not the spread)."""
    line = value.split("\n", 1)[-1].strip()
    parts = line.split(" ")
    try:
        num = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return num * _TIME.get(unit, _SIZE.get(unit, 1.0))


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Sweep one op's span tree (children clipped to their parent)."""
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
        if s["parent"] is not None:
            par = by_id[s["parent"]]
            s["start"] = min(max(s["start"], par["start"]), par["end"])
            s["end"] = min(max(s["end"], s["start"]), par["end"])
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(cuts, cuts[1:]):
        active = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if not active:
            continue
        deep = max(depth[s["id"]] for s in active)
        leaves = [s for s in active if depth[s["id"]] == deep]
        for s in leaves:
            out[s["id"]] += (b - a) / len(leaves)
    return out


class Tracer:
    def __init__(self, spark, wl):
        self.sc = spark.sparkContext
        self.wl = wl
        self.url = self.sc.uiWebUrl.rstrip("/")
        self.app = self.sc.applicationId
        self.runs: list[tuple] = []  # (op, children, rdds, storage_mb)

    def tag(self, key: str | None) -> None:
        if key is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(key, key, False)

    def after_op(self, op, children=None) -> None:
        jsc = self.sc._jsc
        rdds = jsc.getPersistentRDDs().size()
        storage = sum(
            i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
        )
        self.runs.append((op, children, rdds, storage / 1e6))

    def _get(self, path: str):
        url = f"{self.url}/api/v1/applications/{self.app}{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    # -------------------------------------------------------------- harvest

    def _harvest(self):
        jobs = self._get("/jobs")
        stages = {}
        for s in self._get("/stages"):
            if s["status"] != "SKIPPED":
                stages[s["stageId"]] = s
        sql = self._get("/sql?details=true&planDescription=false&length=1000000")
        job_sql = {}
        for ex in sql:
            for j in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                job_sql[j] = ex
        return jobs, stages, job_sql

    def finish(self, region, overhead_pct, out_dir, stem):
        jobs, stages, job_sql = self._harvest()
        streaming = self.wl.name == "event_stream"
        ops = region["ops"]
        keys = {op.check_key for op in ops}
        runs = [r for r in self.runs if r[0].check_key in keys]

        by_group: dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)

        def batch_jobs(op):
            tag = f"batch = {op.batch}"
            return [
                j for j in by_group.get(op.run, [])
                if tag in (j.get("description") or "").split("\n")
            ]

        # jobs per op; for streaming the op is the micro-batch
        op_jobs = []
        for op in ops:
            if streaming:
                op_jobs.append(batch_jobs(op))
            else:
                op_jobs.append(by_group.get(op.check_key, []))

        # build phase: sql -> fn() until it returns; streaming -> pipeline
        # start until its first micro-batch starts
        build_s, build_jobs = [], []
        for run_op, children, _, _ in runs:
            mine = by_group.get(run_op.check_key, [])
            if streaming:
                first = min((c.start for c in children), default=run_op.end)
                end = first
            else:
                end = run_op.build_end or run_op.end
            build_s.append(end - run_op.start)
            build_jobs.append(
                sum(1 for j in mine if (_ts(j["submissionTime"]) or 0) < end)
            )

        n = max(len(ops), 1)
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "skipped", "gap", "run", "cpu", "gc",
             "failed", "sw", "sr", "fw", "spill", "in_rows", "in_b", "out_b",
             "write_s", "py_wait", "py_to", "py_from"), 0.0,
        )
        for op, js in zip(ops, op_jobs):
            sids = {sid for j in js for sid in j["stageIds"] if sid in stages}
            tot["jobs"] += len(js)
            tot["stages"] += len(sids)
            tot["skipped"] += sum(j["numSkippedStages"] for j in js)
            spans = [
                (_ts(j["submissionTime"]), _ts(j.get("completionTime")) or op.end)
                for j in js
            ]
            spans = [(max(s, op.start), min(e, op.end)) for s, e in spans if s]
            tot["gap"] += op.wall - _union([x for x in spans if x[1] > x[0]])
            py_stages = set()
            execs = {
                job_sql[j["jobId"]]["id"]: job_sql[j["jobId"]]
                for j in js if j["jobId"] in job_sql
            }
            for ex in execs.values():
                for node in ex.get("nodes", []):
                    name = node["nodeName"]
                    mets = {m["name"]: m["value"] for m in node.get("metrics", [])}
                    if any(k in name for k in _PY_NODES):
                        tot["py_to"] += _metric(mets.get("data sent to Python workers", "0"))
                        tot["py_from"] += _metric(
                            mets.get("data returned from Python workers", "0")
                        )
                        for v in mets.values():
                            py_stages.update(int(x) for x in _STAGE_REF.findall(v))
                    if "InsertInto" in name or "WriteFiles" in name:
                        tot["write_s"] += _metric(mets.get("task commit time", "0"))
                        tot["write_s"] += _metric(mets.get("job commit time", "0"))
            for sid in sids:
                s = stages[sid]
                tot["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                tot["run"] += s["executorRunTime"] / 1e3
                tot["cpu"] += s["executorCpuTime"] / 1e9
                tot["gc"] += s["jvmGcTime"] / 1e3
                tot["failed"] += s["numFailedTasks"]
                tot["sw"] += s["shuffleWriteBytes"]
                tot["sr"] += s["shuffleReadBytes"]
                tot["fw"] += s["shuffleFetchWaitTime"] / 1e3
                tot["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                tot["in_rows"] += s["inputRecords"]
                tot["in_b"] += s["inputBytes"]
                tot["out_b"] += s["outputBytes"]
                if sid in py_stages:
                    tot["py_wait"] += max(
                        s["executorRunTime"] / 1e3 - s["executorCpuTime"] / 1e9, 0.0
                    )

        def med(key):
            vals = [
                op.progress.get("durationMs", {}).get(key, 0) for op in ops
            ] if streaming else []
            return statistics.median(vals) if vals else 0.0

        def state(field_, scale=1.0):
            vals = [
                sum(s.get(field_, 0) for s in op.progress.get("stateOperators", []))
                for op in ops if op.progress.get("stateOperators")
            ]
            return statistics.median(vals) / scale if vals else 0.0

        tree = region["tree"]
        spans, coverage, unexplained = self._spans(
            ops, runs, jobs, stages, by_group, batch_jobs
        )
        values = {
            "queries.build_s": statistics.mean(build_s) if build_s else 0.0,
            "queries.build_jobs": statistics.mean(build_jobs) if build_jobs else 0.0,
            "session.jobs_per_op": tot["jobs"] / n,
            "session.stages_per_op": tot["stages"] / n,
            "session.tasks_per_op": tot["tasks"] / n,
            "session.stages_skipped": tot["skipped"] / n,
            "session.driver_gap_s": tot["gap"] / n,
            "jvm.executor_run_s": tot["run"] / n,
            "jvm.executor_cpu_s": tot["cpu"] / n,
            "jvm.gc_s": tot["gc"] / n,
            "jvm.tasks_failed": tot["failed"],
            "shuffle.write_mb": tot["sw"] / 1e6 / n,
            "shuffle.read_mb": tot["sr"] / 1e6 / n,
            "shuffle.fetch_wait_s": tot["fw"] / n,
            "shuffle.spill_mb": tot["spill"] / 1e6 / n,
            "sources.scan_rows": tot["in_rows"] / n,
            "sources.scan_mb": tot["in_b"] / 1e6 / n,
            "sources.write_mb": tot["out_b"] / 1e6 / n,
            "sources.write_s": tot["write_s"] / n,
            "python.wait_s": tot["py_wait"] / n,
            "python.worker_cpu_s": tree["cpu_s"].get("python", 0.0) / n,
            "python.worker_starts": tree["python_worker_starts"] / n,
            "python.mb_to_worker": tot["py_to"] / 1e6 / n,
            "python.mb_from_worker": tot["py_from"] / 1e6 / n,
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.batches_nonempty_frac": (
                sum(1 for op in ops if op.rows_in > 0) / n if streaming else 0.0
            ),
            "streaming.state_rows": state("numRowsTotal"),
            "streaming.state_mb": state("memoryUsedBytes", 1e6),
            "streaming.state_commit_ms": state("commitTimeMs"),
            "cache_registry.persistent_rdds_after_op": (
                statistics.mean(r[2] for r in runs) if runs else 0.0
            ),
            "cache_registry.storage_mb": (
                statistics.mean(r[3] for r in runs) if runs else 0.0
            ),
            "trace.overhead_pct": overhead_pct,
            "trace.unexplained_frac": unexplained,
        }
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{stem}.spans.json")
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["self_s"]
        with open(path, "w") as f:
            json.dump({"workload": self.wl.name, "spans": spans}, f)
        report = {
            "spans_file": os.path.relpath(path, os.path.dirname(out_dir.rstrip("/"))),
            "spans": len(spans),
            "span_coverage": round(coverage, 6),
            "unexplained_frac": round(unexplained, 4),
            "self_s_by_span": {k: round(v, 3) for k, v in sorted(by_name.items())},
            "overhead_pct": round(overhead_pct, 3),
        }
        return {k: (values[k], LAYER_UNITS[k]) for k in LAYER_UNITS}, report

    # ---------------------------------------------------------------- spans

    def _spans(self, ops, runs, jobs, stages, by_group, batch_jobs):
        """Every op's span tree with self times; returns (spans, coverage,
        unexplained): the sum of self times and the self time the trace
        does not explain, each as a share of the sum of op wall times."""
        out, ids = [], iter(range(1, 1 << 30))

        def add(tree, name, start, end, parent):
            sid = next(ids)
            tree.append({"id": sid, "parent": parent, "name": name,
                         "start": start, "end": end})
            return sid

        def add_jobs(tree, js, parent_of):
            for j in js:
                s = _ts(j["submissionTime"])
                e = _ts(j.get("completionTime")) or s
                jid = add(tree, "job", s, e, parent_of(s))
                for sid in j["stageIds"]:
                    st = stages.get(sid)
                    if st and st.get("submissionTime"):
                        add(tree, "stage", _ts(st["submissionTime"]),
                            _ts(st.get("completionTime")) or e, jid)

        total_wall = unexplained = 0.0
        for run_op, children, _, _ in runs:
            tree: list[dict] = []
            root = add(tree, "op", run_op.start, run_op.end, None)
            total_wall += run_op.wall
            own = by_group.get(run_op.check_key, [])
            if children is None:  # batch query: build, then action
                mid = run_op.build_end or run_op.end
                b = add(tree, "build", run_op.start, mid, root)
                a = add(tree, "action", mid, run_op.end, root)
                add_jobs(tree, own, lambda t, b=b, a=a, mid=mid: b if t < mid else a)
            else:  # pipeline run: micro-batches and their segments
                first = min((c.start for c in children), default=run_op.end)
                b = add(tree, "build", run_op.start, first, root)
                add_jobs(tree, [j for j in own if _ts(j["submissionTime"]) < first],
                         lambda t, b=b: b)
                for c in children:
                    bid = add(tree, "micro_batch", c.start, c.end, root)
                    t, segs = c.start, []
                    for seg in _SEGMENTS:
                        d = c.progress.get("durationMs", {}).get(seg, 0) / 1e3
                        segs.append((add(tree, seg, t, t + d, bid), t, t + d))
                        t += d

                    def seg_of(ts, segs=segs, bid=bid):
                        for sid, s, e in segs:
                            if s <= ts < e:
                                return sid
                        return bid

                    add_jobs(tree, batch_jobs(c), seg_of)
            selfs = self_times(tree)
            with_jobs = {s["parent"] for s in tree if s["name"] == "job"}
            for s in tree:
                s["self_s"] = selfs[s["id"]]
                if s["name"] in ("op", "micro_batch") or (
                    s["name"] in ("build", "action") and s["id"] not in with_jobs
                ):
                    unexplained += s["self_s"]
            out += tree
        covered = sum(s["self_s"] for s in out)
        if not total_wall:
            return out, 0.0, 0.0
        return out, covered / total_wall, unexplained / total_wall
