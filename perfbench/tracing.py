"""Tracing for the per-layer run: spans, Spark job/stage/SQL counts, and
streaming progress.

Spans are recorded only here, around the benchmark's own calls into the
engine; nothing in the package is instrumented. Spark's counts come from its
monitoring API: ``sc.statusTracker()`` maps a job group (one per traced
phase of an op) to its jobs, and the live UI's REST endpoints give the
stage metrics (``/stages``) and the SQL plan-node metrics (``/sql``).
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

LAYERS = ["session", "sources", "functions", "plans", "operators", "pipeline", "ml", "streaming"]
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
    "FlatMapGroupsInPandasWithState", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6,
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder; ``dump`` writes every span at exit."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op_id: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, op_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the union of its
        children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS + ["harness"]}
        for s in spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def parse_metric(text: str) -> float:
    """A SQL UI metric string ('12.8 KiB', '41 ms', or a 'total (min, med,
    max ...)' block whose total is on the second line) as a plain number in
    bytes, seconds or rows."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"(-?[\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    """Job, stage and SQL counts per job group, from Spark's status tracker
    and the local UI's REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        """Jobs submitted in a wall-clock window. Streaming micro-batches
        run on the query's own thread, outside the caller's job group."""
        out = []
        for job in self._get("/jobs"):
            sub = datetime.strptime(job["submissionTime"], "%Y-%m-%dT%H:%M:%S.%f%Z")
            if t0 <= sub.replace(tzinfo=timezone.utc).timestamp() <= t1:
                out.append(job["jobId"])
        return out

    def settle(self, job_ids: list[int], timeout: float = 10.0) -> None:
        """Wait until the UI store has every job's end event (the listener
        bus is asynchronous)."""
        deadline = time.time() + timeout
        for jid in job_ids:
            while time.time() < deadline:
                info = self._get(f"/jobs/{jid}")
                if info.get("status") != "RUNNING" and "completionTime" in info:
                    break
                time.sleep(0.02)

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = dict.fromkeys(
            ["jobs", "stages", "tasks", "scan_bytes", "scan_rows", "write_bytes", "write_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_run_s",
             "task_cpu_s", "gc_s"], 0.0)
        tot["jobs"] = float(len(job_ids))
        stage_ids = set()
        for jid in job_ids:
            stage_ids.update(self._get(f"/jobs/{jid}").get("stageIds", []))
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}?details=false"):
                if att.get("status") == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += att.get("numCompleteTasks", 0)
                tot["scan_bytes"] += att.get("inputBytes", 0)
                tot["scan_rows"] += att.get("inputRecords", 0)
                tot["write_bytes"] += att.get("outputBytes", 0)
                if att.get("outputBytes", 0):
                    tot["write_s"] += att.get("executorRunTime", 0) / 1e3
                tot["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
                tot["shuffle_read_bytes"] += att.get("shuffleReadBytes", 0)
                tot["spill_bytes"] += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
                tot["task_run_s"] += att.get("executorRunTime", 0) / 1e3
                tot["task_cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                tot["gc_s"] += att.get("jvmGcTime", 0) / 1e3
        return tot

    def sql_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Python-node and write-node metrics of the SQL executions that ran
        any of ``job_ids``."""
        tot = dict.fromkeys(
            ["python_rows", "arrow_bytes_to_python", "arrow_bytes_from_python",
             "python_task_s", "write_files"], 0.0)
        want = set(job_ids)
        if not want:
            return tot
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not jobs & want:
                continue
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if node["nodeName"] in PYTHON_NODES:
                    tot["python_rows"] += parse_metric(metrics.get("number of output rows", "0"))
                    tot["arrow_bytes_to_python"] += parse_metric(metrics.get("data sent to Python workers", "0"))
                    tot["arrow_bytes_from_python"] += parse_metric(metrics.get("data returned from Python workers", "0"))
                    tot["python_task_s"] += parse_metric(metrics.get("time to run Python workers", "0"))
                if "number of written files" in metrics:
                    tot["write_files"] += parse_metric(metrics["number of written files"])
        return tot


def plan_counts(df) -> dict[str, float]:
    """Exact node counts in a DataFrame's executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()

    def count(pattern: str) -> float:
        return float(sum(1 for line in lines if re.search(pattern, line)))

    return {
        "exchanges": count(r"[+-]?\s*(Exchange|ShuffleExchange) (hashpartitioning|rangepartitioning|RoundRobin|SinglePartition)"),
        "broadcast_joins": count(r"Broadcast(HashJoin|NestedLoopJoin)"),
        "python_nodes": count(r"\b(" + "|".join(PYTHON_NODES) + r")\b"),
        "unpartitioned_windows": count(r"\bWindow \[.*\], \[\], \["),
    }


class ProgressListener(StreamingQueryListener):
    """Collects every streaming progress event."""

    def __init__(self):
        self.progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> dict[str, float]:
        """Sum of the progress events collected since the last drain."""
        events, self.progress = self.progress, []
        tot = dict.fromkeys(
            ["batches", "trigger_s", "add_batch_s", "wal_commit_s", "planning_s",
             "state_rows", "state_commit_s"], 0.0)
        for p in events:
            d = p.durationMs or {}
            if p.numInputRows == 0 and not d.get("addBatch"):
                continue  # an idle trigger, not a micro-batch
            tot["batches"] += 1
            tot["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            tot["add_batch_s"] += d.get("addBatch", 0) / 1e3
            tot["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            tot["planning_s"] += d.get("queryPlanning", 0) / 1e3
            for s in p.stateOperators or []:
                tot["state_rows"] += s.numRowsTotal
                tot["state_commit_s"] += s.commitTimeMs / 1e3
        return tot


class Untraced:
    """Phase hooks for a timed run: no spans, the result is collected once."""

    def phase(self, name: str, layer: str):
        return contextlib.nullcontext()

    def collect(self, df, layer: str = "plans"):
        return df.toPandas()


class Traced:
    """Phase hooks for a traced op: one span and one job group per phase,
    and a collect that times a noop-sink execution apart from the fetch."""

    def __init__(self, spark, tracer: Tracer, op_id: str):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.op_id = op_id
        self.phases: list[tuple[str, str, Span]] = []  # (job group, name, span)
        self._groups: list[str] = []
        self.plan: dict[str, float] = {}
        self.fetch = dict.fromkeys(["execute_s", "fetch_s", "fetch_rows", "fetch_bytes"], 0.0)

    @contextlib.contextmanager
    def phase(self, name: str, layer: str):
        group = f"{self.op_id}/{len(self.phases)}:{name}"
        self._groups.append(group)
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, layer, self.op_id) as s:
                self.phases.append((group, name, s))
                yield s
        finally:
            self._groups.pop()
            if self._groups:
                self.sc.setJobGroup(self._groups[-1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, df, layer: str = "plans"):
        with self.phase("plans.execute", "plans") as ex:
            df.write.format("noop").mode("overwrite").save()
        with self.phase("plans.fetch", layer) as fe:
            pdf = df.toPandas()
        self.fetch["execute_s"] += ex.end - ex.start
        self.fetch["fetch_s"] += (fe.end - fe.start) - (ex.end - ex.start)
        self.fetch["fetch_rows"] += len(pdf)
        self.fetch["fetch_bytes"] += float(pdf.memory_usage(deep=True).sum())
        for k, v in plan_counts(df).items():
            self.plan[k] = self.plan.get(k, 0.0) + v
        return pdf
