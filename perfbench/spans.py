"""Spans, streaming progress and Spark job records, joined per layer.

Spans are recorded by the benchmark around its own calls into the
package (name, layer, start, end, parent, pass id). In a traced run each
span also sets the Spark job group, so the status REST API of the live
UI can tie every job to the span that submitted it; jobs of a streaming
query carry the query's run id as their group instead, and are tied to
the span whose interval holds their submission. Everything is kept in
memory and joined once, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime
from urllib.parse import urlparse

LAYERS = ("sources", "operators", "algos", "streaming", "ext")

# per-layer Spark metrics, in BENCHMARK.json order
JOB_METRICS = (
    ("wall_s", "s"),
    ("driver_only_s", "s"),
    ("in_job_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("exec_run_s", "s"),
    ("exec_cpu_s", "s"),
    ("non_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("failed_tasks", "count"),
)
STREAM_METRICS = (
    ("batches", "count"),
    ("empty_batches", "count"),
    ("lifecycle_s", "s"),
    ("trigger_ms_p50", "ms"),
    ("add_batch_ms_p50", "ms"),
    ("planning_ms_p50", "ms"),
    ("offsets_ms_p50", "ms"),
    ("wal_commit_ms_p50", "ms"),
    ("state_commit_ms_p50", "ms"),
    ("state_rows", "count"),
    ("state_mem_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit)."""
    out = [("session.start_s", "s"), ("session.peak_rss_mb", "MB")]
    out += [(f"{layer}.{m}", u) for layer in LAYERS for m, u in JOB_METRICS]
    out += [(f"streaming.{m}", u) for m, u in STREAM_METRICS]
    out += [("algos.loop_rounds", "count"), ("trace.warm_pass_s", "s")]
    return out


@dataclass
class Span:
    id: int
    layer: str
    name: str
    pass_id: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def _epoch(s: str) -> float:
    """Parse a Spark REST / progress timestamp ('...GMT' or '...Z')."""
    s = s.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans; with ``traced`` also tags Spark jobs with them."""

    def __init__(self, sc, traced: bool):
        self.sc, self.traced = sc, traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = -1

    @contextmanager
    def span(self, layer: str, name: str):
        sp = Span(
            len(self.spans),
            layer,
            name,
            self.pass_id,
            self._stack[-1].id if self._stack else None,
            time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            self.sc.setJobGroup(f"span-{sp.id}", f"{layer}:{name}", False)
        try:
            yield sp
        except Exception as e:
            sp.error = f"{type(e).__name__}: {e}"
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.traced:
                if self._stack:
                    top = self._stack[-1]
                    self.sc.setJobGroup(f"span-{top.id}", f"{top.layer}:{top.name}", False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            with self._cv:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators or []
            rec = {
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_commit_ms": sum(s.commitTimeMs for s in state) if state else None,
                "state_rows": sum(s.numRowsTotal for s in state),
                "state_mem": sum(s.memoryUsedBytes for s in state),
                "dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in state),
            }
            with self._cv:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def drain(self, timeout: float = 30.0) -> None:
            """Wait until every started query's events have arrived: the
            bus delivers a query's progress before its termination."""
            with self._cv:
                self._cv.wait_for(lambda: self.terminated >= self.started, timeout)

    return Progress()


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class RestStatus:
    """Job and stage records from the live UI's status REST API."""

    def __init__(self, sc):
        u = urlparse(sc.uiWebUrl)
        self.base = f"http://localhost:{u.port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settled(self, timeout: float = 60.0) -> tuple[list[dict], dict]:
        """All jobs, and the stage attempts that ran by stage id, once no
        job runs and two reads agree (the status store is fed
        asynchronously)."""
        deadline, prev = time.time() + timeout, None
        while True:
            jobs = self._get("/jobs")
            sig = [(j["jobId"], j["status"]) for j in jobs]
            if sig == prev and all(j["status"] != "RUNNING" for j in jobs):
                break
            if time.time() > deadline:
                break
            prev = sig
            time.sleep(0.5)
        stages: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            if s["status"] in ("COMPLETE", "FAILED"):  # skipped stages ran nothing
                stages.setdefault(s["stageId"], []).append(s)
        return jobs, stages


def layer_metrics(
    spans: list[Span],
    jobs: list[dict],
    stages: dict,
    progress: list[dict],
    passes: set[int],
) -> dict[str, float]:
    """Join jobs, stages and progress events to spans; sum per layer over
    the spans of the given passes."""
    by_id = {s.id: s for s in spans}
    # innermost span holding a time point: spans are sequential per level,
    # so the latest-started span that contains it is the innermost
    layer_spans = sorted((s for s in spans if s.layer in LAYERS), key=lambda s: s.start)

    def innermost(t: float) -> Span | None:
        hit = None
        for s in layer_spans:
            if s.start > t:
                break
            if s.end >= t:
                hit = s
        return hit

    owned: dict[int, list[dict]] = {}
    for j in jobs:
        if "completionTime" not in j:
            continue
        start, end = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
        grp = j.get("jobGroup") or ""
        sp = by_id.get(int(grp[5:])) if grp.startswith("span-") else innermost(start)
        if sp is not None and sp.layer in LAYERS:
            owned.setdefault(sp.id, []).append({**j, "_s": start, "_e": end})

    out: dict[str, float] = {}
    for layer in LAYERS:
        for m, _ in JOB_METRICS:
            out[f"{layer}.{m}"] = 0.0
    # a stage runs in the first job that lists it; later jobs list it as skipped
    first_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            first_job.setdefault(sid, j["jobId"])
    for sp in spans:
        if sp.layer not in LAYERS or sp.pass_id not in passes:
            continue
        kids = _child_wall(spans, sp)
        mine = owned.get(sp.id, [])
        in_job = _union_within([(j["_s"], j["_e"]) for j in mine], sp.start, sp.end)
        L = sp.layer
        out[f"{L}.wall_s"] += sp.wall - kids
        out[f"{L}.in_job_s"] += in_job
        out[f"{L}.driver_only_s"] += sp.wall - kids - in_job
        out[f"{L}.jobs"] += len(mine)
        for j in mine:
            for sid in j["stageIds"]:
                if first_job.get(sid) != j["jobId"]:
                    continue
                for st in stages.get(sid, ()):
                    out[f"{L}.stages"] += 1
                    out[f"{L}.tasks"] += st["numTasks"]
                    out[f"{L}.failed_tasks"] += st["numFailedTasks"]
                    out[f"{L}.exec_run_s"] += st["executorRunTime"] / 1e3
                    out[f"{L}.exec_cpu_s"] += st["executorCpuTime"] / 1e9
                    out[f"{L}.gc_s"] += st["jvmGcTime"] / 1e3
                    out[f"{L}.shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                    out[f"{L}.shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                    out[f"{L}.spill_mb"] += (
                        st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    ) / 2**20
    for layer in LAYERS:
        out[f"{layer}.non_cpu_s"] = out[f"{layer}.exec_run_s"] - out[f"{layer}.exec_cpu_s"]
    out.update(stream_metrics(spans, progress, passes))
    return out


def _child_wall(spans: list[Span], sp: Span) -> float:
    return sum(c.wall for c in spans if c.parent == sp.id)


def stream_metrics(spans: list[Span], progress: list[dict], passes: set[int]) -> dict[str, float]:
    runs = [s for s in spans if s.layer == "streaming" and s.pass_id in passes]
    mine = [p for p in progress if any(s.start <= p["start"] <= s.end for s in runs)]
    trig = [p["ms"].get("triggerExecution", 0) for p in mine]

    def p50(key: str) -> float:
        return _median([p["ms"][key] for p in mine if key in p["ms"]])

    return {
        "streaming.batches": float(len(mine)),
        "streaming.empty_batches": float(sum(1 for p in mine if p["rows"] == 0)),
        "streaming.lifecycle_s": sum(s.wall - _child_wall(spans, s) for s in runs) - sum(trig) / 1e3,
        "streaming.trigger_ms_p50": _median(trig),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.offsets_ms_p50": p50("latestOffset"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.state_commit_ms_p50": _median(
            [p["state_commit_ms"] for p in mine if p["state_commit_ms"] is not None]
        ),
        "streaming.state_rows": float(max((p["state_rows"] for p in mine), default=0)),
        "streaming.state_mem_mb": max((p["state_mem"] for p in mine), default=0) / 2**20,
    }
