"""Per-layer numbers taken from outside the engine.

Everything here reads what Spark exposes to any client: the UI REST API
(``/jobs``, ``/stages``, ``/sql?details=true``, ``/executors``), a
``StreamingQueryListener``, and ``/proc`` for resident memory.  Jobs are
attributed to an op by its job group, and by time window for jobs that
run under another group (a stream's micro-batches run under the stream's
own run id); both are exact because one client runs one op at a time.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import threading
import urllib.request

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL-node metrics summed per op, by the layer they belong to
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_recv",
}
SCAN_METRICS = {"scan time": "exec.scan_s", "size of files read": "exec.scan_bytes"}
# stage-level REST fields summed per op: key -> (field, scale to base units)
STAGE_METRICS = {
    "exec.tasks": ("numCompleteTasks", 1),
    "exec.task_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.deser_s": ("executorDeserializeTime", 1e-3),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "shuffle.write_s": ("shuffleWriteTime", 1e-9),
    "shuffle.spill_bytes": ("diskBytesSpilled", 1),
}
# a node is a Python-boundary node when it reports Python worker time
PYTHON_MARKER = "time to run Python workers"


def parse_metric(value: str) -> float:
    """A SQL UI metric string as a number in base units (bytes, seconds,
    rows).  Task-level metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is what is kept."""
    text = value.split("\n", 1)[1] if value.startswith("total") and "\n" in value else value
    m = _VALUE.match(text.strip())
    if not m:
        raise ValueError(f"unparsed metric value {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_time(stamp: str) -> float:
    """REST timestamp (``2026-10-17T03:06:14.332GMT``) as epoch seconds."""
    t = _dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


def interval_union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Rest:
    """Minimal client of the application's UI REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, endpoint: str):
        with urllib.request.urlopen(f"{self.base}/{endpoint}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("jobs"),
            "stages": self.get("stages"),
            "sql": self.get(
                "sql?details=true&planDescription=false&offset=0&length=1000000"
            ),
            "executors": self.get("executors"),
        }


def op_jobs(jobs: list[dict], op_id: str, t0: float, t1: float) -> list[dict]:
    """Jobs of one op: those tagged with its group, plus untagged-by-it jobs
    submitted inside its wall interval."""
    out = []
    for j in jobs:
        if j.get("jobGroup") == op_id:
            out.append(j)
        elif "submissionTime" in j and t0 <= parse_time(j["submissionTime"]) <= t1 + 1e-3:
            out.append(j)
    return out


def layer_counts(snap: dict, jobs: list[dict]) -> dict[str, float]:
    """exec / shuffle / python / scan numbers of a set of jobs; every key is
    present, so a layer the jobs did not exercise reads a measured 0."""
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    job_ids = {j["jobId"] for j in jobs}
    c: dict[str, float] = dict.fromkeys(
        ["exec.jobs", "exec.job_wall_s", *STAGE_METRICS, *SCAN_METRICS.values(),
         "python.nodes", *PYTHON_METRICS.values()],
        0.0,
    )
    c["exec.jobs"] = len(jobs)
    c["exec.job_wall_s"] = interval_union(job_intervals(jobs))
    for s in snap["stages"]:
        if s["stageId"] not in stage_ids or s.get("status") == "SKIPPED":
            continue
        for key, (field, scale) in STAGE_METRICS.items():
            c[key] += s.get(field, 0) * scale
    for e in snap["sql"]:
        if not job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", [])):
            continue
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if PYTHON_MARKER in metrics:
                c["python.nodes"] += 1
                for m, key in PYTHON_METRICS.items():
                    if m in metrics:
                        c[key] += parse_metric(metrics[m])
            if name.startswith("Scan"):
                for m, key in SCAN_METRICS.items():
                    if m in metrics:
                        c[key] += parse_metric(metrics[m])
    return c


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    """(submission, completion) of every finished job, in epoch seconds."""
    return [
        (parse_time(j["submissionTime"]), parse_time(j["completionTime"]))
        for j in jobs if "completionTime" in j
    ]


def span_cover(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Share of ``[t0, t1]`` that the union of ``spans`` covers, each span
    clipped to the interval."""
    clipped = [(max(a, t0), min(b, t1)) for a, b in spans if min(b, t1) > max(a, t0)]
    return interval_union(clipped) / (t1 - t0) if t1 > t0 else 1.0


def jvm_heap_peak_bytes(snap: dict) -> float:
    return float(max(
        (e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0) for e in snap["executors"]),
        default=0,
    ))


def job_spans(jobs: list[dict], snap: dict, parent_of) -> list[dict]:
    """Job -> stage spans from REST timestamps; ``parent_of(submit_time)``
    names the span each job hangs under."""
    stages = {(s["stageId"], s["attemptId"]): s for s in snap["stages"]}
    spans = []
    for j in jobs:
        if "completionTime" not in j:
            continue
        start = parse_time(j["submissionTime"])
        parent = parent_of(start)
        jid = f"{parent}/job{j['jobId']}"
        spans.append({"id": jid, "parent": parent, "name": f"job {j['jobId']}",
                      "start": start, "end": parse_time(j["completionTime"])})
        for (sid, att), s in stages.items():
            if sid in j.get("stageIds", []) and "completionTime" in s and "submissionTime" in s:
                spans.append({"id": f"{jid}/stage{sid}.{att}", "parent": jid,
                              "name": f"stage {sid}.{att}",
                              "start": parse_time(s["submissionTime"]),
                              "end": parse_time(s["completionTime"])})
    return spans


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(d))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            txt = fh.read()
    except OSError:
        return 0, ""
    name = re.search(r"^Name:\s*(\S+)", txt, re.M)
    rss = re.search(r"^VmRSS:\s*(\d+)", txt, re.M)
    return (int(rss.group(1)) * 1024 if rss else 0), (name.group(1) if name else "")


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and the
    Python workers it forks), sampled from ``/proc`` on a thread."""

    INTERVAL_S = 0.05

    def __init__(self) -> None:
        self.peak_total = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = python = 0
        for pid in descendants(os.getpid()):
            rss, name = _rss(pid)
            total += rss
            if name.startswith("python"):
                python += rss
        self.peak_total = max(self.peak_total, total)
        self.peak_python = max(self.peak_python, python)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def stream_listener(spark, sink: list[dict]):
    """Register a ``StreamingQueryListener`` that appends every progress
    event's trigger start time, ``durationMs`` and state-row count to
    ``sink`` (events arrive asynchronously, so they are placed by the
    trigger's own timestamp, not by arrival)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append({
                "t": start.timestamp(),
                "rows": p.numInputRows,
                "durationMs": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators or []),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def stream_counts(progress: list[dict], t0: float, t1: float) -> dict[str, float]:
    """streaming.* numbers of the progress events reported inside [t0, t1]."""
    ev = [p for p in progress if t0 <= p["t"] <= t1]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in ev)  # noqa: E731
    return {
        "streaming.batches": float(len(ev)),
        "streaming.trigger_ms": float(dur("triggerExecution")),
        "streaming.add_batch_ms": float(dur("addBatch")),
        "streaming.planning_ms": float(dur("queryPlanning")),
        "streaming.wal_ms": float(dur("walCommit") + dur("commitOffsets")),
        "streaming.state_rows": float(sum(p["state_rows"] for p in ev)),
    }
