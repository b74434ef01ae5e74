"""In-memory spans around calls into the package's layers, and the Spark
jobs that ran inside each span.

A traced iteration patches each layer's public functions (module
attributes, so callers that look them up at call time see the wrapper)
and restores them afterwards; the package itself is not modified.  A
span records name, layer, start, end, parent and iteration id.  After
the iteration, the Spark jobs it ran are read from the driver's status
REST API and each job is attached to the innermost span open when it
was submitted, with its stages' task metrics summed.  A lazy layer's
execution cost therefore lands in the span of the action that ran it.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Spans of one process, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        s = {"id": len(self.spans), "name": name, "layer": layer,
             "parent": self._stack[-1] if self._stack else None,
             "iteration": self.iteration, "start": time.time(),
             "end": None, "counters": {}}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, layer: str, counters=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span;
        ``counters(args, kwargs, result)`` adds counts to the span."""
        original = getattr(owner, attr)
        name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, layer) as s:
                result = original(*args, **kwargs)
                if counters is not None:
                    s["counters"].update(counters(args, kwargs, result))
                return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        lo = hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            start, end = max(c["start"], s["start"]), min(c["end"], s["end"])
            if end <= start:
                continue
            if hi is None or start > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = start, end
            else:
                hi = max(hi, end)
        if hi is not None:
            covered += hi - lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def ancestors(spans: list[dict], span_id: int | None) -> list[dict]:
    """The span ``span_id`` and every span above it, innermost first."""
    by_id = {s["id"]: s for s in spans}
    out = []
    while span_id is not None:
        out.append(by_id[span_id])
        span_id = by_id[span_id]["parent"]
    return out


# --------------------------------------------------------------------
# Spark status store (REST API of the driver's UI)
# --------------------------------------------------------------------

STAGE_SUMS = {
    # per-layer metric suffix: (StageData field, scale)
    "executor_run_ms": ("executorRunTime", 1),
    "executor_cpu_ms": ("executorCpuTime", 1e-6),
    "gc_ms": ("jvmGcTime", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
}


def _parse_ts(text: str | None) -> float | None:
    if not text:
        return None
    stamp = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Job and stage records of one application, from its UI's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs_since(self, t0: float, settle_s: float = 5.0) -> list[dict]:
        """Jobs submitted at or after ``t0`` once every one has ended,
        each with ``submitted`` (epoch s) and ``stages`` (stage records
        of its attempts that ran).  The status store is fed
        asynchronously, so poll until two reads agree."""
        deadline = time.time() + settle_s
        previous = None
        while True:
            jobs = [j for j in self._get("/jobs")
                    if (_parse_ts(j.get("submissionTime")) or 0) >= t0 - 0.002]
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and key == previous) or time.time() > deadline:
                break
            previous = key
            time.sleep(0.05)
        wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            if st["stageId"] in wanted and st["status"] != "SKIPPED":
                stages.setdefault(st["stageId"], []).append(st)
        # A later job that reuses a shuffle lists the stage again; its
        # metrics belong to the job that ran it, the first to list it.
        counted: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            j["submitted"] = _parse_ts(j["submissionTime"])
            j["stages"] = [a for sid in j.get("stageIds", [])
                           if sid not in counted for a in stages.get(sid, [])]
            counted.update(j.get("stageIds", []))
        return sorted(jobs, key=lambda j: j["jobId"])


def job_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0}
    out.update({k: 0.0 for k in STAGE_SUMS})
    for j in jobs:
        for st in j["stages"]:
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            for k, (field, scale) in STAGE_SUMS.items():
                out[k] += st.get(field, 0) * scale
    return out


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give each job a ``span`` id: the innermost span of its iteration
    whose interval (widened by the status store's 1 ms clock) holds the
    job's submission time."""
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] - 0.001 <= j["submitted"] <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        j["span"] = None if best is None else best["id"]


def outer_duration(spans: list[dict], pred) -> float:
    """Wall seconds of the spans matching ``pred`` that have no matching
    span above them (nested matches are not counted twice)."""
    return sum(s["end"] - s["start"] for s in spans if pred(s) and not any(
        pred(a) for a in ancestors(spans, s["id"])[1:]))


def jobs_under(spans: list[dict], jobs: list[dict], pred) -> list[dict]:
    """Jobs whose span, or a span above it, satisfies ``pred``."""
    return [j for j in jobs
            if any(pred(s) for s in ancestors(spans, j["span"]))]


def write_trace(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
