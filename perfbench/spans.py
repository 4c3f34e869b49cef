"""Spans around engine calls, and Spark job/stage attribution to them.

A span records a name, its parent, and start/end wall-clock times. The
benchmark opens one span per pass and one per public engine call; a
query span has ``plan`` and ``collect`` children. Each leaf span sets the
Spark job group, so after the run every job is attributed to the span
that started it. Jobs are read from the Spark driver's monitoring REST
API once, after the timed work, never inside a span.

A disabled ``Tracer`` records nothing and costs one attribute check per
span: the untraced passes of a run use it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone

# Job groups are named ``<GROUP_PREFIX>-<span id>``.
GROUP_PREFIX = "pb"


def interval_union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals: overlapping
    parts count once, so concurrent jobs are not double-counted."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((float(s), float(e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def dir_bytes(paths) -> dict:
    """``{file path: size}`` of every file under the given directories."""
    out = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.stat(p).st_size
                except FileNotFoundError:
                    pass
    return out


def bytes_created(before: dict, after: dict) -> int:
    """Bytes of files that are new, or whose size changed, in ``after``."""
    return sum(size for p, size in after.items() if before.get(p) != size)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    bytes_written: int | None = None


class Tracer:
    """Collects spans in memory while ``enabled``. ``sc`` is the
    SparkContext whose job group each leaf span sets; with ``None`` no job
    group is set."""

    def __init__(self, enabled: bool):
        self.sc = None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, *, leaf: bool = False):
        """Record a span; yields the ``Span`` (``None`` when disabled).
        ``leaf`` spans set the Spark job group of ``self.sc``."""
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name,
                  self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        grouped = leaf and self.sc is not None
        if grouped:
            self.sc.setJobGroup(f"{GROUP_PREFIX}-{sp.sid}", name)
        self._stack.append(sp.sid)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if grouped:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str, measures: dict) -> None:
        """Writes every span with its attributed measures as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**vars(s), **measures.get(s.sid, {})}
                       for s in self.spans], f)


def _rest_time(ts: str | None) -> float | None:
    """Epoch seconds of a REST API timestamp like
    ``2026-01-01T10:00:00.123GMT``."""
    if not ts:
        return None
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def fetch_jobs_and_stages(sc) -> tuple[list, dict]:
    """All jobs and stages of the application from the monitoring REST
    API: ``(jobs, {stage id: stage})``. Each job is a dict with
    ``group``, ``start``, ``end`` and ``stage_ids``."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())

    jobs = []
    for j in get("/jobs"):
        start = _rest_time(j.get("submissionTime"))
        if start is None:
            continue
        end = _rest_time(j.get("completionTime")) or start
        jobs.append({"id": j["jobId"], "group": j.get("jobGroup"),
                     "start": start, "end": end,
                     "stage_ids": list(j.get("stageIds", []))})
    stages = {}
    for s in get("/stages?details=false"):
        if s.get("status") == "SKIPPED":
            continue
        sid = s["stageId"]
        # a retried stage appears once per attempt; keep the totals
        prev = stages.get(sid)
        cur = {
            "executor_cpu_s": s.get("executorCpuTime", 0) / 1e9,
            "gc_s": s.get("jvmGcTime", 0) / 1e3,
            "shuffle_bytes": s.get("shuffleReadBytes", 0)
            + s.get("shuffleWriteBytes", 0),
            "input_bytes": s.get("inputBytes", 0)}
        stages[sid] = cur if prev is None else {
            k: prev[k] + cur[k] for k in cur}
    return jobs, stages


STAGE_MEASURES = ("executor_cpu_s", "gc_s", "shuffle_bytes", "input_bytes")


def attribute(spans: list[Span], jobs: list, stages: dict
              ) -> dict[int, dict]:
    """Per span: ``wall_s``, ``self_s``, ``jobs``, ``job_s`` (the union
    of its jobs' intervals, clipped to the span), ``driver_gap_s``
    (``wall_s - job_s``), the stage measures of its jobs, and the
    ``bytes_written`` the span recorded. A parent span's job figures cover
    its descendants' jobs. Jobs whose group names no span (for instance
    jobs started from an engine thread that did not inherit the group)
    are attributed to the innermost leaf span whose interval holds their
    submission time."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)
    leaves = [s for s in spans if s.sid not in children]
    own: dict[int, list] = {s.sid: [] for s in spans}
    for j in jobs:
        g = j["group"] or ""
        sid = None
        if g.startswith(GROUP_PREFIX + "-"):
            try:
                sid = int(g[len(GROUP_PREFIX) + 1:])
            except ValueError:
                sid = None
        if sid not in by_id:
            sid = next((s.sid for s in leaves
                        if s.start <= j["start"] <= s.end), None)
        if sid is not None:
            own[sid].append(j)

    def subtree_jobs(sid):
        out = list(own[sid])
        for c in children.get(sid, []):
            out.extend(subtree_jobs(c))
        return out

    out = {}
    for s in spans:
        js = subtree_jobs(s.sid)
        wall = s.end - s.start
        job_s = interval_union(
            clipped([(j["start"], j["end"]) for j in js], s.start, s.end))
        kids = [by_id[c] for c in children.get(s.sid, [])]
        child_cover = interval_union(
            clipped([(c.start, c.end) for c in kids], s.start, s.end))
        m = {"wall_s": wall, "self_s": wall - child_cover,
             "jobs": len(js), "job_s": job_s,
             "driver_gap_s": wall - job_s}
        for k in STAGE_MEASURES:
            m[k] = sum(stages[st][k] for j in js for st in j["stage_ids"]
                       if st in stages)
        m["bytes_written"] = s.bytes_written or 0
        out[s.sid] = m
    return out
