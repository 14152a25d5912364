"""Per-layer tracing for the benchmark.

A span is opened around each call into a layer's entry point.  While a
span is open, every Spark job submitted from the Spark driver carries that
span's job tag (``SparkContext.addJobTag``; the innermost open span
wins), and after the op the status store's ``/jobs`` and ``/stages``
are read back, so each job — and the executor CPU and shuffle of its
stages — lands on exactly one span.

Without ``--trace 1`` no wrapper is installed at all; the status store
is still read once per op for the end-to-end CPU figure.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.parse
import urllib.request
import warnings
from contextlib import contextmanager, nullcontext
from datetime import datetime, timezone

SPAN_FIELDS = ("self_s", "jobs", "cpu_s", "shuffle_mb", "gap_s")


def no_span(_name: str):
    return nullcontext()


class Tracer:
    """Span stack plus the job tag of the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[dict] = []
        self.closed: list[dict] = []
        self.overhead_s = 0.0     # time spent in span bookkeeping
        self._n = 0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        self._n += 1
        rec = {"name": name, "tag": f"brushbench-span-{self._n}",
               "children": []}
        if self.stack:
            self.sc.removeJobTag(self.stack[-1]["tag"])
            self.stack[-1]["children"].append(rec)
        self.sc.addJobTag(rec["tag"])
        self.stack.append(rec)
        rec["t0"] = time.time()
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["t1"] = time.time()
            self.stack.pop()
            self.sc.removeJobTag(rec["tag"])
            if self.stack:
                self.sc.addJobTag(self.stack[-1]["tag"])
            self.closed.append(rec)
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, module: str, path: str, name: str) -> bool:
        """Route calls of ``module.path`` (``func`` or ``Class.method``)
        through span ``name``.  An entry point that no longer exists (the
        layer moved or was renamed) drops the span with a warning instead
        of failing the run."""
        import importlib
        try:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
        except (ImportError, AttributeError):
            fn = None
        if not callable(fn):
            warnings.warn(f"span {name!r} dropped: {module}.{path} does "
                          "not exist", stacklevel=2)
            return False
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)
        return True

    def take(self) -> list[dict]:
        out, self.closed = self.closed, []
        return out


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _minus(base: list[tuple[float, float]], cut) -> list[tuple[float, float]]:
    """``base`` intervals minus the union of ``cut``."""
    out = []
    cut = _union(list(cut))
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


class StatusStore:
    """The application's status store through the UI's REST API."""

    def __init__(self, sc):
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        # the UI binds every interface; talk to it over loopback
        self.base = (f"http://127.0.0.1:{url.port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> tuple[list[dict], list[dict]]:
        return self._get("jobs"), self._get("stages")

    def settled(self) -> tuple[list[dict], list[dict]]:
        """The listener bus feeds the store asynchronously: re-read until
        no job is running and two reads agree (bounded at ~3 s)."""
        prev = self.snapshot()
        for _ in range(25):
            time.sleep(0.12)
            cur = self.snapshot()
            if cur == prev and all(j.get("status") != "RUNNING"
                                   for j in cur[0]):
                return cur
            prev = cur
        return prev

    def last_job_id(self) -> int:
        jobs, _ = self.settled()
        return max((j["jobId"] for j in jobs), default=-1)


def op_work(jobs: list[dict], stages: list[dict], after_job: int,
            t0: float, t1: float, cores: int) -> dict:
    """Work of the jobs submitted after job id ``after_job``, and the
    engine-wide per-op figures.  Each stage counts once, under the first
    of the op's jobs that lists it (later jobs list it as skipped)."""
    mine = sorted((j for j in jobs if j["jobId"] > after_job),
                  key=lambda j: j["jobId"])
    owner: dict[int, int] = {}
    for j in mine:
        for s in j.get("stageIds", []):
            owner.setdefault(s, j["jobId"])
    per_job = {j["jobId"]: {"cpu_s": 0.0, "shuffle_mb": 0.0, "tasks": 0,
                            "failed_tasks": 0} for j in mine}
    for s in stages:
        jid = owner.get(s["stageId"])
        if jid is None:
            continue
        w = per_job[jid]
        w["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        w["shuffle_mb"] += s.get("shuffleReadBytes", 0) / 1e6
        w["tasks"] += s.get("numCompleteTasks", 0)
        w["failed_tasks"] += s.get("numFailedTasks", 0)
    for j in mine:
        per_job[j["jobId"]]["tags"] = j.get("jobTags", [])
        a = _epoch(j.get("submissionTime")) or t0
        b = _epoch(j.get("completionTime")) or t1
        per_job[j["jobId"]]["span"] = (max(a, t0), min(b, t1))
    busy = _union([w["span"] for w in per_job.values()])
    wall = t1 - t0
    cpu = sum(w["cpu_s"] for w in per_job.values())
    return {
        "per_job": per_job,
        "jobs": len(mine),
        "tasks": sum(w["tasks"] for w in per_job.values()),
        "failed_tasks": sum(w["failed_tasks"] for w in per_job.values()),
        "cpu_s": cpu,
        "shuffle_mb": sum(w["shuffle_mb"] for w in per_job.values()),
        "gap_s": wall - _length(busy),
        "cpu_util": cpu / (wall * cores) if wall > 0 else 0.0,
    }


def span_table(spans: list[dict], work: dict) -> tuple[dict, int]:
    """Per-span-name sums of (self_s, jobs, cpu_s, shuffle_mb, gap_s) over
    the op's closed spans, and the number of the op's jobs that carry no
    span tag (0 when attribution is complete)."""
    by_tag = {}
    for jid, w in work["per_job"].items():
        for t in w["tags"]:
            if t.startswith("brushbench-span-"):
                by_tag.setdefault(t, []).append(w)
    out: dict[str, dict] = {}
    attributed = 0
    for rec in spans:
        row = out.setdefault(rec["name"], dict.fromkeys(SPAN_FIELDS, 0.0))
        own = by_tag.get(rec["tag"], [])
        attributed += len(own)
        kids = [(c["t0"], c["t1"]) for c in rec["children"]]
        self_iv = _minus([(rec["t0"], rec["t1"])], kids)
        row["self_s"] += _length(self_iv)
        row["jobs"] += len(own)
        row["cpu_s"] += sum(w["cpu_s"] for w in own)
        row["shuffle_mb"] += sum(w["shuffle_mb"] for w in own)
        row["gap_s"] += _length(_minus(self_iv, [w["span"] for w in own]))
    return out, work["jobs"] - attributed
