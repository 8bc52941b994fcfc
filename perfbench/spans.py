"""In-memory spans around the engine's public functions, self-time
arithmetic, and Spark event-log job attribution.

Tracing is for the separate traced run only: ``install`` wraps the
engine's functions (module attributes, restored by the returned undo
callable) and the build wrappers force their layer's output (persist +
count) so the lazy DAG's time lands in the layer that defined it. Spans
stay in memory and are written once at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Single-client span recorder; ``enabled`` gates recording so that
    untimed phases (warm-up, output checks) leave no spans."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.enabled = True
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [vars(s) for s in self.spans],
                    "counters": self.counters,
                },
                f,
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end or c.start, s.end or s.start))
            for c in kids.get(s.id, [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span below it."""
    ids = {root}
    for s in spans:  # spans are appended parent-first
        if s.parent in ids:
            ids.add(s.id)
    return ids


# --- Spark event log ------------------------------------------------------------

PYTHON_BYTE_ACCUMULATORS = (
    "data sent to Python workers",
    "data returned from Python workers",
)


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    description: str | None
    stages: list[int]
    succeeded: bool = True
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs with their tasks' metrics summed. A stage's tasks belong to
    the first job that lists the stage (later jobs only skip it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    props.get("spark.job.description"),
                    list(ev.get("Stage IDs", [])),
                )
                jobs[j.id] = j
                for sid in j.stages:
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd":
                res = (ev.get("Job Result") or {}).get("Result")
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].succeeded = res == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
        if j is None:
            continue
        m = ev.get("Task Metrics") or {}
        j.tasks += 1
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1e3
        j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in PYTHON_BYTE_ACCUMULATORS:
                j.python_bytes += int(acc.get("Update") or 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def find_event_log(log_dir: str) -> str | None:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getmtime) if files else None


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """Job id → id of the innermost span open at the job's submission
    (the latest-started span whose interval contains it), or None."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= (s.end or s.start):
                if best is None or s.start >= best.start:
                    best = s
        out[j.id] = best.id if best is not None else None
    return out


# --- wrappers -------------------------------------------------------------------


def _patch(undo: list, obj, name: str, make):
    orig = getattr(obj, name)
    setattr(obj, name, make(orig))
    undo.append((obj, name, orig))


def install(tracer: Tracer):
    """Wrap the engine's public functions with spans; returns undo()."""
    from pyspark.sql import functions as F

    import myaku_spark.operators.search as se
    import myaku_spark.operators.wand as wa
    import myaku_spark.plans.build_index as bi
    import myaku_spark.plans.incremental as inc

    undo: list = []

    def forced(name: str, measure=None):
        """Span + persist/count of the returned DataFrame."""

        def make(orig):
            def w(*a, **k):
                if not tracer.enabled:
                    return orig(*a, **k)
                with tracer.span(name) as s:
                    df = orig(*a, **k).persist()
                    s.attrs.update(measure(a, df) if measure else {})
                    if "rows_out" not in s.attrs:
                        s.attrs["rows_out"] = df.count()
                    return df

            return w

        return make

    def spanned(name: str):
        def make(orig):
            def w(*a, **k):
                if not tracer.enabled:
                    return orig(*a, **k)
                with tracer.span(name):
                    return orig(*a, **k)

            return w

        return make

    def seg_measure(_a, df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("blob")).alias("b"),
        ).collect()[0]
        return {"rows_out": int(r.n), "bytes": int(r.b or 0)}

    _patch(undo, bi, "extract_and_dedupe", forced(
        "extract", lambda a, df: {"rows_in": a[0].count()}))
    _patch(undo, bi, "assign_doc_ids", forced("ids"))
    _patch(undo, bi, "ja_posting_rows", forced("tokenize"))
    _patch(undo, bi, "build_segments", forced("segments", seg_measure))
    _patch(undo, bi, "build_group", spanned("build_group"))
    _patch(undo, inc, "build_group", spanned("build_group"))

    def detect(orig):
        def w(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            with tracer.span("incremental.detect") as s:
                changed, tomb = orig(*a, **k)
                changed, tomb = changed.persist(), tomb.persist()
                s.attrs["changed"] = changed.count()
                s.attrs["tombstones"] = tomb.count()
                return changed, tomb

        return w

    _patch(undo, inc, "detect_changes", detect)

    Store = se.SegmentBlobStore

    def ensure_terms(orig):
        def w(self, terms):
            if not tracer.enabled:
                return orig(self, terms)
            uniq = set(terms)
            with tracer.span("store.meta") as s:
                s.attrs["requested"] = len(uniq)
                s.attrs["hits"] = sum(t in self.meta for t in uniq)
                return orig(self, terms)

        return w

    def fetching(name: str):
        """Span + the store's own fetch counters for one fetch path."""

        def make(orig):
            def w(self, *a, **k):
                if not tracer.enabled:
                    return orig(self, *a, **k)
                jobs0, bytes0 = self.fetch_jobs, self.bytes_fetched
                with tracer.span(name) as s:
                    try:
                        return orig(self, *a, **k)
                    finally:
                        s.attrs["fetch_jobs"] = self.fetch_jobs - jobs0
                        s.attrs["bytes"] = self.bytes_fetched - bytes0

            return w

        return make

    def meta_rows(orig):
        fetch = fetching("store.meta_rows")(orig)

        def w(self, terms):
            if not tracer.enabled:
                return orig(self, terms)
            uniq = set(terms)
            # blocks of the request's terms already cached when it starts
            tracer.count("store.blocks_cached", sum(
                (t, r.group, r.block_id) in self.blobs
                for t in uniq for r in self.meta.get(t, [])
            ))
            out = fetch(self, terms)
            tracer.count("store.blocks", sum(
                len(self.meta.get(t, [])) for t in uniq
            ))
            return out

        return w

    def blob(orig):
        fetch = fetching("store.fetch")(orig)

        def w(self, term, group, block_id):
            if (term, group, block_id) in self.blobs:
                return orig(self, term, group, block_id)
            return fetch(self, term, group, block_id)

        return w

    _patch(undo, Store, "ensure_terms", ensure_terms)
    _patch(undo, Store, "meta_rows", meta_rows)
    _patch(undo, Store, "blob", blob)
    _patch(undo, se, "wand_topk_and", spanned("wand"))
    _patch(undo, se, "wand_topk_or", spanned("wand"))

    def decode(orig):
        def w(*a, **k):
            tracer.count("wand.blocks_decoded")
            return orig(*a, **k)

        return w

    _patch(undo, wa, "decode_block", decode)

    def restore():
        for obj, name, orig in reversed(undo):
            setattr(obj, name, orig)

    return restore
