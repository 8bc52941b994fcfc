"""Per-layer metrics of a traced run, from its spans and Spark event log.

Build layers come from the initial ``build`` span's subtree (so their
times add up to the build), ``incremental.*`` from the update's subtree,
read layers from the window's pass, normalized per request or per batch
as their unit says, and ``session.warmup*`` from the warmup probe at the
run's end. ``spark.*`` are whole-run totals.
"""

from __future__ import annotations

import json
import os

import spans as tr

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.warmup_jobs": "count",
    "session.warmup_failed_jobs": "count",
    "extract.s": "s",
    "extract.rows_in": "rows",
    "extract.rows_out": "rows",
    "ids.s": "s",
    "tokenize.s": "s",
    "tokenize.postings": "rows",
    "tokenize.python_bytes": "B",
    "segments.s": "s",
    "segments.blocks": "count",
    "segments.bytes": "B",
    "write.s": "s",
    "incremental.detect_s": "s",
    "incremental.build_s": "s",
    "incremental.tombstones": "count",
    "store.meta_s": "s/req",
    "store.meta_jobs": "jobs/req",
    "store.meta_hit_rate": "hits/term",
    "store.fetch_s": "s/req",
    "store.fetch_jobs": "jobs/req",
    "store.bytes_fetched": "B/req",
    "store.blob_hit_rate": "hits/block",
    "wand.self_s": "s/req",
    "wand.blocks_decoded": "blocks/req",
    "hydrate.s": "s/req",
    "hydrate.jobs": "jobs/req",
    "phrase.s": "s/req",
    "phrase.jobs": "jobs/req",
    "phrase_batch.plan_s": "s/batch",
    "phrase_batch.exec_s": "s/batch",
    "phrase_batch.shuffle_bytes": "B/batch",
    "batch.plan_s": "s/batch",
    "batch.exec_s": "s/batch",
    "batch.shuffle_bytes": "B/batch",
    "batch.python_bytes": "B/batch",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
}

_LAYER = {
    "build": "write", "build_group": "write", "session.warmup": "session",
    "store.meta": "store", "store.meta_rows": "store", "store.fetch": "store",
    "batch.plan": "batch", "batch.exec": "batch",
    "phrase_batch.plan": "phrase_batch", "phrase_batch.exec": "phrase_batch",
    "request": "client",
}


def layer_of(spans: list[tr.Span], s: tr.Span) -> str:
    """Layer a span's self time belongs to (see README)."""
    cur: tr.Span | None = s
    while cur is not None:
        if cur.name.startswith("incremental"):
            return "incremental"
        cur = spans[cur.parent] if cur.parent is not None else None
    return _LAYER.get(s.name, s.name)


def compute(spans, counters, jobs) -> dict[str, float]:
    self_t = tr.self_times(spans)
    owner = tr.attribute_jobs(spans, jobs)
    by_span: dict[int, list[tr.Job]] = {}
    for j in jobs:
        if owner[j.id] is not None:
            by_span.setdefault(owner[j.id], []).append(j)

    def named(name, within=None):
        return [s for s in spans if s.name == name
                and (within is None or s.id in within)]

    def dur(name, within=None):
        return sum(s.dur for s in named(name, within))

    def jobs_of(names):
        return [j for s in spans if s.name in names
                for j in by_span.get(s.id, [])]

    def top(name):
        return next(s for s in spans if s.name == name and s.parent is None)

    m: dict[str, float] = {}
    m["session.start_s"] = dur("session")
    m["session.warmup_s"] = dur("session.warmup")
    warm = [j for j in jobs
            if (j.description or "").startswith("session warmup")]
    m["session.warmup_jobs"] = len(warm)
    m["session.warmup_failed_jobs"] = sum(not j.succeeded for j in warm)
    build = tr.descendants(spans, top("build").id)
    ex = named("extract", build)
    m["extract.s"] = sum(s.dur for s in ex)
    m["extract.rows_in"] = sum(s.attrs.get("rows_in", 0) for s in ex)
    m["extract.rows_out"] = sum(s.attrs.get("rows_out", 0) for s in ex)
    m["ids.s"] = dur("ids", build)
    m["tokenize.s"] = dur("tokenize", build)
    m["tokenize.postings"] = sum(
        s.attrs.get("rows_out", 0) for s in named("tokenize", build)
    )
    m["tokenize.python_bytes"] = sum(
        j.python_bytes for s in named("tokenize", build)
        for j in by_span.get(s.id, [])
    )
    seg = named("segments", build)
    m["segments.s"] = sum(s.dur for s in seg)
    m["segments.blocks"] = sum(s.attrs.get("rows_out", 0) for s in seg)
    m["segments.bytes"] = sum(s.attrs.get("bytes", 0) for s in seg)
    m["write.s"] = sum(
        self_t[s.id] for s in spans
        if s.id in build and s.name in ("build", "build_group")
    )
    inc = tr.descendants(spans, top("incremental").id)
    det = named("incremental.detect", inc)
    m["incremental.detect_s"] = sum(s.dur for s in det)
    m["incremental.build_s"] = dur("build_group", inc)
    m["incremental.tombstones"] = sum(s.attrs.get("tombstones", 0) for s in det)

    n_req = max(1, len(named("request")))
    meta = named("store.meta")
    req_terms = sum(s.attrs["requested"] for s in meta)
    m["store.meta_s"] = sum(s.dur for s in meta) / n_req
    m["store.meta_jobs"] = len(jobs_of({"store.meta"})) / n_req
    m["store.meta_hit_rate"] = (
        sum(s.attrs["hits"] for s in meta) / req_terms if req_terms else 0.0
    )
    fetch = named("store.fetch")
    rows = named("store.meta_rows")
    m["store.fetch_s"] = (
        sum(s.dur for s in fetch) + sum(self_t[s.id] for s in rows)
    ) / n_req
    m["store.fetch_jobs"] = (
        len(jobs_of({"store.fetch"}))
        + sum(len(by_span.get(s.id, [])) for s in rows)
    ) / n_req
    m["store.bytes_fetched"] = sum(
        s.attrs.get("bytes", 0) for s in fetch + rows
    ) / n_req
    blocks = counters.get("store.blocks", 0)
    m["store.blob_hit_rate"] = (
        counters.get("store.blocks_cached", 0) / blocks if blocks else 0.0
    )
    m["wand.self_s"] = sum(self_t[s.id] for s in named("wand")) / n_req
    m["wand.blocks_decoded"] = counters.get("wand.blocks_decoded", 0) / n_req
    m["hydrate.s"] = dur("hydrate") / n_req
    m["hydrate.jobs"] = len(jobs_of({"hydrate"})) / n_req

    n_ph = max(1, len(named("phrase")))
    m["phrase.s"] = dur("phrase") / n_ph
    m["phrase.jobs"] = len(jobs_of({"phrase"})) / n_ph
    for pre in ("phrase_batch", "batch"):
        n_b = max(1, len(named(f"{pre}.plan")))
        m[f"{pre}.plan_s"] = dur(f"{pre}.plan") / n_b
        m[f"{pre}.exec_s"] = dur(f"{pre}.exec") / n_b
        bj = jobs_of({f"{pre}.plan", f"{pre}.exec"})
        m[f"{pre}.shuffle_bytes"] = sum(j.shuffle_write_bytes for j in bj) / n_b
        if pre == "batch":
            m["batch.python_bytes"] = sum(j.python_bytes for j in bj) / n_b

    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(j.tasks for j in jobs)
    m["spark.executor_cpu_s"] = sum(j.cpu_s for j in jobs)
    m["spark.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in jobs)
    m["spark.spill_bytes"] = sum(j.spill_bytes for j in jobs)
    m["spark.gc_s"] = sum(j.gc_s for j in jobs)
    return m


def self_time_by_layer(spans) -> dict[str, float]:
    self_t = tr.self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        k = layer_of(spans, s)
        out[k] = out.get(k, 0.0) + self_t[s.id]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def _overhead(root: str, workload: str, e2e: dict) -> dict:
    """Traced ÷ untraced − 1 per end-to-end metric (all are lower-is-
    better, so positive = the traced run was worse), against the latest
    untraced run on file."""
    path = os.path.join(root, ".perfbench", f"untraced-{workload}.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload on file"}
    with open(path) as f:
        base = json.load(f)
    out = {"untraced_seed": base["seed"]}
    for k, v in base["end_to_end"].items():
        if k in e2e and v:
            out[k] = e2e[k] / v - 1.0
    return out


def report(run, e2e: dict) -> dict:
    log = tr.find_event_log(os.path.join(run.work, "eventlog"))
    jobs = tr.read_event_log(log) if log else []
    spans = run.tracer.spans
    metrics = compute(spans, run.tracer.counters, jobs)
    by_layer = self_time_by_layer(spans)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, ".perfbench")
    run.tracer.dump(
        os.path.join(out_dir, f"trace-{run.workload}-{run.seed}.json")
    )
    return {
        "metrics": metrics,
        "self_s_by_layer": by_layer,
        "top3_self_time_layers": list(by_layer)[:3],
        "failed_jobs": sum(not j.succeeded for j in jobs),
        "overhead_vs_untraced": _overhead(root, run.workload, e2e),
    }
