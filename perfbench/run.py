"""Box-local benchmark of myaku_spark: index build, incremental update,
interactive search and batch search, driven through the engine's public
entry points on seeded synthetic inputs.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

One run = one process = one Spark session (``local[nproc]``), one client
thread. Both workloads start the same way (set-up: seeded pages and
delta written to parquet without Spark, then the session).

``build`` runs one cold ``build_index`` over the delta pages during
set-up, then times whole warm builds of the pages, each into a fresh
directory, for ``--seconds`` (at least ``BUILDS``; a traced run one).

``serve`` builds the index during set-up, reads its df distribution,
draws the serve mix and fills the searcher's caches, then times whole
passes of ``PASS`` (interactive requests, a phrase request and one
128-query ``batch_search``) for ``--seconds`` (at least one pass).

Output checks run untimed after the timed part; a failed check fails
the run. Every line but the last is diagnostic; the last stdout line is
the result JSON. With ``--trace 1`` the engine's functions are wrapped
with spans (see spans.py), Spark's event log is enabled, and after its
own part each workload also runs the other's, one 128-query
``batch_phrase_search`` and one ``incremental_update`` with the delta
(new urls + changed content, so tombstones exist), so every layer
reports a measured value. The session warmup runs once at the end, and
the per-layer metrics replace the end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import box  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402
import spans as tr  # noqa: E402

WORKLOADS = ("build", "serve")
N_PAGES = 300
SPEC = corpus.CorpusSpec(n_pages=N_PAGES)
BATCH_Q = 128
K = 10
BUILD_KW = dict(n_groups=1, head_df_threshold=64, block_doc_range=64)
UPDATE_NOW = "2026-08-02 00:00:00"
# One pass of the serve window: one WAND batch, 6 WAND requests and 1
# phrase request. (The phrase batch and the incremental update cost about
# 4 s and 15 s and run only in the traced run: a run has about one
# minute in all, see README.)
PASS = ("wand_batch", "wand", "wand", "wand", "phrase", "wand", "wand", "wand")
# Timed builds per untraced ``build`` run, at least: work_s is their
# median. (About 9 s each; more would not fit the run budget, see README.)
BUILDS = 2
# Session inputs: a driver heap sized for these inputs, and the session
# warmup skipped in the measured part (it costs more than a whole run
# can spend; the traced run measures it at its end, see README).
SESSION_ENV = {"SPARK_DRIVER_MEM": "2g", "SPARK_GRAFT_NO_WARMUP": "1"}

E2E_UNITS = {
    "setup_s": "s",
    "work_s": "s",
    "index_bytes_per_text_byte": "B/B",
    "peak_rss_ex_heap_mb": "MB",
}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.work = os.path.join(
            ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}"
        )
        self.tracer = tr.Tracer()
        self.tracer.enabled = traced
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, bool] = {}
        self.samples: dict[str, list[float]] = {
            "build": [], "wand": [], "phrase": [], "wand_batch": [],
            "phrase_batch": [], "pass": [],
        }
        # latest results per op kind, for the output checks
        self.results: dict = {"wand": {}, "phrase": {}, "batch": None, "pbatch": None}
        self.updated = False
        self.info: dict = {}

    # -- bookkeeping -----------------------------------------------------

    def op(self, fn, *a, **k):
        """One attempted operation; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception:  # noqa: BLE001 — recorded and reported below
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3)[-600:])
            return None

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1

    @contextlib.contextmanager
    def untraced(self):
        """Record no spans (cache filling and output checks)."""
        prev, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = prev

    # -- set-up ----------------------------------------------------------

    def setup_inputs(self) -> None:
        self.corpus = c = corpus.make_corpus(self.seed, SPEC)
        corpus.write_parquet(c.pages, f"{self.work}/pages")
        corpus.write_parquet(c.delta, f"{self.work}/delta")
        self.info["inputs"] = {
            "pages": len(c.pages),
            "unique_pages": len(c.originals),
            "text_bytes": c.text_bytes(c.originals),
            "vocabulary": SPEC.vocab,
            "dup_share": SPEC.dup_frac,
            "delta_pages": len(c.delta),
            "delta_changed_urls": c.n_changed,
        }

    def session_conf(self) -> dict:
        conf = {
            "spark.local.dir": f"{self.work}/local",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work}/eventlog",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self) -> None:
        from myaku_spark.session import get_spark

        os.environ.update(SESSION_ENV)
        # Keep every temp file of the JVM and Python workers in the run's
        # own work dir.
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
            f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        )
        self.extra_conf = self.session_conf()
        self.parallelism = os.cpu_count() or 1
        with self.tracer.span("session"):
            self.spark = get_spark(
                "perfbench", parallelism=self.parallelism,
                extra_conf=self.extra_conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        self.heap_committed = int(rt.totalMemory())

    def warmup_probe(self) -> None:
        """Traced runs only, after everything else: a second
        ``get_spark`` call without the opt-out runs the session warmup
        on the already-warm JVM, so its jobs and failures show in the
        event log."""
        from myaku_spark.session import get_spark

        os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
        with self.tracer.span("session.warmup"):
            get_spark("perfbench", parallelism=self.parallelism,
                      extra_conf=self.extra_conf)

    # -- write path ------------------------------------------------------

    def _build_index(self, src: str, idx: str) -> list:
        from myaku_spark.plans.build_index import build_index
        from myaku_spark.sources.pages import read_pages

        spark = self.spark
        m = self.op(
            build_index, spark, read_pages(spark, f"{self.work}/{src}"),
            idx, **BUILD_KW,
        )
        if m is None:
            raise RuntimeError("build_index failed")
        return m

    def build(self, name: str = "index") -> None:
        """One ``build_index`` over the pages into ``work/name``, which
        becomes the index that later phases read."""
        idx = self.idx = f"{self.work}/{name}"
        t0 = time.perf_counter()
        with self.tracer.span("build"):
            m = self._build_index("pages", idx)
        build_s = time.perf_counter() - t0
        self.samples["build"].append(build_s)
        docs = sum(r["docs"] for r in m)
        self.index_ratio = dir_bytes(idx) / self.corpus.text_bytes(
            self.corpus.originals
        )
        self.info["build"] = {
            "docs": docs, "build_s": build_s, "docs_per_s": docs / build_s,
        }

    def warm_build(self) -> None:
        """Set-up of ``build``: one cold, untraced ``build_index`` over
        the delta pages, whose index is dropped. A build's time hardly
        depends on its page count, so the smallest input warms the JVM
        and the Python workers for the timed builds at the least cost."""
        idx = f"{self.work}/index-warm"
        t0 = time.perf_counter()
        with self.untraced():
            self._build_index("delta", idx)
        self.info["warm_build_s"] = time.perf_counter() - t0
        shutil.rmtree(idx, ignore_errors=True)

    def builds(self, seconds: float, at_least: int) -> None:
        """Timed part of ``build``: whole builds, each into a fresh
        directory, at least ``at_least`` of them and more while
        ``seconds`` lasts (same rule as ``window``)."""
        t0 = time.perf_counter()
        n = 0
        while True:
            if n:
                shutil.rmtree(self.idx, ignore_errors=True)
            self.build(f"index-{n}")
            n += 1
            elapsed = time.perf_counter() - t0
            if n >= at_least and elapsed + 0.5 * elapsed / n > seconds:
                break
        self.info["builds"] = {"s": elapsed, "each_s": self.samples["build"]}

    def update(self) -> None:
        from myaku_spark.plans.incremental import incremental_update
        from myaku_spark.sources.pages import read_pages

        spark = self.spark
        t0 = time.perf_counter()
        with self.tracer.span("incremental"):
            row = self.op(
                incremental_update, spark, self.idx,
                read_pages(spark, f"{self.work}/delta"), now=UPDATE_NOW,
            )
        if row is None:
            raise RuntimeError("incremental_update failed")
        self.updated = True
        self.info["update"] = {
            "docs": row["docs"], "update_s": time.perf_counter() - t0,
        }

    # -- read path -------------------------------------------------------

    def prepare_queries(self) -> None:
        from pyspark.sql import functions as F

        from myaku_spark.operators.search import IndexSearcher

        spark, c = self.spark, self.corpus
        with self.untraced():
            rows = (
                spark.read.parquet(f"{self.idx}/term_stats")
                .groupBy("term").agg(F.sum("df").alias("df")).collect()
            )
            n_live = len(c.originals)
            if self.updated:
                n_live += len(c.delta) - c.n_changed
            tc = corpus.classify_terms({r.term: int(r.df) for r in rows}, n_live)
            q = corpus.queries(self.seed, tc, corpus.phrase_candidates(c),
                               batch_q=BATCH_Q)
            self.queries = q
            self.searcher = s = IndexSearcher(spark, self.idx)
            # Fill the 256-term metadata LRU with tail terms, then make
            # the hot set its most recent entries. (AND: the rarest
            # cursor ends the evaluation early.)
            s.search(q["flood_terms"], k=K, combine="and")
            s.search(q["hot_terms"], k=K, combine="and")
        self.info["queries"] = {
            "term_classes": {k: len(v) for k, v in vars(tc).items()},
            "hot_terms": len(q["hot_terms"]),
            "flood_terms": len(q["flood_terms"]),
            "lru_terms": s.store.max_terms,
        }

    def _wand(self, i: int) -> None:
        reqs = self.queries["requests"]
        _, combine, terms = reqs[i % len(reqs)]
        t0 = time.perf_counter()
        with self.tracer.span("request"):
            with self.tracer.span("search"):
                res = self.searcher.search(terms, k=K, combine=combine)
            with self.tracer.span("hydrate"):
                self.searcher.hydrate(res).collect()
        self.samples["wand"].append(time.perf_counter() - t0)
        self.results["wand"][(combine, tuple(terms))] = res

    def _phrase(self, i: int) -> None:
        reqs = self.queries["phrase_requests"]
        qid, terms = reqs[i % len(reqs)]
        t0 = time.perf_counter()
        with self.tracer.span("phrase"):
            res = self.searcher.search_phrase(terms, k=K)
        self.samples["phrase"].append(time.perf_counter() - t0)
        self.results["phrase"][qid] = (terms, res)

    def _wand_batch(self, _i: int) -> None:
        from myaku_spark.operators.batch_search import batch_search

        qs = self.queries["batch"]
        t0 = time.perf_counter()
        with self.tracer.span("batch.plan"):
            df = batch_search(self.spark, self.idx, qs, k=K, combine="and")
        with self.tracer.span("batch.exec"):
            rows = df.collect()
        self.samples["wand_batch"].append(time.perf_counter() - t0)
        self.results["batch"] = (qs, rows)

    def _phrase_batch(self) -> None:
        from myaku_spark.operators.phrase import batch_phrase_search

        qs = self.queries["phrase_batch"]
        t0 = time.perf_counter()
        with self.tracer.span("phrase_batch.plan"):
            df = batch_phrase_search(self.spark, self.idx, qs, k=K)
        with self.tracer.span("phrase_batch.exec"):
            rows = df.collect()
        self.samples["phrase_batch"].append(time.perf_counter() - t0)
        self.results["pbatch"] = (qs, rows)

    def window(self, seconds: float) -> None:
        """Whole passes of PASS; another pass starts only while at least
        half a (mean) pass of ``seconds`` remains."""
        ops = {
            "wand": self._wand, "phrase": self._phrase,
            "wand_batch": self._wand_batch,
        }
        seen = {k: 0 for k in ops}
        t0 = time.perf_counter()
        passes = 0
        while True:
            p0 = time.perf_counter()
            for name in PASS:
                self.op(ops[name], seen[name])
                seen[name] += 1
            self.samples["pass"].append(time.perf_counter() - p0)
            passes += 1
            elapsed = time.perf_counter() - t0
            if elapsed + 0.5 * elapsed / passes > seconds:
                break
        self.info["window"] = {"s": elapsed, "passes": passes}

    # -- output checks ---------------------------------------------------

    def run_checks(self) -> None:
        spark, c = self.spark, self.corpus
        with self.untraced():
            docs = spark.read.parquet(f"{self.idx}/docs").select(
                "url", "text_hash", "group"
            ).collect()
        base = [r for r in docs if r.group == 0]
        delta = [r for r in docs if r.group != 0]
        want_base = {p.url: corpus.sha256(p.text) for p in c.originals}
        want_delta = (
            {p.url: corpus.sha256(p.text) for p in c.delta} if self.updated
            else {}
        )
        self.check("doc_count_equals_unique_pages", len(base) == len(want_base))
        self.check("delta_doc_count", len(delta) == len(want_delta))
        self.check(
            "text_hash_equals_generated_sha256",
            all(want_base.get(r.url) == r.text_hash for r in base)
            and all(want_delta.get(r.url) == r.text_hash for r in delta),
        )
        if self.updated:
            with self.untraced():
                tombs = spark.read.parquet(f"{self.idx}/tombstones").count()
            self.check("tombstones_equal_changed_urls", tombs == c.n_changed)
        if self.results["batch"] is not None:
            self._read_checks()

    def _read_checks(self) -> None:
        import numpy as np

        rng = np.random.default_rng([self.seed, 9])
        s = self.searcher
        with self.untraced():
            wand = list(self.results["wand"].items())
            pick = rng.permutation(len(wand))[:3]
            self.check("wand_equals_exhaustive", all(
                s.search(list(terms), k=K, combine=comb, exhaustive=True)
                == res
                for (comb, terms), res in (wand[i] for i in pick)
            ))
            qs, rows = self.results["batch"]
            by_q: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                by_q.setdefault(r.query_id, []).append(
                    (float(r.score), int(r.doc_id))
                )
            pick = rng.permutation(len(qs))[:2]
            self.check("batch_equals_per_query_search", all(
                by_q.get(qs[i][0], [])
                == [(float(a), int(b)) for a, b in
                    s.search(qs[i][1], k=K, combine="and")]
                for i in pick
            ))
            if self.results["pbatch"] is None:
                return
            _, prows = self.results["pbatch"]
            by_p: dict[str, list] = {}
            for r in sorted(prows, key=lambda r: (r.query_id, r.rank)):
                by_p.setdefault(r.query_id, []).append(
                    (int(r.doc_id), int(r.phrase_tf))
                )
            # phrase requests draw from the phrase batch's queries
            self.check("phrase_batch_equals_per_query_phrase", all(
                by_p.get(qid, []) == [(d, tf) for d, tf, _ in res]
                for qid, (_, res) in self.results["phrase"].items()
            ))


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (no checksums or
    markers)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def box_stamp(run: Run) -> dict:
    import pyspark

    jvm = run.spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": box.mem_total_kb(),
        "pyspark": pyspark.__version__,
        "jdk": jvm.getProperty("java.version"),
        "session_env": dict(SESSION_ENV),
        "parallelism": run.parallelism,
        "extra_conf": run.extra_conf,
        "heap_committed_mb": run.heap_committed / 2**20,
        "seed": run.seed,
        "workload": run.workload,
        "traced": run.traced,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import myaku_spark  # noqa: F401 — fail fast outside a full checkout

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(f"{run.work}/tmp")
    os.environ["TMPDIR"] = f"{run.work}/tmp"
    undo = tr.install(run.tracer) if run.traced else None
    canary_start = box.canary_sec()
    cpu_start = box.cpu_times()
    phases: dict[str, float] = {}

    def phase(name, fn, *a):
        t0 = time.perf_counter()
        fn(*a)
        phases[name] = time.perf_counter() - t0
        return phases[name]

    try:
        with box.PeakRss() as rss:
            setup = phase("inputs", run.setup_inputs)
            setup += phase("session", run.start_session)
            stamp = box_stamp(run)
            if run.workload == "build":
                setup += phase("warm_build", run.warm_build)
                # a traced run times one build: the others would only
                # repeat its spans
                phase("build", run.builds, 0 if run.traced else run.seconds,
                      1 if run.traced else BUILDS)
                work = statistics.median(run.samples["build"])
                if run.traced:
                    phase("update", run.update)
                    phase("queries", run.prepare_queries)
                    phase("window", run.window, 0)
            else:
                setup += phase("build", run.build)
                setup += phase("queries", run.prepare_queries)
                phase("window", run.window, run.seconds)
                work = statistics.median(run.samples["pass"])
            if run.traced:
                # before the update on serve, so the phrase requests and
                # the phrase batch see the same index
                phase("phrase_batch", lambda: run.op(run._phrase_batch))
                if not run.updated:
                    phase("update", run.update)
                phase("warmup", run.warmup_probe)
            phase("checks", run.run_checks)
            phase("shutdown", lambda: shutdown(run.spark))
            run.spark = None
        steal = box.steal_share(cpu_start, box.cpu_times())
        canary_end = box.canary_sec()
        run.info["phases_s"] = phases
        e2e = {
            "setup_s": setup,
            "work_s": work,
            "index_bytes_per_text_byte": run.index_ratio,
            "peak_rss_ex_heap_mb": (rss.peak - run.heap_committed) / 2**20,
        }
        worst = max(canary_start, canary_end)
        stamp.update({
            "canary_start_s": canary_start,
            "canary_end_s": canary_end,
            "canary_ref_s": box.CANARY_REF_SEC,
            "cpu_steal_share": steal,
            "box_load": "contended"
            if worst > box.CANARY_REF_SEC * box.CANARY_CONTENDED_RATIO
            or steal > box.STEAL_CONTENDED_SHARE
            else "exclusive",
        })
        report = {
            "box": stamp,
            "info": run.info,
            "samples": {k: stats.summarize(v) for k, v in run.samples.items()},
            "checks": run.checks,
            "errors": run.errors,
            "end_to_end": e2e,
        }
        if run.traced:
            import layers

            report["trace"] = layers.report(run, e2e)
            metrics = {
                k: {"value": v, "unit": layers.UNITS[k]}
                for k, v in report["trace"]["metrics"].items()
            }
        else:
            save_untraced(run, e2e)
            metrics = {
                k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()
            }
        print(json.dumps({"report": report}, default=str))
        correct = run.failed == 0 and all(run.checks.values())
        print(json.dumps({
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        if undo is not None:
            undo()
        if getattr(run, "spark", None) is not None:
            shutdown(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)


def shutdown(spark) -> None:
    """Stop the session, end the gateway JVM (whose exit ends the Python
    workers) and wait until this process has no child left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while box.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def save_untraced(run: Run, e2e: dict) -> None:
    """Keep the latest untraced result per workload so a traced run can
    report its overhead against it."""
    path = os.path.join(ROOT, ".perfbench", f"untraced-{run.workload}.json")
    with open(path, "w") as f:
        json.dump({"seed": run.seed, "end_to_end": e2e}, f)


if __name__ == "__main__":
    sys.exit(main())
