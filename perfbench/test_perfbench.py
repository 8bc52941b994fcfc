"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import spans as tr  # noqa: E402
import stats  # noqa: E402

SMALL = corpus.CorpusSpec(n_pages=60, vocab=400)


def _pages_bytes(c: corpus.Corpus) -> bytes:
    return b"\0".join(
        p.url.encode() + p.ts.isoformat().encode() + p.html()
        for p in c.pages + c.delta
    )


# --- generator ------------------------------------------------------------------


def test_same_seed_gives_byte_identical_pages():
    assert _pages_bytes(corpus.make_corpus(7, SMALL)) == _pages_bytes(
        corpus.make_corpus(7, SMALL)
    )


def test_different_seed_gives_different_pages():
    a, b = corpus.make_corpus(7, SMALL), corpus.make_corpus(8, SMALL)
    assert _pages_bytes(a) != _pages_bytes(b)
    assert {p.text for p in a.pages}.isdisjoint({p.text for p in b.pages})


def test_duplicates_and_delta_shape():
    c = corpus.make_corpus(3, SMALL)
    assert len(c.pages) == SMALL.n_pages
    assert c.n_dups == int(SMALL.n_pages * SMALL.dup_frac)
    # every duplicate repeats an original's text under a later url
    orig = {p.text: p for p in c.originals}
    assert len(orig) == len(c.originals)
    for d in c.pages[len(c.originals):]:
        assert d.text in orig and d.ts > orig[d.text].ts
        assert d.url != orig[d.text].url
    urls = {p.url for p in c.originals}
    changed = [p for p in c.delta if p.url in urls]
    assert len(changed) == c.n_changed
    assert all(p.text not in orig for p in c.delta)


def test_html_round_trips_through_the_kakuyomu_extractor():
    from myaku_spark.functions.html_extract import extract_text

    c = corpus.make_corpus(5, SMALL)
    for p in c.pages[:10] + c.delta[:4]:
        assert extract_text(p.html(), "kakuyomu") == p.text


def test_content_words_avoid_dictionary_characters():
    c = corpus.make_corpus(5, SMALL)
    banned = corpus._dictionary_chars()
    assert not any(ch in banned for w in c.words for ch in w)


def test_serve_mix_hot_set_fits_lru_and_tail_overflows_it():
    tc = corpus.TermClasses(
        head=[f"h{i}" for i in range(10)],
        mid=[f"m{i}" for i in range(400)],
        tail=[f"t{i}" for i in range(800)],
        rare=[f"r{i}" for i in range(300)],
    )
    phrases = [[f"w{i}", "の"] for i in range(200)]
    q = corpus.queries(1, tc, phrases)
    hot = set(q["hot_terms"])
    assert len(hot) <= 256
    tail = [ts[1] for kind, _, ts in q["requests"] if kind == "head_and_tail"]
    # one request in four has a fresh tail term, outside hot set and flood
    assert len(tail) == len(q["requests"]) // 4
    assert len(tail) == len(set(tail))
    assert hot.isdisjoint(tail) and hot.isdisjoint(q["flood_terms"])
    assert set(tail).isdisjoint(q["flood_terms"])
    # the flood alone fills the LRU; the other requests repeat the hot set
    assert len(set(q["flood_terms"])) == 256
    assert {t for kind, _, ts in q["requests"] if kind != "head_and_tail"
            for t in ts} <= hot
    assert len(q["batch"]) == 128
    assert q["phrase_requests"] == q["phrase_batch"][: len(q["phrase_requests"])]
    assert corpus.queries(1, tc, phrases) == q


# --- percentile rule ------------------------------------------------------------


@pytest.mark.parametrize(
    "n,q",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
     (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


def test_percentile_is_nearest_rank_and_summary_states_n():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90.0) == 90
    assert stats.percentile(xs, 50.0) == 50
    s = stats.summarize([float(x) for x in xs])
    assert s == {"n": 100, "median": 50.5, "tail_q": 90.0, "tail": 90.0}
    assert stats.summarize([1.0, 2.0]) == {
        "n": 2, "median": 1.5, "tail_q": None, "tail": None
    }


# --- self time ------------------------------------------------------------------


def _span(i, name, parent, start, end):
    return tr.Span(i, name, parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 5.0),  # overlaps a: union 1..5
        _span(3, "c", 0, 9.0, 12.0),  # clipped to the parent: 9..10
        _span(4, "grandchild", 1, 2.0, 3.0),
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    assert tr.descendants(spans, 1) == {1, 4}


def test_tracer_nests_and_can_be_disabled():
    t = iter(range(100))
    tracer = tr.Tracer(clock=lambda: float(next(t)))
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
        tracer.enabled = False
        with tracer.span("hidden"):
            tracer.count("x")
        tracer.enabled = True
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("outer", None), ("inner", 0)
    ]
    assert tracer.counters == {}
    assert tr.self_times(tracer.spans)[0] == pytest.approx(2.0)


# --- event log ------------------------------------------------------------------


def _events():
    def job(i, t_ms, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": i,
                "Submission Time": t_ms, "Stage IDs": stages,
                "Properties": {"spark.job.description": f"j{i}"}}

    def task(stage, cpu_ns, shuffle, py=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"Name": "data sent to Python workers", "Update": py},
                    {"Name": "number of output rows", "Update": 99},
                ]},
                "Task Metrics": {"Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 10,
                                 "Memory Bytes Spilled": 0,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": shuffle}}}

    return [
        job(0, 1500, [0, 1]),
        task(0, 1e9, 100, py=7), task(1, 2e9, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Job Result": {"Result": "JobSucceeded"}},
        job(1, 2500, [1, 2]),  # stage 1 is skipped here: job 0 ran it
        task(2, 5e8, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Job Result": {"Result": "JobFailed"}},
        job(2, 9500, [3]),
    ]


def test_event_log_jobs_and_attribution(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    assert tr.find_event_log(str(tmp_path)) == str(log)
    jobs = tr.read_event_log(str(log))
    j0, j1, j2 = jobs
    assert (j0.tasks, j0.cpu_s, j0.shuffle_write_bytes, j0.python_bytes) == (
        2, pytest.approx(3.0), 100, 7
    )
    assert j0.gc_s == pytest.approx(0.02)
    assert (j1.tasks, j1.shuffle_write_bytes, j1.succeeded) == (1, 40, False)
    assert j2.tasks == 0 and j0.description == "j0"
    spans = [
        _span(0, "build", None, 1.0, 5.0),
        _span(1, "extract", 0, 1.2, 2.0),
        _span(2, "write", 0, 2.2, 4.0),
    ]
    # 1.5 s → inside extract; 2.5 s → inside write; 9.5 s → no span open
    assert tr.attribute_jobs(spans, jobs) == {0: 1, 1: 2, 2: None}
