"""Dedup and multimodal operator tests."""

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    shingles,
    simhash,
    simhash_near_dups,
)
from myaku_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media_df,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "completely different text about spark shuffle partitions here"),
        (4, "unrelated words describing benchmark throughput measurements now"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_first_writer_wins(spark, dup_docs):
    out = exact_dedup(dup_docs).select("doc_id").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [0, 2, 3, 4]  # doc 1 removed, doc 0 kept


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    sh = shingles(dup_docs, k=3)
    sig = minhash_signatures(sh, n_hashes=16)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sig, n_hashes=16, n_bands=8).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup likely collides


def test_ngram_jaccard_values(spark, dup_docs):
    sh = shingles(dup_docs, k=3)
    j = {
        (r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(sh).collect()
    }
    assert j[(0, 1)] == 1.0
    assert 0.2 < j[(0, 2)] < 1.0
    assert (0, 3) not in j  # no shared shingles


def test_simhash_near_dups(spark, dup_docs):
    sim = simhash(dup_docs)
    vals = {r.doc_id: r.simhash for r in sim.collect()}
    assert vals[0] == vals[1]
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(sim, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0
    # near-dup has small hamming distance vs unrelated docs
    if (0, 2) in pairs:
        assert pairs[(0, 2)] <= 16


def test_multimodal_features(spark):
    media = synth_media_df(spark, 24)
    feats = extract_features(media).collect()
    assert len(feats) == 24
    for r in feats:
        assert len(r.feature) == 64
        assert r.n_bytes > 0
    # Deterministic: same media id → same feature.
    feats2 = extract_features(media).collect()
    m1 = {r.media_id: r.feature for r in feats}
    m2 = {r.media_id: r.feature for r in feats2}
    assert m1 == m2


def test_frame_sample_plan(spark):
    media = synth_media_df(spark, 12)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    vids = media.filter(F.col("kind") == "video").count()
    assert len(rows) == vids * 5  # 5000ms / 1000ms
    assert {r.frame_ts_ms for r in rows} == {0, 1000, 2000, 3000, 4000}


def test_multimodal_unknown_kind_raises(spark):
    from myaku_spark.operators.multimodal import _fake_decode

    with pytest.raises(NotImplementedError):
        _fake_decode(b"xx", "hologram")


def test_resize_images_real(spark):
    """Resize is a REAL raster transform now: image rows only, output
    payloads are valid PNGs of exactly (height, width), pixel values a
    nearest-neighbor gather of the source raster; the binary column
    chains into the feature extractor."""
    import numpy as np

    from myaku_spark.functions.imagecodec import decode_png, resize_nearest
    from myaku_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synth_image_raster,
        synth_media_df,
    )

    media = synth_media_df(spark, 12)
    resized = resize_images(media, width=16, height=8)
    rows = resized.collect()
    assert len(rows) == sum(1 for r in media.collect() if r.kind == "image")
    for r in rows:
        raster = decode_png(bytes(r.payload))
        assert raster.shape == (8, 16, 3)
        want = resize_nearest(synth_image_raster(r.media_id), 16, 8)
        assert np.array_equal(raster, want)
    # Chain: resized binary → feature extraction (same Arrow plumbing).
    chained = extract_features(
        resized.withColumn("kind", F.lit("image"))
    ).collect()
    assert all(len(r.feature) == 64 for r in chained)


def test_decontaminate(spark):
    from myaku_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over the fence"),  # shares shingles
            (2, "completely unrelated text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n_shared for r in decontaminate(corpus, bench, k=3).collect()}
    # 'quick brown fox', 'brown fox jumps', 'fox jumps over', 'jumps over the'
    assert out[1] == 4
    assert 2 not in out  # zero overlap → not emitted


def test_connected_components_clusters(spark):
    from myaku_spark.operators.dedup import connected_components

    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    pairs = spark.createDataFrame(
        [
            (2, 1), (2, 3), (4, 3),
            (10, 11), (11, 12), (10, 12),
            (21, 20),
        ],
        ["doc_a", "doc_b"],
    )
    out = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_random_vs_union_find(spark):
    import random

    from myaku_spark.operators.dedup import connected_components

    rng = random.Random(7)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expected = {x: find(x) for x in touched}

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == expected


def test_strip_common_lines_twin(spark):
    from collections import Counter

    from myaku_spark.operators.dedup import strip_common_lines

    footer = "COMMON FOOTER LINE FOR EVERY PAGE"
    docs = []
    for d in range(12):
        body = [f"unique line {d} alpha", f"unique line {d} beta"]
        if d < 8:
            body.append(footer)
        if d % 2 == 0:
            body.append("hi")  # short line: exempt even though common
        docs.append((d, "\n".join(body)))
    docs.append((99, footer))  # doc that is ONLY boilerplate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in strip_common_lines(df, min_docs=5, min_len=10).collect()
    }

    texts = dict(docs)
    freq = Counter()
    for d, t in texts.items():
        for ln in {l for l in t.split("\n") if len(l) >= 10}:
            freq[ln] += 1
    common = {l for l, c in freq.items() if c >= 5}
    assert footer in common
    for d, t in texts.items():
        lines = t.split("\n")
        kept = [l for l in lines if l not in common]
        assert out[d].text == "\n".join(kept), d
        assert out[d].n_lines == len(lines)
        assert out[d].n_removed == len(lines) - len(kept)
    # the footer was excised everywhere; short common lines survive
    assert all(footer not in out[d].text for d in texts)
    assert out[0].text.endswith("hi")
    assert out[99].text == ""


def test_boilerplate_ngrams_flags_and_threshold(spark):
    from myaku_spark.operators.dedup import boilerplate_ngrams

    boiler = "copyright acme corp"
    docs = [(i, f"{boiler} unique{i} words{i} here{i}") for i in range(5)]
    docs.append((99, "totally fresh text with no repeats at all"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_ngrams(
        df, k=3, min_docs=5, max_ratio=0.3).collect()}
    for i in range(5):
        assert out[i].n_boiler == 1  # exactly the shared shingle
        assert out[i].n_shingles == 4
        assert abs(out[i].boiler_ratio - 0.25) < 1e-9
        assert out[i].keep  # 0.25 < 0.3
    assert out[99].n_boiler == 0 and out[99].keep
    strict = {r.doc_id: r.keep for r in boilerplate_ngrams(
        df, k=3, min_docs=5, max_ratio=0.2).collect()}
    assert not strict[0] and strict[99]


def test_shingles_short_docs_and_whitespace(spark):
    from myaku_spark.operators.dedup import boilerplate_ngrams, shingles

    df = spark.createDataFrame(
        [
            (1, "one two"),            # < k tokens: no shingles
            (2, "a"),
            (3, ""),
            (4, "a\tb  c d"),          # tabs/double spaces split like \s+
            (5, "x y z"),              # exactly k
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in shingles(df, k=3).collect():
        got.setdefault(r.doc_id, set()).add(r.shingle)
    assert 1 not in got and 2 not in got and 3 not in got
    assert got[4] == {"a b c", "b c d"}
    assert got[5] == {"x y z"}
    # the curation-facing caller no longer crashes on short docs
    out = {r.doc_id: r for r in boilerplate_ngrams(df, k=3, min_docs=2).collect()}
    assert set(out) == {4, 5}


def test_ngram_jaccard_candidate_pruning_in_plan(spark, dup_docs):
    # r3 verdict #2: with a candidate set, the restriction must sit
    # BELOW the intersection aggregation — both shingle sides semi-join
    # to candidate doc ids and the pair stream semi-joins to candidate
    # pairs before the groupBy — so boilerplate-hot shingles never
    # explode over non-candidate docs.
    from myaku_spark.operators.dedup import shingles

    sh = shingles(dup_docs, k=3)
    cand = spark.createDataFrame([(0, 2)], ["doc_a", "doc_b"])
    out = ngram_jaccard(sh, candidates=cand)

    # Same values as the unrestricted computation, filtered to the pair.
    unrestricted = {
        (r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(sh).collect()
    }
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert got == {(0, 2): unrestricted[(0, 2)]}

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_at = plan.find("count(1) AS inter")
    assert agg_at != -1
    below_agg = plan[agg_at:]
    assert below_agg.count("LeftSemi") >= 3, plan  # 2 id prunes + pair prune


def test_strip_common_paragraphs_python_twin(spark):
    # CCNet paragraph dedup: normalized keys collide case/digit/punct
    # variants of the same boilerplate; originals are what get excised;
    # short normalized keys are exempt; rebuild preserves order.
    import re

    from myaku_spark.operators.dedup import strip_common_paragraphs

    boiler_a = "Sponsored Content -- visit Example.com (2024)!"
    boiler_b = "sponsored content visit EXAMPLE.COM 999"
    texts = {
        1: "first body paragraph one\n\n" + boiler_a + "\n\nunique tail x",
        2: "second body paragraph two\n\n" + boiler_b,
        3: boiler_a + "\n\nthird body, genuinely different",
        4: "no boilerplate here at all\n\nshort\n\nshort",
        5: "fifth body text\n\n" + boiler_b + "\n\nshort",
    }
    got = {
        r.doc_id: (r.text, r.n_paragraphs, r.n_removed)
        for r in strip_common_paragraphs(
            spark.createDataFrame(
                list(texts.items()), "doc_id long, text string"
            ),
            min_docs=3,
            min_len=20,
        ).collect()
    }

    def norm(p):
        c = p.lower()
        c = re.sub("[0-9]", "", c)
        c = re.sub("[!-/:-@\\[-`{-~]", "", c)
        return re.sub(r"\s+", " ", c).strip()

    from collections import Counter

    paras = {d: re.split(r"\n\s*\n", t) for d, t in texts.items()}
    df = Counter()
    for d, ps in paras.items():
        for k in {norm(p) for p in ps if len(norm(p)) >= 20}:
            df[k] += 1
    common = {k for k, n in df.items() if n >= 3}
    for d, ps in paras.items():
        kept = [p for p in ps if norm(p) not in common
                or len(norm(p)) < 20]
        removed = len(ps) - len(kept)
        assert got[d] == ("\n\n".join(kept), len(ps), removed), d
    # the variants really did collide (both excised, df == 4 >= 3)
    assert norm(boiler_a) == norm(boiler_b)
    assert got[1][2] == 1 and got[2][2] == 1 and got[3][2] == 1
    assert got[4][2] == 0  # short paragraphs exempt, nothing removed
