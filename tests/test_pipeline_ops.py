"""Dedup / similarity / textstats / multimodal operator tests."""

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
from myaku_spark.operators.similarity import ann_topk, cosine_topk
from myaku_spark.operators.textstats import (
    detect_language,
    quality_filter,
    quality_signals,
    token_counts,
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


def test_cosine_topk_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.filter(F.col("vec_id") >= 3)
    top = cosine_topk(cand, q, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.q_id, []).append((r.rank, r.cos))
    for q_id, rows in by_q.items():
        rows.sort()
        assert len(rows) == 5
        # scores non-increasing with rank
        assert all(rows[i][1] >= rows[i + 1][1] - 1e-12 for i in range(4))


def test_ann_topk_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r.q_id, r.vec_id)
        for r in cosine_topk(cand, q, k=3).collect()
    }
    # Self-match: query vector is its own best neighbor when included.
    ann = ann_topk(
        cand.select("vec_id", "embedding").unionByName(
            q.select(
                F.col("q_id").alias("vec_id"), F.col("q_emb").alias("embedding")
            )
        ),
        q,
        k=1,
        n_planes=6,
    ).collect()
    hits = sum(1 for r in ann if r.vec_id == r.q_id and r.rank == 1)
    assert hits == 5  # identical vector shares every LSH bucket → found
    assert len(exact) == 15


def test_detect_language(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog in the park"),
        (1, "el perro y el gato en la casa de los abuelos una vez"),
        (2, "吾輩は猫である。名前はまだ無い。"),
        (3, "Это пример русского текста для проверки алгоритма."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.lang_pred for r in detect_language(df).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "ja"
    assert out[3] == "ru"


def test_quality_signals_and_filter(spark, dup_docs):
    sig = quality_signals(dup_docs)
    rows = {r.doc_id: r for r in sig.collect()}
    assert rows[0].n_tokens == 12
    assert 0 <= rows[0].punct_ratio < 0.1
    kept = quality_filter(sig, min_tokens=5).count()
    assert kept == 5


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world, it's 42 degrees!")], ["doc_id", "text"]
    )
    r = token_counts(df).collect()[0]
    assert r.n_ws_tokens == 5
    assert r.n_subword_pieces >= 7  # letters/digits/punct split


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


def test_ivf_topk_exact_when_probing_all_lists(spark, sf_dir):
    """IVF with nprobe == n_centroids degenerates to exact brute force —
    rank-identical to cosine_topk."""
    from myaku_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.filter(F.col("vec_id") >= 3)
    exact = {
        (r.q_id, r.rank): r.vec_id for r in cosine_topk(cand, q, k=5).collect()
    }
    ivf = {
        (r.q_id, r.rank): r.vec_id
        for r in ivf_topk(cand, q, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert ivf == exact


def test_ivf_topk_partial_probe_recall(spark, sf_dir):
    """nprobe < n_centroids: every result is a true candidate (subset of
    the probed lists' exact ranking) and self-matches are found when the
    query vector is in the index (its list is always probed first)."""
    from myaku_spark.operators.similarity import ivf_index, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.select("vec_id", "embedding")  # queries included
    res = ivf_topk(cand, q, k=1, n_centroids=8, nprobe=2).collect()
    hits = sum(1 for r in res if r.vec_id == r.q_id and r.rank == 1)
    assert hits == 5  # identical vector → same nearest list → probed
    # Inverted lists partition the candidate set.
    assigned, cents = ivf_index(cand, n_centroids=8)
    assert assigned.count() == cand.count()
    assert assigned.select("list_id").distinct().count() <= 8


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


def test_repetition_signals(spark):
    # Gopher repetition filters: dup-line fraction + top-2-gram fraction.
    from myaku_spark.operators.textstats import repetition_signals

    rows = [
        (1, "a b c\na b c\na b c"),
        (2, "x y z w"),
        (3, "t t t t t t"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert out[1].n_lines == 3
    assert out[1].dup_line_frac == round(2 / 3, 4)
    # tokens: a b c a b c a b c → 2-grams a b:3, b c:3, c a:2 → 3/8
    assert out[1].top_2gram_frac == round(3 / 8, 4)
    assert out[2].dup_line_frac == 0.0
    assert out[3].top_2gram_frac == 1.0  # 't t' is every 2-gram


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


def test_pii_signals_and_redaction(spark):
    from myaku_spark.operators.textstats import pii_signals, redact_pii

    rows = [
        (1, "mail me at a.b+c@example.co.uk or root@10.2.3.4 soon"),
        (2, "server 192.168.0.1 and 8.8.8.8 call 555-123-4567"),
        (3, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r.doc_id: r for r in pii_signals(df).collect()}
    # root@10.2.3.4 is NOT an email (no alpha TLD) but IS a dotted quad
    assert (sig[1].n_email, sig[1].n_ipv4, sig[1].n_phone) == (1, 1, 0)
    assert (sig[2].n_email, sig[2].n_ipv4, sig[2].n_phone) == (0, 2, 1)
    assert (sig[3].n_email, sig[3].n_ipv4, sig[3].n_phone) == (0, 0, 0)
    red = {r.doc_id: r.redacted for r in redact_pii(df).collect()}
    assert red[1] == "mail me at <PII> or root@<PII> soon"
    assert red[2] == "server <PII> and <PII> call <PII>"
    assert red[3] == rows[2][1]


def test_weighted_sample_deterministic_and_nested(spark):
    from myaku_spark.operators.textstats import weighted_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias(
            "source"
        ),
    )
    lo = {"src0": 0.2, "src1": 0.5, "src2": 0.0, "src3": 1.0}
    hi = {"src0": 0.6, "src1": 0.5, "src2": 0.0, "src3": 1.0}
    s_lo = {r.doc_id for r in weighted_sample(df, lo, salt="t").collect()}
    s_lo2 = {r.doc_id for r in weighted_sample(df, lo, salt="t").collect()}
    s_hi = {r.doc_id for r in weighted_sample(df, hi, salt="t").collect()}
    assert s_lo == s_lo2  # deterministic
    assert s_lo <= s_hi  # raising a rate only adds rows
    # rate-0 domain drops everything; rate-1 domain keeps everything
    assert not any(d % 4 == 2 for d in s_hi)
    assert sum(1 for d in s_hi if d % 4 == 3) == 500
    # empirical rates near nominal (500 draws per domain)
    n0 = sum(1 for d in s_hi if d % 4 == 0)
    assert 240 <= n0 <= 360  # 0.6 ± generous tolerance


def test_pack_sequences_invariants(spark):
    from myaku_spark.operators.packing import pack_sequences

    rows = [
        (0, 1, 120), (0, 2, 90), (0, 3, 80), (0, 4, 30), (0, 5, 300),
        (1, 6, 50), (1, 7, 50), (1, 8, 50),
    ]
    df = spark.createDataFrame(rows, ["shard", "doc_id", "n_tokens"])
    out = pack_sequences(df, 200, order="length").collect()
    by_doc = {r.doc_id: r for r in out}
    # longest-first: 300 alone (oversize), then 120+80=200, then 90+30
    assert by_doc[5].seq_id != by_doc[1].seq_id
    seqs = {}
    for r in out:
        seqs.setdefault((r.shard, r.seq_id), []).append(r.n_tokens)
    for (shard, _), lens in seqs.items():
        assert sum(lens) <= 200 or len(lens) == 1  # only oversize overflows
    # next-fit longest-first: 300 | 120 (90 won't fit after it) | 90+80+30
    assert seqs[(0, by_doc[1].seq_id)] == [120]
    assert sorted(seqs[(0, by_doc[2].seq_id)]) == [30, 80, 90]
    assert sorted(seqs[(1, by_doc[6].seq_id)]) == [50, 50, 50]
    # id order: 120,90 → (1,2) then 80,30 fills to 110 → (3,4), 300 alone
    out_id = {r.doc_id: r.seq_id for r in pack_sequences(df, 250, order="id").collect()}
    assert out_id[1] == out_id[2] and out_id[3] == out_id[4]
    assert out_id[5] not in (out_id[1], out_id[3])


def test_kmeans_matches_numpy_twin(spark):
    import numpy as np

    from myaku_spark.operators.similarity import kmeans_assign, kmeans_fit

    rng = np.random.RandomState(3)
    # three well-separated blobs in 8-d
    X = np.vstack(
        [
            rng.randn(40, 8) + np.array([10.0] * 8),
            rng.randn(40, 8) - np.array([10.0] * 8),
            rng.randn(40, 8) + np.array([10, -10] * 4, dtype=float),
        ]
    ).round(3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    k, iters = 3, 4
    cents = kmeans_fit(df, k=k, iters=iters)

    # numpy twin: identical init (lowest ids), update, tie-break rules
    C = X[:k].astype(np.float64).copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for cl in range(k):
            if (a == cl).any():
                C[cl] = X[a == cl].mean(axis=0)
    assert np.allclose(cents, C, rtol=1e-12, atol=1e-9)

    out = {r.vec_id: r.cluster for r in kmeans_assign(df, cents).collect()}
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    expected = d.argmin(axis=1)
    assert all(out[i] == expected[i] for i in range(len(X)))
    # blobs recovered: each true blob lands in one cluster
    assert len({out[i] for i in range(40)}) == 1
    assert len({out[i] for i in range(40, 80)}) == 1
    assert len({out[i] for i in range(80, 120)}) == 1


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


def test_semantic_dedup_matches_numpy_twin(spark):
    import numpy as np

    from myaku_spark.operators.similarity import kmeans_fit, semantic_dedup

    rng = np.random.RandomState(7)
    # two separated blobs + planted near-duplicates: exact copies,
    # positively-scaled copies (cosine 1, different radius), and a
    # tiny-jitter copy (cosine ~0.9999)
    base = np.vstack(
        [rng.randn(30, 8) + 10.0, rng.randn(30, 8) - 10.0]
    ).round(3)
    rows = [(i, base[i]) for i in range(len(base))]
    rows += [(1000 + i, base[i].copy()) for i in range(5)]  # exact
    rows += [(2000 + i, (base[i] * 1.5).round(3)) for i in range(5)]
    rows += [
        (3000 + i, (base[i] + rng.randn(8) * 1e-3).round(6))
        for i in range(5)
    ]
    ids = [i for i, _ in rows]
    X = np.array([v for _, v in rows], dtype=np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    k, iters, tau = 2, 3, 0.98
    cents = kmeans_fit(df, k=k, iters=iters)
    out = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup(df, cents, threshold=tau).collect()
    }
    assert set(out) == set(ids)

    # twin: numpy assignment under the fitted centroids, then the
    # same lower-id-mate rule on 4-dp-rounded cosine
    C = np.asarray(cents)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    norms = np.sqrt((X * X).sum(axis=1))
    for j, vid in enumerate(ids):
        assert out[vid][0] == a[j], vid
        dup = any(
            ids[i] < vid
            and a[i] == a[j]
            and round((X[i] @ X[j]) / (norms[i] * norms[j]), 4) >= tau
            for i in range(len(ids))
        )
        assert out[vid][1] == (not dup), vid

    # the planted twins were dropped (their lower-id source is an exact
    # or near-exact cosine match in the same cluster). NOTE: the blob
    # sources themselves may legitimately dedup against one another — a
    # randn blob centered at +10 has mutual cosine ≈ 0.99, which is the
    # regime SemDeDup targets — so "source kept" is NOT asserted.
    for i in range(5):
        assert out[1000 + i][1] is False
        assert out[3000 + i][1] is False
    # scaled copies share the cosine but sit at a different radius —
    # dropped whenever euclidean assignment kept them with their source
    for i in range(5):
        if out[2000 + i][0] == out[i][0]:
            assert out[2000 + i][1] is False
    # the lowest id in every cluster has no lower-id mate: always kept
    by_cluster: dict = {}
    for vid in ids:
        cl = out[vid][0]
        by_cluster.setdefault(cl, []).append(vid)
    for cl, members in by_cluster.items():
        assert out[min(members)][1] is True
    # and something was actually dropped (non-vacuous)
    assert any(not kept for _, kept in out.values())


def test_bigram_lm_matches_python_twin(spark):
    import math

    from myaku_spark.operators.lm import perplexity, train_bigram_lm

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, "a dog sat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    lm = train_bigram_lm(df)
    out = {r.doc_id: r for r in perplexity(df, lm, k=0.5).collect()}

    # pure-python twin
    big, ctx, voc = {}, {}, set()
    toks = {d: ["<s>"] + t.split() for d, t in docs}
    for t in toks.values():
        for w1, w2 in zip(t, t[1:]):
            big[(w1, w2)] = big.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
            voc.add(w2)
    V = len(voc)
    for d, t in toks.items():
        lps = [
            math.log((big[(w1, w2)] + 0.5) / (ctx[w1] + 0.5 * V))
            for w1, w2 in zip(t, t[1:])
        ]
        avg = sum(lps) / len(lps)
        assert out[d].n_bigrams == len(lps)
        assert abs(out[d].avg_logprob - round(avg, 3)) < 1e-9
        assert abs(out[d].ppl - round(math.exp(-avg), 3)) < 1e-9

    # unseen bigrams/contexts hit the smoothing floor (coalesce-0 path)
    new = spark.createDataFrame([(9, "zebra quark cat")], "doc_id long, text string")
    r = perplexity(new, lm, k=0.5).collect()[0]
    floor = math.log(0.5 / (0.5 * V))
    assert r.n_bigrams == 3
    # first bigram (<s>, zebra): seen context, unseen word
    exp = (math.log(0.5 / (ctx["<s>"] + 0.5 * V)) + 2 * floor) / 3
    assert abs(r.avg_logprob - round(exp, 3)) < 1e-9
    lm.release()


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


def test_cluster_sample_quota_and_subset(spark):
    from myaku_spark.operators.similarity import cluster_sample

    rows = [(i, i % 3 if i < 90 else 3) for i in range(95)]  # cluster 3 tiny
    asg = spark.createDataFrame(rows, "vec_id long, cluster long")
    out = cluster_sample(asg, quota=10, salt="t")
    by_cl = {}
    for r in out.collect():
        by_cl.setdefault(r.cluster, set()).add(r.vec_id)
    assert all(len(v) == 10 for c, v in by_cl.items() if c < 3)
    assert len(by_cl[3]) == 5  # tail cluster survives whole
    # monotone: raising the quota keeps the old sample as a subset
    big = {}
    for r in cluster_sample(asg, quota=20, salt="t").collect():
        big.setdefault(r.cluster, set()).add(r.vec_id)
    for c in by_cl:
        assert by_cl[c] <= big[c]
    # deterministic under repartitioning
    again = {(r.vec_id, r.cluster, r.pick)
             for r in cluster_sample(asg.repartition(7), quota=10, salt="t").collect()}
    assert again == {(r.vec_id, r.cluster, r.pick) for r in out.collect()}


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


def test_curation_pipeline(spark):
    from myaku_spark.plans.curate import (
        STAGES,
        curate,
        curate_flags,
        curate_metrics,
    )

    docs = [
        # doc_id, text, lang, source, n_chars
        (1, "the quick brown fox jumps over the lazy dog again today", "en", "s0", 200),
        (2, "the quick brown fox jumps over the lazy dog again today", "en", "s0", 200),  # exact dup of 1
        (3, "ein ganz anderer text auf deutsch hier", "de", "s0", 200),   # lang fails
        (4, "short english words only", "en", "s0", 50),                  # length fails
        (5, "completely different english sentence with many other words", "en", "s1", 200),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars int"
    )
    flags = curate_flags(
        df, lang="en", min_chars=100, ppl_max=1e9,
        weights={"s0": 1.0, "s1": 1.0}, default_rate=1.0,
    )
    f = {r.doc_id: r for r in flags.collect()}
    assert f[3].f_lang is False and f[4].f_len is False
    assert f[1].f_dedup is True and f[2].f_dedup is False  # first writer wins
    met = {r.stage: r.n_docs for r in curate_metrics(flags).collect()}
    assert met["input"] == 5
    assert met["lang"] == 4
    assert met["min_length"] == 3
    assert met["exact_dedup"] == 2
    assert met["domain_sample"] <= met["lm_ppl"] <= met["boilerplate"]
    # monotone funnel
    vals = [
        r.n_docs
        for r in curate_metrics(flags).orderBy("stage_idx").collect()
    ]
    assert vals == sorted(vals, reverse=True) and len(vals) == len(STAGES)
    kept = {
        r.doc_id
        for r in curate(
            df, lang="en", min_chars=100, ppl_max=1e9,
            weights={"s0": 1.0, "s1": 1.0}, default_rate=1.0,
        ).collect()
    }
    assert 2 not in kept and 3 not in kept and 4 not in kept
    assert kept <= {1, 5}


def test_fingerprint_and_repetition_short_docs(spark):
    from myaku_spark.operators.textstats import (
        repetition_signals,
        rolling_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "one two three"),
         (4, "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id long, text string",
    )
    fp = {r.doc_id for r in rolling_fingerprint(df, window=8).collect()}
    assert fp == {4}  # only the doc with >= 8 tokens fingerprints
    rep = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert set(rep) == {1, 2, 3, 4}  # no crash on 0/1-token docs
    assert rep[1].top_2gram_frac == 0.0 and rep[3].n_lines == 1


def test_pq_adc_matches_numpy_twin(spark):
    import numpy as np

    from myaku_spark.operators.similarity import pq_adc_topk

    rng = np.random.RandomState(11)
    dim, m, k_cb, iters, k = 16, 4, 4, 2, 3
    X = rng.randn(60, dim).round(3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in (0, 1)],
        "q_id long, q_emb array<double>",
    )
    out = {
        (r.q_id, r.rank): (r.vec_id, r.adc_dist)
        for r in pq_adc_topk(
            df, qdf, k=k, m=m, k_cb=k_cb, iters=iters, dim=dim
        ).collect()
    }

    # numpy twin: per-subspace Lloyd (init = lowest ids), encode, ADC
    sub = dim // m
    books = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub].astype(np.float64)
        C = Xj[:k_cb].copy()
        for _ in range(iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for cl in range(k_cb):
                if (a == cl).any():
                    C[cl] = Xj[a == cl].mean(axis=0)
        books.append(C)
    codes = np.stack(
        [
            ((X[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None]) ** 2)
            .sum(axis=2)
            .argmin(axis=1)
            for j in range(m)
        ],
        axis=1,
    )
    for qi in (0, 1):
        luts = [
            ((X[qi, j * sub : (j + 1) * sub][None, :] - books[j]) ** 2).sum(
                axis=1
            )
            for j in range(m)
        ]
        dist = np.array(
            [sum(luts[j][codes[i, j]] for j in range(m)) for i in range(len(X))]
        )
        order = sorted(range(len(X)), key=lambda i: (round(dist[i], 9), i))
        for r in range(1, k + 1):
            vid, dd = out[(qi, r)]
            assert vid == order[r - 1]
            assert abs(dd - round(dist[order[r - 1]], 3)) < 1e-9
        # the query's own vector has distance == its cell distortion,
        # and for q in the corpus its own code cell is its argmin cell
        assert out[(qi, 1)][0] == qi or dist[qi] == dist[out[(qi, 1)][0]]


def test_ann_multiprobe_recall(spark):
    import numpy as np

    from myaku_spark.operators.similarity import ann_topk, cosine_topk

    rng = np.random.RandomState(5)
    # clustered blobs: true neighbors are genuinely close, so bucket
    # agreement is informative (pure gaussian noise has no structure
    # for ANY hash family to find)
    centers = rng.randn(20, 16) * 8
    X = (centers[rng.randint(0, 20, 300)] + rng.randn(300, 16) * 0.3).round(3)
    cand = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(5)],
        "q_id long, q_emb array<double>",
    )
    exact = {
        (r.q_id, r.vec_id)
        for r in cosine_topk(cand, qs, k=10).collect()
    }

    def recall(mp):
        got = {
            (r.q_id, r.vec_id)
            for r in ann_topk(cand, qs, k=10, multiprobe=mp).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1, r2 = recall(0), recall(1), recall(2)
    assert r2 >= r1 >= r0  # larger probe radius never loses candidates
    assert r1 > 0.8  # and meaningfully recovers the exact set
    # dedup check: a candidate reachable through several probed buckets
    # must appear once per (q, vec)
    rows = ann_topk(cand, qs, k=1000, multiprobe=1).collect()
    assert len({(r.q_id, r.vec_id) for r in rows}) == len(rows)


def test_curation_funnel_randomized_twin(spark):
    """Seeded randomized corpus (dups, short docs, NULL text, mixed
    langs) — the funnel's per-stage counts must equal a pure-Python
    twin computing the same stage semantics."""
    import hashlib
    import math
    import random

    from myaku_spark.plans.curate import curate_flags, curate_metrics

    rng = random.Random(42)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    docs = []
    for i in range(80):
        kind = rng.random()
        if kind < 0.1:
            text = None
        elif kind < 0.25 and docs and docs[-1][1]:
            text = docs[-1][1]  # exact dup of the previous doc
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        lang = rng.choice(["en", "en", "en", "de"])
        src = f"s{rng.randint(0, 2)}"
        n_chars = len(text) if text else rng.randint(0, 120)
        docs.append((i, text, lang, src, n_chars))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars int"
    )
    params = dict(
        lang="en", min_chars=40, bp_k=3, bp_min_docs=4, bp_max_ratio=0.6,
        ppl_max=1e9, weights={"s0": 1.0, "s1": 0.5}, default_rate=0.0,
        salt="t",
    )
    got = {
        r.stage: r.n_docs
        for r in curate_metrics(curate_flags(df, **params)).collect()
    }

    # python twin
    def u(doc_id):
        h = hashlib.md5(f"{doc_id}:t".encode()).hexdigest()[:14]
        return int(h, 16) / float(1 << 56)

    rates = {"s0": 1.0, "s1": 0.5}
    f = {}
    prev_ok_ids = {}
    for i, text, lang, src, n_chars in docs:
        f_lang = lang == "en"
        f_len = n_chars >= 40
        if f_lang and f_len:
            prev_ok_ids.setdefault(text, []).append(i)
    # boilerplate: shingle doc-freq over full corpus
    sh_by_doc, freq = {}, {}
    for i, text, *_ in docs:
        toks = (text or "").split()
        shset = {
            " ".join(toks[j : j + 3]) for j in range(max(0, len(toks) - 2))
        } if len(toks) >= 3 else set()
        sh_by_doc[i] = shset
        for sgl in shset:
            freq[sgl] = freq.get(sgl, 0) + 1
    counts = [0] * 7
    for i, text, lang, src, n_chars in docs:
        flags = [
            lang == "en",
            n_chars >= 40,
            (lang == "en" and n_chars >= 40)
            and i == min(prev_ok_ids.get(text, [math.inf])),
            (sum(1 for sgl in sh_by_doc[i] if freq[sgl] >= 4)
             / len(sh_by_doc[i]) < 0.6) if sh_by_doc[i] else True,
            bool((text or "").split()),  # ppl_max=inf: scorable iff bigrams
            u(i) < rates.get(src, 0.0),
        ]
        counts[0] += 1
        ok = True
        for sidx, fl in enumerate(flags, start=1):
            ok = ok and fl
            counts[sidx] += 1 if ok else 0
    from myaku_spark.plans.curate import STAGES

    assert got == dict(zip(STAGES, counts)), (got, dict(zip(STAGES, counts)))


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


def test_semantic_dedup_max_cluster_guard(spark):
    # r5 verdict #3: a degenerate clustering (all vectors in one
    # cluster — here a single randn blob at +10, whose mutual cosine is
    # ~0.99 with k=1) must not go quadratic. With max_cluster=25 over
    # 200 vectors the single cluster splits into 8 xxhash64(id)
    # sub-shards; each shard keeps exactly its own lowest-id survivor
    # (every pair within a shard is a near-duplicate), so the kept set
    # equals the per-shard argmins — bounded-recall semantics by
    # construction, completion guaranteed by the ~max_cluster²/2 pair
    # cap per shard.
    import numpy as np

    from myaku_spark.operators.similarity import kmeans_fit, semantic_dedup

    rng = np.random.RandomState(11)
    X = (rng.randn(200, 8) * 0.01 + 10.0).round(3)  # one tight blob
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_fit(df, k=1, iters=1)
    max_cluster = 25
    out = semantic_dedup(
        df, cents, threshold=0.98, max_cluster=max_cluster
    ).collect()
    assert len(out) == 200
    kept = sorted(r.vec_id for r in out if r.kept)

    # twin: sub-shard = pmod(xxhash64(id), ceil(200/25)); survivor per
    # shard = its min id (all pairs in this blob clear the threshold)
    n_sub = -(-200 // max_cluster)
    shard = {
        r.vec_id: r.sub
        for r in spark.createDataFrame(
            [(i,) for i in range(200)], "vec_id long"
        )
        .select(
            "vec_id",
            F.pmod(F.xxhash64("vec_id"), F.lit(n_sub)).alias("sub"),
        )
        .collect()
    }
    want = sorted(
        min(i for i in range(200) if shard[i] == s)
        for s in set(shard.values())
    )
    assert kept == want
    assert len(kept) <= n_sub  # far below n: the dedup still bites

    # under the cap (max_cluster >= n) the guard is a no-op: one
    # survivor for the whole near-identical blob
    out2 = semantic_dedup(
        df, cents, threshold=0.98, max_cluster=10_000
    ).collect()
    assert sorted(r.vec_id for r in out2 if r.kept) == [0]


def test_gopher_quality_python_twin(spark):
    import re
    from decimal import ROUND_HALF_UP, Decimal

    def r4(x):  # Spark/DuckDB round() is half-up; Python's is banker's
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    from myaku_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        gopher_quality,
    )

    texts = {
        # passes everything: 60 plain words + stopword tail
        1: " ".join(f"word{i}" for i in range(60)) + " of the and that",
        # too short
        2: "tiny doc of the",
        # bullet-heavy: every line a bullet
        3: "\n".join(f"- item {i} of the list and more" for i in range(8)),
        # ellipsis lines + inline ellipses
        4: (" ".join(f"w{i}" for i in range(60))
            + " of the and...\nmore to come...\nfinal line..."),
        # hash spam
        5: " ".join("#" for _ in range(80)) + " of the and that",
        # numeric words kill the alpha fraction
        6: " ".join(str(i) for i in range(70)) + " of the and that",
        # NULL text
        7: None,
        # long mean word length
        8: " ".join("x" * 15 for _ in range(60)) + " of the and that",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r.asDict() for r in gopher_quality(df).collect()}

    for d, t in texts.items():
        t = t or ""
        words = [w for w in re.split(r"\s+", t) if w]
        nw = max(len(words), 1)
        lines = [l for l in t.split("\n") if l.strip()]
        nl = max(len(lines), 1)
        mwl = sum(len(w) for w in words) / nw
        alpha = sum(1 for w in words if re.search("[A-Za-z]", w)) / nw
        hashr = t.count("#") / nw
        # leftmost non-overlapping, like replace()
        ellr = (len(t) - len(t.replace("...", ""))) / 3.0 / nw
        bullet = sum(
            1 for l in lines
            if l.strip().startswith(("- ", "* ", "•"))
        ) / nl
        ell_line = sum(1 for l in lines if l.rstrip().endswith("...")) / nl
        stops = len(
            {w.lower() for w in words} & set(GOPHER_STOPWORDS)
        )
        keep = (
            50 <= len(words) <= 100_000
            and 3.0 <= mwl <= 10.0
            and hashr <= 0.1
            and ellr <= 0.1
            and bullet <= 0.9
            and ell_line <= 0.3
            and alpha >= 0.8
            and stops >= 2
        )
        g = got[d]
        assert g["n_words"] == len(words), d
        assert abs(g["mean_word_len"] - r4(mwl)) < 1e-9, d
        assert abs(g["alpha_word_frac"] - r4(alpha)) < 1e-9, d
        assert abs(g["hash_ratio"] - r4(hashr)) < 1e-9, d
        assert abs(g["ellipsis_ratio"] - r4(ellr)) < 1e-9, d
        assert abs(g["bullet_line_frac"] - r4(bullet)) < 1e-9, d
        assert abs(g["ellipsis_line_frac"] - r4(ell_line)) < 1e-9, d
        assert g["stopword_hits"] == stops, d
        assert g["kept"] == keep, d
    # the designed verdicts actually exercised both branches of each rule
    assert got[1]["kept"] is True
    for d in (2, 3, 5, 6, 7, 8):
        assert got[d]["kept"] is False, d


def test_gopher_quality_projection_only_plan(spark):
    from myaku_spark.operators.textstats import gopher_quality

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = gopher_quality(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


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


def test_chunk_documents_python_twin(spark):
    # fixed-token windows with overlap: spans cover the doc, chunk text
    # is the original char span (re-tokenizes to exactly its slice),
    # short docs = one chunk, empty/NULL emit nothing.
    import pytest as _pytest

    from myaku_spark.operators.packing import chunk_documents

    texts = {
        1: " ".join(f"w{i}" for i in range(25)),   # 25 toks
        2: " ".join(f"x{i}" for i in range(10)),   # exactly max
        3: "one two",                              # tiny
        4: "",                                     # empty → nothing
        5: None,                                   # NULL → nothing
        6: "a  b   c " + " ".join("tok%d" % i for i in range(17)),
    }
    max_tokens, overlap = 10, 3
    step = max_tokens - overlap
    got = {}
    rows = chunk_documents(
        spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        ),
        max_tokens=max_tokens,
        overlap=overlap,
    ).collect()
    for r in rows:
        got.setdefault(r.doc_id, {})[r.chunk_id] = (
            r.n_tokens, r.chunk_text
        )

    for d, t in texts.items():
        if not t:
            assert d not in got, d
            continue
        # twin: token (start, end) offsets, split on single space
        toks, off = [], 0
        for w in t.split(" "):
            if w:
                toks.append((off, off + len(w)))
            off += len(w) + 1
        n = len(toks)
        n_chunks = 1 if n <= max_tokens else -(-(n - overlap) // step)
        want = {}
        for k in range(n_chunks):
            lo, hi = k * step, min(k * step + max_tokens, n)
            want[k] = (hi - lo, t[toks[lo][0] : toks[hi - 1][1]])
        assert got[d] == want, d
        # every chunk re-tokenizes to exactly its token slice
        for k, (nt, ct) in want.items():
            assert len([w for w in ct.split(" ") if w]) == nt, (d, k)
    # consecutive chunks overlap by exactly `overlap` tokens
    assert got[1][0][1].split(" ")[step:] == got[1][1][1].split(" ")[:overlap]

    with _pytest.raises(ValueError):
        chunk_documents(
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            max_tokens=5, overlap=5,
        )
