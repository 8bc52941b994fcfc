"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      brute-force exact top-k (the correctness baseline)
- ``rp_lsh_buckets``   random-hyperplane LSH signatures (deterministic
                       hyperplanes derived from xxhash64 — no RNG state)
- ``ann_topk``         bucketed approximate top-k: probe only candidates
                       sharing an LSH bucket with the query, exact
                       cosine within the bucket. The scale path: the
                       candidate join is bucket-partitioned instead of a
                       full cross join.

All vector math is JVM-side (zip_with + aggregate higher-order
functions); no Python in the scoring loop. At 100 TB the brute-force
path is a broadcast of the (small) query set against a full scan —
still one pass; the LSH path prunes the scan to matching buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        " cast(x as double) * cast(y as double)), 0.0d, (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.expr(
        f"sqrt(aggregate({a}, 0.0d, (acc, v) ->"
        " acc + cast(v as double) * cast(v as double)))"
    )


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (queries broadcast)."""
    joined = candidates.crossJoin(F.broadcast(queries))
    cos = _dot(vec_col, q_vec_col) / (_norm(vec_col) * _norm(q_vec_col))
    scored = joined.select(
        F.col(q_id_col).alias("q_id"),
        F.col(id_col).alias("vec_id"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.desc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_sign(vec_col: str, plane_id: int):
    """Sign of <v, h_p> where h_p[i] = ±1 derived from xxhash64(p, i).

    A deterministic Rademacher hyperplane: JVM-side, no stored planes."""
    return F.expr(
        f"""
        CASE WHEN aggregate(
          zip_with({vec_col}, sequence(0, size({vec_col}) - 1),
            (x, i) -> cast(x as double) *
              (cast((xxhash64({plane_id}L, cast(i as long)) % 2 + 2) % 2
                    as double) * 2.0d - 1.0d)),
          0.0d, (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END
        """
    )


def rp_lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: n_planes sign bits → one integer bucket."""
    bucket = F.lit(0)
    for p in range(n_planes):
        bucket = bucket * 2 + _hyperplane_sign(vec_col, p)
    return df.withColumn(out_col, bucket.cast("int"))


def ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """Approximate top-k: exact cosine among same-LSH-bucket candidates.

    Join is on the bucket (equi-join, prunable/partitionable) instead of
    a cross join — the 100 TB path. Recall is tunable via n_planes and
    ``multiprobe``: probe every bucket within Hamming distance
    ``multiprobe`` of the query's bucket (all sign-bit flip
    combinations up to that size), the standard recall/latency dial —
    probes multiply the QUERY side only (sum of C(n_planes, d) rows
    per query), never the candidate side."""
    from itertools import combinations

    cb = rp_lsh_buckets(candidates, n_planes, vec_col)
    qb = rp_lsh_buckets(queries, n_planes, q_vec_col)
    if multiprobe:
        masks = [0] + [
            sum(1 << p for p in combo)
            for d in range(1, multiprobe + 1)
            for combo in combinations(range(n_planes), d)
        ]
        flips = F.array(
            *[F.col("lsh_bucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        qb = qb.withColumn("lsh_bucket", F.explode(flips))
    joined = cb.join(F.broadcast(qb), "lsh_bucket")
    cos = _dot(vec_col, q_vec_col) / (_norm(vec_col) * _norm(q_vec_col))
    scored = joined.select(
        F.col(q_id_col).alias("q_id"),
        F.col(id_col).alias("vec_id"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.desc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_index(
    candidates: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic centroid sample (the
    n_centroids candidates with smallest xxhash64(id) — no RNG state,
    reproducible across runs) and the inverted-list assignment of every
    candidate to its nearest centroid.

    The assignment is one broadcast join against the tiny centroid set +
    a per-vector argmax window; at 100 TB it is a single map-side pass
    over the embedding table. (A k-means refinement would iterate the
    same plan; the sampled quantizer keeps the gate deterministic.)"""
    cents = (
        candidates.withColumn("_h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid")
        )
    )
    joined = candidates.crossJoin(F.broadcast(cents))
    cos = _dot(vec_col, "centroid") / (_norm(vec_col) * _norm("centroid"))
    w = Window.partitionBy(id_col).orderBy(F.desc(cos), F.desc("centroid_id"))
    assigned = (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, vec_col, F.col("centroid_id").alias("list_id"))
    )
    return assigned, cents


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest inverted lists
    per query, exact cosine within probed lists only.

    The candidate join is an EQUI-join on list_id (shuffle keyed by
    inverted list), never a cross join — the IVF scale shape. With
    nprobe == n_centroids this degenerates to exact brute force (used by
    the recall test as the identity check)."""
    assigned, cents = ivf_index(candidates, n_centroids, id_col, vec_col)
    qj = queries.crossJoin(F.broadcast(cents))
    qcos = _dot(q_vec_col, "centroid") / (_norm(q_vec_col) * _norm("centroid"))
    wq = Window.partitionBy(q_id_col).orderBy(F.desc(qcos), F.desc("centroid_id"))
    probes = (
        qj.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select(q_id_col, q_vec_col, F.col("centroid_id").alias("list_id"))
    )
    pairs = assigned.join(probes, "list_id")
    cos = _dot(vec_col, q_vec_col) / (_norm(vec_col) * _norm(q_vec_col))
    scored = pairs.select(
        F.col(q_id_col).alias("q_id"),
        F.col(id_col).alias("vec_id"),
        cos.alias("cos"),
    ).distinct()
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.desc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# --- k-means clustering -------------------------------------------------------


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Lloyd's k-means over an embedding column → (k × dim) float64
    centroids. The training-data use: cluster-based curation (diversity
    sampling, per-cluster quotas, pruning degenerate clusters).

    Scale shape: centroids broadcast each round; assignment + per-
    partition partial sums run in ONE mapInPandas pass (the map-side
    combine — each partition ships k rows of (cluster, count, sum-vec),
    never n rows), then a k×dim-sized aggregation lands on the driver
    for the update. Rounds are O(scan) with no row-level shuffle at all.
    Deterministic: init = the k lowest-id vectors; empty clusters keep
    their previous centroid; ties in the argmin break to the lowest
    cluster id.
    """
    import numpy as np

    spark = emb.sparkSession
    data = emb.select(id_col, vec_col).persist()
    init = data.orderBy(id_col).limit(k).collect()
    cents = np.array([list(r[vec_col]) for r in init], dtype=np.float64)

    def make_partials(bc):
        def partials(it):
            import pandas as pd

            C = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                rows = [
                    (int(cl), int((a == cl).sum()),
                     X[a == cl].sum(axis=0).tolist())
                    for cl in np.unique(a)
                ]
                yield pd.DataFrame(rows, columns=["cl", "n", "s"])

        return partials

    # One Spark job per Lloyd round: the per-partition partials are
    # driver-sized by construction (<= k rows x n_partitions), so a
    # single collect + numpy reduce replaces the groupBy/posexplode
    # re-aggregation (3 actions/round -> 1).
    schema = "cl int, n long, s array<double>"
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)
        rows = data.mapInPandas(make_partials(bc), schema).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in rows:
            sums[r.cl] += np.asarray(r.s, dtype=np.float64)
            counts[r.cl] += r.n
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
        bc.destroy()
    data.unpersist()
    return cents


def kmeans_assign(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster) under fixed centroids — one broadcast + one
    mapInPandas projection, no shuffle."""
    import numpy as np

    spark = emb.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    bc = spark.sparkContext.broadcast(C)

    def assign(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d = ((X[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "cluster": d.argmin(axis=1).astype("int64"),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cluster long"
    )


def cluster_sample(
    asg: DataFrame,
    quota: int,
    salt: str = "cs0",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced sampling for training-data curation: keep at
    most ``quota`` rows per cluster, chosen by a deterministic uniform
    hash (the D4/SemDeDup-style diversity step — head clusters are
    capped, tail clusters survive whole).

    The rank window partitions BY CLUSTER, so no partition exceeds the
    largest cluster; the hash draw is the same engine-independent
    md5 recipe as weighted_sample (re-runs and resumes pick the same
    sample, and raising the quota keeps the old sample as a subset
    because per-cluster hash order is stable)."""
    from pyspark.sql import Window

    from myaku_spark.operators.textstats import uniform_hash

    u = uniform_hash(F.col(id_col), salt)
    w = Window.partitionBy("cluster").orderBy(u.asc(), F.col(id_col))
    return (
        asg.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= quota)
        .select(id_col, "cluster", "pick")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid,
    then WITHIN each cluster drop any vector whose cosine similarity
    to a lower-id cluster-mate meets the threshold. The paper keeps a
    random exemplar per semantic-duplicate group; here the lowest id
    survives, so re-runs, resumes, and the relational oracle agree
    exactly.

    Returns (id, cluster, kept) for EVERY input row — callers filter
    ``kept`` to materialize the deduplicated set, or invert it to
    audit what was removed.

    Scale shape: the pairwise cosine check is confined to
    cluster-mates — a self-equi-join on the cluster id, never an
    all-pairs product. The operative knob at 100 TB is the centroid
    count: SemDeDup runs with tens of thousands of clusters, so the
    largest cluster (the join's skew bound) stays ~n/k. Cosine is a
    JVM-side zip_with/aggregate fold; the threshold compares the
    4-dp-rounded value so the boundary is engine-independent.

    The (id, cluster) assignment is persisted (two longs per row) so
    the O(n·k·dim) assignment pass runs ONCE across its four plan
    branches (the cluster-size agg, both self-join sides, and the
    output) instead of four times; callers processing huge corpora can
    unpersist after materializing the result.

    ``max_cluster`` (r5 verdict #3 — the lsh_candidate_pairs
    ``max_bucket`` analog): a degenerate clustering (tiny k, or a
    corpus of near-identical embeddings, where every vector lands in
    one cluster) would make the self-equi-join quadratic in n. Clusters
    larger than ``max_cluster`` are split into ceil(size/max_cluster)
    deterministic sub-shards by xxhash64(id), and the pairwise check
    runs within a sub-shard — bounding any shard's pair count at
    ~max_cluster²/2 however degenerate the clustering. Recall
    semantics: duplicates whose ids hash to different sub-shards of an
    oversized cluster are NOT compared (each shard keeps its own
    lowest-id survivor), the same kind of bounded-recall trade
    max_bucket makes; clusters at or under the cap are unaffected and
    exact.
    """
    asg = kmeans_assign(
        emb, centroids, id_col=id_col, vec_col=vec_col
    ).persist()
    sizes = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csize"))
    vecs = (
        emb.select(id_col, vec_col)
        .join(asg, id_col)
        .join(F.broadcast(sizes), "cluster")
        .withColumn(
            "_sub",
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.ceil(F.col("_csize") / F.lit(int(max_cluster))).cast(
                    "long"
                ),
            ),
        )
    )
    left = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        "cluster", "_sub",
    )
    right = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        "cluster", "_sub",
    )
    pairs = left.join(right, ["cluster", "_sub"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    dups = (
        pairs.filter(F.round(cos, 4) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return asg.join(dups, id_col, "left").select(
        id_col, "cluster", F.col("_dup").isNull().alias("kept")
    )


# --- Product quantization (IVF-PQ-style ADC) ---------------------------------


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace k-means codebooks: split the vector into m
    contiguous subspaces of dim/m and run the SAME deterministic Lloyd
    fit on each — the standard PQ training step, m small Lloyd loops
    whose per-round cost is one map-side pass each (kmeans_fit)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = []
    for j in range(m):
        sliced = emb.select(
            id_col, F.slice(F.col(vec_col), j * sub + 1, sub).alias(vec_col)
        )
        books.append(
            kmeans_fit(sliced, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        )
    return books


def pq_encode(
    emb: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>) — per-subspace nearest-centroid codes
    in ONE mapInPandas pass with all m codebooks broadcast (the 8-byte-
    per-vector compressed representation PQ exists for)."""
    import numpy as np

    spark = emb.sparkSession
    C = [np.asarray(b, dtype=np.float64) for b in books]
    sub = C[0].shape[1]
    bc = spark.sparkContext.broadcast(C)

    def enc(it):
        import pandas as pd

        books_v = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), len(books_v)), dtype=np.int32)
            for j, Cj in enumerate(books_v):
                Xj = X[:, j * sub : (j + 1) * sub]
                d = ((Xj[:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "codes": list(codes),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, codes array<int>"
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    k_cb: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, an m×k_cb
    lookup table of query-subvector→centroid distances; the approximate
    distance of a candidate is the sum of its codes' LUT entries.

    Scale shape: candidates are touched ONCE to encode (then only the
    codes move — 1 int per subspace instead of dim floats); scoring is
    codes posexploded ⋈ broadcast LUT (n_q × m × k_cb rows, driver-
    computed from the tiny codebooks) → one sum aggregation → per-query
    top-k window. For huge query batches you would tile the LUT join;
    the shuffle never carries raw vectors."""
    import numpy as np

    spark = emb.sparkSession
    books = pq_codebooks(emb, m, k_cb, iters, dim, id_col, vec_col)
    codes = pq_encode(emb, books, id_col, vec_col)
    sub = dim // m

    lut_rows = []
    for q in queries.select(q_id_col, q_vec_col).collect():
        qv = np.asarray(list(q[q_vec_col]), dtype=np.float64)
        for j, Cj in enumerate(books):
            d = ((qv[j * sub : (j + 1) * sub][None, :] - Cj) ** 2).sum(axis=1)
            for c in range(len(Cj)):
                lut_rows.append((int(q[q_id_col]), j, c, float(d[c])))
    lut = spark.createDataFrame(
        lut_rows, "q_id long, j int, code int, d double"
    )
    exploded = codes.select(
        id_col, F.posexplode("codes").alias("j", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["j", "code"])
        .groupBy("q_id", id_col)
        # rounded at 3dp with the identical expression shape on the
        # oracle side (centroid means are fractional, so distances are
        # floats; truncation to int would flip on last-ulp noise)
        .agg(F.round(F.sum("d"), 3).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
