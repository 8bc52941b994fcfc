"""Deterministic, scalable dense doc-id assignment.

The reference uses MongoDB ObjectIds (insertion order) as the rank-key
tie-break (/root/reference/myaku/datatypes.py:134-148). Our engine
defines doc_id as the dense GLOBAL RANK under (warc_ts, url) order, so
(score DESC, doc_id DESC) is a total order consistent with the
reference's (score DESC, last_updated DESC, id DESC) contract — the
golden rank-identity tests rely on this exactly.

Scalability: no global window. ``repartitionByRange`` samples split
points and range-partitions the rows (one shuffle); partition ids are
ordered by range, so per-partition counts (≤ n_buckets rows to the
driver) give exact cumulative offsets, and a within-partition
row_number completes the global rank. The assigned ids equal the global
(warc_ts, url) rank regardless of where the sampled boundaries fall
(sort keys are unique — url is unique), so ids are deterministic even
though boundary sampling is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myaku_spark.session import local_frame


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str] | None = None,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense 0-based ids equal to the global rank under order_cols
    (default [warc_ts, url]). Two shuffles (range exchange + the
    window's hash exchange on the partition id); works identically at
    10^12 rows with n_buckets sized to the cluster.

    ``n_buckets`` defaults to 2x the cluster's default parallelism
    (capped at 256): the assigned ids are bucket-boundary-independent
    (global rank under a unique sort key), so the count only sets the
    range-exchange task width — a fixed 256 paid ~750 near-empty tasks
    across the checkpoint/count/window stages on small local runs."""
    order_cols = order_cols or ["warc_ts", "url"]
    if n_buckets is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        n_buckets = max(8, min(256, par * 2))
    order = [F.col(c) for c in order_cols]
    # MATERIALIZE the range exchange before deriving anything from it:
    # the per-bucket counts job and the final id job below must see the
    # SAME partition boundaries, but repartitionByRange samples split
    # points per execution — a cache-evicted persist or nondeterministic
    # upstream could re-sample differently between the two jobs and
    # silently mint duplicate/non-dense ids. localCheckpoint truncates
    # lineage, so recomputation is impossible: a lost block fails the
    # job loudly instead (on a multi-executor cluster use a reliable
    # checkpoint dir or a temp-table write for the same guarantee).
    rp = (
        df.repartitionByRange(n_buckets, *order)
        .localCheckpoint(eager=True)
        .withColumn("_bucket", F.spark_partition_id())
    )
    counts = {
        r._bucket: r.cnt
        for r in rp.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets = {}
    acc = 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    offs_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(int(k), int(v)) for k, v in offsets.items()],
            "_bucket int, _off long",
        )
    )
    w = Window.partitionBy("_bucket").orderBy(*order)
    return (
        rp.join(offs_df, "_bucket")
        .withColumn(
            id_col, (F.row_number().over(w) - 1 + F.col("_off")).cast("long")
        )
        .drop("_bucket", "_off")
    )
