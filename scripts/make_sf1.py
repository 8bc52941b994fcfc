"""Synthesize an sf1 bench dataset (10x sf0.1) for the per-query suite.

The driver ships read-only parquet up to sf0.1; the round-3 ask is an
sf1 (~50k docs) bench point. This scales sf0.1 deterministically by
replication with PER-REPLICA MUTATION so the expensive operators keep
their real computational shape:

- documents: replica k shifts doc_id by k*10^7 and applies a seeded
  word-order permutation, so exact-dup semantics stay honest (straight
  copies would make every replica a content duplicate of replica 0);
- events: event_id/user_id shifts + k-second ts jitter.

Replica 0 is the untouched sf0.1 data. Usage:
    python scripts/make_sf1.py [out_dir]          # default /tmp/myaku_sf1
    SPARK_GRAFT_SF_DIR=/tmp/myaku_sf1 python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from myaku_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
ID_STRIDE = 10_000_000


def _mutate_docs(batches):
    for pdf in batches:
        out = []
        for _, r in pdf.iterrows():
            k = int(r["replica"])
            text = r["text"]
            if k > 0 and isinstance(text, str):
                words = text.split(" ")
                rng = np.random.default_rng(int(r["doc_id"]) * 31 + k)
                order = rng.permutation(len(words))
                text = " ".join(words[i] for i in order)
            out.append(
                {
                    "doc_id": int(r["doc_id"]) + k * ID_STRIDE,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text) if isinstance(text, str) else 0,
                }
            )
        yield pd.DataFrame(out)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/myaku_sf1"
    spark = get_spark("make_sf1", parallelism=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(REPLICAS - 1))
    ).alias("replica")

    docs = spark.read.parquet(f"{SRC}/documents.parquet").select("*", reps)
    docs.mapInPandas(
        _mutate_docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet").select("*", reps)
    (
        ev.select(
            (F.col("event_id") + F.col("replica") * ID_STRIDE).alias("event_id"),
            (F.col("ts") + F.make_interval(secs=F.col("replica"))).alias("ts"),
            (F.col("user_id") + F.col("replica") * ID_STRIDE).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )
    n = spark.read.parquet(f"{out_dir}/documents.parquet").count()
    print(f"sf1 dataset at {out_dir}: {n} documents")
    spark.stop()


if __name__ == "__main__":
    main()
