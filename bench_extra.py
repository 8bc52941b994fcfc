"""Supplementary benchmarks for OPTIMIZATION_r07.md (bench.py is frozen
for the driver's measurement; everything extra lives here).

Modes:

  python bench_extra.py warmrep [N]
      Every bench query run N times (default 3) inside ONE warmed
      session, noop-sink forced (guide §1.4: computes every column,
      no count-prune, no driver collect), labelled via
      setJobDescription. Prints one JSON line with per-query runs +
      min. This separates steady-state cost from the first-execution
      JIT/codegen cost that dominates the frozen single-shot bench
      (see OPTIMIZATION_r07.md "headline finding").

  python bench_extra.py tokenize
      The whitespace-tokenizer kernel A/B: current implementation vs
      the pure-Catalyst aggregate() fold it replaced, 5 runs each,
      plus an exceptAll parity check. Evidence row for change #1.

Respects $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench import BENCH_QUERIES  # noqa: E402
from myaku_spark.driver_queries import QUERIES, q_bm25_topk  # noqa: E402
from myaku_spark.session import get_spark  # noqa: E402


def noop_force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmrep(n: int) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("bench_extra_warmrep", parallelism=cpus)
    sc = spark.sparkContext
    noop_force(q_bm25_topk(spark, sf_dir))  # JVM + python-worker warmup
    runs: dict[str, list[float]] = {}
    for rep in range(n):
        for name in BENCH_QUERIES:
            sc.setJobDescription(f"{name}#r{rep}")
            t0 = time.time()
            noop_force(QUERIES[name](spark, sf_dir))
            runs.setdefault(name, []).append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
    print(
        json.dumps(
            {
                "metric": "warm_noop_query_sec",
                "sf_dir": sf_dir,
                "cpus": cpus,
                "repeats": n,
                "queries_min": {k: min(v) for k, v in runs.items()},
                "queries_runs": runs,
            }
        )
    )
    spark.stop()


def tokenize_ab() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("bench_extra_tokenize", parallelism=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    from myaku_spark.functions.tokenize import (
        explode_whitespace_tokens,
        tokenize_whitespace_col,
    )

    def mk_fold():
        return docs.select(
            "doc_id", F.explode(tokenize_whitespace_col("text")).alias("t")
        ).select(
            "doc_id",
            F.col("t.tok").alias("term"),
            F.col("t.start").alias("start"),
            F.length("t.tok").alias("len"),
        )

    a, b = explode_whitespace_tokens(docs), mk_fold()
    parity = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    out = {"metric": "tokenize_ab_sec", "sf_dir": sf_dir, "parity": parity}
    for name, mk in (("arrow", lambda: explode_whitespace_tokens(docs)),
                     ("catalyst_fold", mk_fold)):
        times = []
        for _ in range(5):
            t0 = time.time()
            noop_force(mk())
            times.append(round(time.time() - t0, 3))
        out[name] = {"runs": times, "min": min(times)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "warmrep"
    if mode == "warmrep":
        warmrep(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif mode == "tokenize":
        tokenize_ab()
    else:
        raise SystemExit(f"unknown mode: {mode}")
