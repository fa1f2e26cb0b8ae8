"""Optimization-round instrumentation harness (guide §1) — NOT the frozen
bench.py. Same phases, plus:

- build phase_secs (salt plan / tokenize+docs / segments, per unit)
- query-internals breakdown for a few representative queries
  (stats+lexicon lookup vs Spark job)
- noop-sink isolation of the scoring job (guide §1.4)

Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 python bench_extra.py
Prints one JSON line per section.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pgspark_index import build, fixtures, merge, query  # noqa: E402
from pgspark_index.session import get_spark  # noqa: E402
from bench import sf_of  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)
    n_docs = max(1000, int(sf * 200_000))

    spark = get_spark(app="pgspark_bench_extra", cores=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext
    index_dir = tempfile.mkdtemp(prefix="pgspark_benchx_idx_")
    try:
        t0 = time.time()
        parts = max(8, min(cpus * 4, n_docs // 1500))
        df = fixtures.make_webtext_df_dist(spark, n_docs, seed=42, partitions=parts)
        sc.setJobDescription("datagen+persist")
        df.persist().count()
        datagen = time.time() - t0

        t0 = time.time()
        sc.setJobDescription("build")
        res = build.build_index(
            spark, df, index_dir, num_units=2, partitions=parts,
            salt_target=50_000, sample_fraction=0.05,
        )
        build_sec = time.time() - t0

        t0 = time.time()
        sc.setJobDescription("merge")
        merge.merge_index(spark, index_dir)
        merge_sec = time.time() - t0
        print(json.dumps({
            "section": "build",
            "datagen": round(datagen, 2),
            "build": round(build_sec, 2),
            "merge": round(merge_sec, 2),
            "salt_plan_sec": res.get("salt_plan_sec"),
            "phase_secs": res.get("phase_secs"),
            "parts": parts,
        }), flush=True)

        # ---- query internals: representative head/tail/conjunction ----
        queries = fixtures.make_query_set(50, seed=123)
        sc.setJobDescription("warmup query")
        query.search(spark, index_dir, queries[0]["terms"], 10).collect()

        for q in queries[:6]:
            t0 = time.time()
            stats = merge.load_stats(index_dir)
            t_stats = time.time() - t0
            t0 = time.time()
            idfs = query._term_stats(
                spark, index_dir, sorted(set(q["terms"])), stats["n_docs"]
            )[0]
            t_lex = time.time() - t0
            t0 = time.time()
            sc.setJobDescription(f"search q{q['query_id']}")
            out = query.search(spark, index_dir, q["terms"], q["k"]).collect()
            t_all = time.time() - t0
            print(json.dumps({
                "section": "query_internals",
                "qid": q["query_id"],
                "terms": q["terms"],
                "stats_ms": round(t_stats * 1e3, 1),
                "lexicon_ms": round(t_lex * 1e3, 1),
                "search_total_ms": round(t_all * 1e3, 1),
                "idf_terms": len(idfs),
                "rows": len(out),
            }), flush=True)

        # full 50-query pass (for apples-to-apples with bench.py)
        lat = []
        t_all0 = time.time()
        for q in queries:
            t0 = time.time()
            sc.setJobDescription(f"search q{q['query_id']}")
            query.search(spark, index_dir, q["terms"], q["k"]).collect()
            lat.append(time.time() - t0)
        print(json.dumps({
            "section": "queries_50",
            "sum_sec": round(sum(lat), 2),
            "p50": round(sorted(lat)[25], 3),
            "max": round(max(lat), 3),
        }), flush=True)

        t0 = time.time()
        sc.setJobDescription("batch_all_queries")
        query.search_batch(spark, index_dir, queries).collect()
        print(json.dumps({
            "section": "batch", "sec": round(time.time() - t0, 2),
        }), flush=True)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
