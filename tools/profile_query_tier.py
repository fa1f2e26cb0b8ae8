"""cProfile breakdown of driver-tier query latency (guide §1: measure first).

Builds a fresh sf-scale index, then profiles N repetitions of the 50-query
set through query.search().collect(), printing cumulative hotspots. Also
times the sub-phases of one representative query by hand.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgspark_index import build, fixtures, merge, query  # noqa: E402
from pgspark_index.session import get_spark  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 1.0
    n_docs = max(1000, int(sf * 200_000))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="pgspark_profile", cores=cpus, shuffle_partitions=cpus)
    index_dir = tempfile.mkdtemp(prefix="pgspark_prof_idx_")
    try:
        parts = max(8, min(cpus * 4, n_docs // 1500))
        df = fixtures.make_webtext_df_dist(spark, n_docs, seed=42, partitions=parts)
        df.persist().count()
        build.build_index(
            spark, df, index_dir, num_units=2, partitions=parts,
            salt_target=50_000, sample_fraction=0.05,
        )
        merge.merge_index(spark, index_dir)
        queries = fixtures.make_query_set(50, seed=123)
        query.search(spark, index_dir, queries[0]["terms"], 10).collect()  # warm

        # manual sub-phase timing of one query, averaged over reps
        q = queries[0]
        terms = sorted(set(q["terms"]))
        reps = 20
        t_stats = t_lex = t_units = t_localdf = t_collect = 0.0
        for _ in range(reps):
            t0 = time.time()
            stats = merge.load_stats(index_dir)
            t_stats += time.time() - t0
            t0 = time.time()
            idfs, dfs, lparts, _ = query._term_stats(
                spark, index_dir, terms, stats["n_docs"]
            )
            t_lex += time.time() - t0
            t0 = time.time()
            up = query._unit_part_ids(lparts, terms, stats["units"])
            excluder = query._tombstone_excluder(index_dir)
            avgdl = float(stats["avgdl"])
            from pgspark_index import wand

            def unit_rows(u):
                if not up[u]:
                    return []
                pdf = query._unit_seg_pdf(index_dir, u, terms, part_ids=up[u])
                if len(pdf) == 0:
                    return []
                sc = query._sidecar(index_dir, u)
                docs, scores = wand.STRATEGIES["maxscore"](
                    query._rows_to_lists(pdf, idfs), avgdl, q["k"], sc,
                    exclude=sc.ords_of_docs(excluder(u)),
                )
                return list(zip(docs.tolist(), scores.tolist()))

            rows = [r for rs in query._map_units(stats["units"], unit_rows) for r in rs]
            t_units += time.time() - t0
            t0 = time.time()
            res = query._local_df(
                spark, query._topk_rows(rows, q["k"]), query.RESULT_SCHEMA
            )
            t_localdf += time.time() - t0
            t0 = time.time()
            res.collect()
            t_collect += time.time() - t0
        print(
            f"per-query ms over {reps} reps: stats={t_stats/reps*1e3:.1f} "
            f"lexicon={t_lex/reps*1e3:.1f} unit_score={t_units/reps*1e3:.1f} "
            f"local_df={t_localdf/reps*1e3:.1f} collect={t_collect/reps*1e3:.1f}"
        )

        # cProfile of the full 50-query pass
        pr = cProfile.Profile()
        pr.enable()
        for q in queries:
            query.search(spark, index_dir, q["terms"], q["k"]).collect()
        pr.disable()
        s = io.StringIO()
        ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
        ps.print_stats(40)
        print(s.getvalue())
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
