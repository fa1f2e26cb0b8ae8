"""Round-6 optimization internals: the driver-result DataFrame wrapper,
the in-memory lexicon dictionary, and the bytes-adaptive partials width.

These pin the MECHANISMS the optimizations introduced; end-to-end result
parity is pinned by test_driver_tier.py and the oracle gate.
"""

import pandas as pd
import pytest

from pgspark_index import build, merge, query


DOCS = [
    "alpha beta gamma delta alpha",
    "beta beta gamma",
    "alpha epsilon zeta eta theta",
    "gamma delta delta",
    "alpha beta alpha beta gamma delta",
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r06i") / "idx")
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    build.build_index(
        spark, build.docs_unit_provider(docs), d, num_units=1, partitions=2
    )
    merge.merge_index(spark, d)
    return d


# ---- _DriverLocalDataFrame -------------------------------------------------


def test_wrapper_collect_matches_jvm_plan(spark):
    rows = [(7, 1.5), (3, 0.25), (11, 2.0)]
    df = query._local_df(spark, rows, query.RESULT_SCHEMA)
    got = df.collect()
    # fast path: typed Rows, declared order, fresh list per call
    assert [tuple(r) for r in got] == rows
    assert got is not df.collect()
    assert type(got[0]).__mro__[1] is tuple and got[0].doc_id == 7
    assert isinstance(got[0][0], int) and isinstance(got[0][1], float)
    # lazy JVM plan over the SAME rows: toPandas/count/schema agree
    pdf = df.toPandas()
    assert [tuple(r) for r in pdf.itertuples(index=False)] == rows
    assert df.count() == 3
    assert df.schema.simpleString() == "struct<doc_id:bigint,score:double>"


def test_wrapper_empty_path_no_job_plan(spark):
    df = query._local_df(spark, [], query.RESULT_SCHEMA)
    assert df.collect() == []
    assert df.count() == 0
    # the cached empty plan is a LocalRelation, not an RDD scan (an RDD
    # scan schedules a Spark job per collect — the ~0.3 s regression §11
    # removed)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    assert "ExistingRDD" not in buf.getvalue()
    # per-schema cache reuses one plan
    assert (
        query._local_df(spark, [], query.RESULT_SCHEMA)._jdf is df._jdf
    )


def test_wrapper_is_dataframe_and_composable(spark):
    from pyspark.sql import DataFrame, functions as F

    df = query._local_df(spark, [(1, 2.0), (2, 1.0)], query.RESULT_SCHEMA)
    assert isinstance(df, DataFrame)
    out = df.filter(F.col("score") > 1.5).collect()
    assert [tuple(r) for r in out] == [(1, 2.0)]


# ---- in-memory lexicon dictionary ------------------------------------------


def test_lexicon_mem_cache_matches_filtered_read(spark, idx, monkeypatch):
    stats = merge.load_stats(idx)
    terms = ["alpha", "beta", "zz_missing"]
    # byte gate large -> in-memory dictionary path
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    query._LEX_MEM_CACHE.clear()
    query._LEX_MEM_TOO_BIG.clear()
    mem = query._term_stats(spark, idx, terms, stats["n_docs"])
    assert query._LEX_MEM_CACHE  # the dictionary actually loaded
    # byte gate below the file size -> filtered pyarrow read path
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "1")
    query._LEX_MEM_CACHE.clear()
    query._LEX_MEM_TOO_BIG.clear()
    fallback = query._term_stats(spark, idx, terms, stats["n_docs"])
    assert not query._LEX_MEM_CACHE
    assert mem == fallback  # bit-identical idf/df/entry pointers
    assert "zz_missing" not in mem[0]
    query._LEX_MEM_TOO_BIG.clear()


# ---- bytes-adaptive partials width -----------------------------------------


def test_seg_shuffle_width_derivation():
    w = build._seg_shuffle_width
    parts = 128
    # no estimate (direct build_unit callers, tiny local sources): full width
    assert w(None, parts) == parts
    assert w(0, parts) == parts
    # small unit: floor of 1
    assert w(10, parts) == 1
    # scales with bytes: est * 8 B / 4 MB target
    target = build._SEG_PART_TARGET_BYTES
    per = build._PARTIAL_BYTES_PER_POSTING
    est = 20 * target // per
    assert w(est, parts) == 20
    # capped at the build width at scale
    assert w(10**12, parts) == parts


def test_dense_taat_matches_classic_maxscore(spark, idx, monkeypatch):
    """df≈n queries take the flat-accumulator path; results must be
    bit-identical to the classic MaxScore machinery on the same index."""
    import numpy as np

    from pgspark_index import wand

    stats = merge.load_stats(idx)
    terms = ["alpha", "beta", "gamma", "delta"]  # dense vs the tiny corpus
    idfs, dfs, parts, _ = query._term_stats(spark, idx, terms, stats["n_docs"])
    up = query._unit_part_ids(parts, sorted(idfs), stats["units"])
    outs = {}
    for cap in (8_000_000, 0):  # dense engaged vs force-classic
        monkeypatch.setattr(wand, "_DENSE_TAAT_MAX_ROWS", cap)
        res = []
        for u in stats["units"]:
            pdf = query._unit_seg_pdf(idx, u, sorted(idfs), part_ids=up[u])
            sc = query._sidecar(idx, u)
            res.append(
                wand.score_maxscore(
                    query._rows_to_lists(pdf, idfs),
                    float(stats["avgdl"]), 3, sc,
                )
            )
        outs[cap] = res
    for a, b in zip(outs[8_000_000], outs[0]):
        assert np.array_equal(a[0], b[0])
        assert np.array_equal(a[1], b[1])  # bit-exact scores


def test_salt_plan_carries_estimate(spark):
    pdf = pd.DataFrame(
        {"doc_id": range(400), "text": ["alpha beta gamma"] * 400}
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string").repartition(4)
    from pyspark.sql import functions as F

    ded = docs.select(
        "doc_id", F.lit(None).cast("binary").alias("html"), "text"
    )
    plan = build.plan_salts(ded, 1.0, salt_target=10**9, max_fanout=4)
    assert isinstance(plan, build.SaltPlan)
    # 400 docs x 3 distinct terms = 1200 (term, doc) pairs, full sample
    assert plan.est_postings == 1200
    assert plan == {}  # no term over the (huge) salt target
