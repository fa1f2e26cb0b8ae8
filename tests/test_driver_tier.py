"""Driver small-query tier (round-6 optimization): bit-exact parity with
the distributed path, and a gate that actually gates.

The tier runs a bounded-size query entirely on the driver (same pyarrow
term-IN segment read, same per-unit kernels, same merge order); everything
over PGSPARK_QUERY_DRIVER_BYTES takes the distributed path unchanged.
"""

import numpy as np
import pandas as pd
import pytest

from pgspark_index import build, incremental, merge, query

DOCS = [
    "alpha beta gamma delta alpha",
    "beta beta gamma",
    "alpha epsilon zeta eta theta",
    "gamma delta delta",
    "alpha beta alpha beta gamma delta",
    "iota kappa alpha",
    "beta gamma delta epsilon",
    "unrelated words entirely here",
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tier") / "idx")
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    build.build_index(
        spark, build.docs_unit_provider(docs), d, num_units=2, partitions=2
    )
    merge.merge_index(spark, d)
    return d


def _collect(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize(
    "kwargs",
    [
        {"terms": ["alpha", "gamma"]},
        {"terms": ["alpha", "gamma"], "mode": "and"},
        {"terms": ["alpha"], "exclude_terms": ["delta"]},
        {"terms": ["alpha", "beta"], "strategy": "exhaustive"},
        {"terms": ["alpha", "beta"], "strategy": "bmw"},
        {"terms": ["zz_missing", "beta"]},
    ],
)
def test_tier_matches_distributed(spark, idx, monkeypatch, kwargs):
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    dist = _collect(query.search(spark, idx, k=5, **kwargs))
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    tier = _collect(query.search(spark, idx, k=5, **kwargs))
    assert tier == dist  # bit-exact: same scorers, same merge order


def test_tier_gate_bounds_bytes(idx):
    # a cap smaller than the decode working set must refuse the tier
    assert not query._driver_tier_ok([0], {"alpha": 10**9}, ["alpha"])
    assert query._driver_tier_ok([0], {"alpha": 100}, ["alpha"])
    # unit-count bound: a many-unit index never serializes on the driver
    assert not query._driver_tier_ok(
        list(range(query._DRIVER_TIER_MAX_UNITS + 1)), {"alpha": 100}, ["alpha"]
    )


def test_tier_batch_and_after_match(spark, idx, monkeypatch):
    qs = [
        {"query_id": 0, "terms": ["alpha", "gamma"], "k": 3},
        {"query_id": 1, "terms": ["beta"], "k": 4},
        {"query_id": 2, "terms": ["zz_absent"], "k": 3},
    ]
    page1 = _collect(query.search(spark, idx, ["alpha", "beta"], 3))
    cursor = page1[-1][::-1][::-1]  # (doc_id, score) -> use as-is below

    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    dist_b = sorted(tuple(r) for r in query.search_batch(spark, idx, qs).collect())
    dist_a = _collect(
        query.search_after(
            spark, idx, ["alpha", "beta"], 3, after=(page1[-1][1], page1[-1][0])
        )
    )
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    tier_b = sorted(tuple(r) for r in query.search_batch(spark, idx, qs).collect())
    tier_a = _collect(
        query.search_after(
            spark, idx, ["alpha", "beta"], 3, after=(page1[-1][1], page1[-1][0])
        )
    )
    assert tier_b == dist_b
    assert tier_a == dist_a


def test_distributed_expansion_matches_driver_stream(spark, idx, monkeypatch):
    """Unpruned fuzzy / leading-wildcard / regexp expansion over a lexicon
    beyond the byte gate runs as a Spark job (mapInArrow over the lexicon
    with the same RE2 / numpy-DP kernels) — term sets must be identical to
    the driver stream."""
    cases = [
        lambda: query.expand_wildcard(idx, "*eta", 16),
        lambda: query.expand_regexp(idx, "[bz]eta", 16),
        lambda: query.expand_fuzzy(idx, "beta", 1, 16, prefix_length=0),
        lambda: query.expand_fuzzy(idx, "gamm", 1, 16, prefix_length=0,
                                   transpositions=True),
    ]
    monkeypatch.setattr(query, "_EXPAND_DRIVER_BYTES", 64 << 20)
    stream = [c() for c in cases]
    monkeypatch.setattr(query, "_EXPAND_DRIVER_BYTES", 0)  # force the job
    job = [c() for c in cases]
    assert job == stream
    assert stream[0]  # *eta matches beta/zeta/eta-family terms


def test_local_df_roundtrips_doubles_exactly(spark):
    import math

    vals = [0.1 + 0.2, 1e-300, 12345.678901234567, math.pi, 3.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = _collect(query._local_df(spark, rows, query.RESULT_SCHEMA))
    assert got == rows  # bit-exact float64 round-trip through the SQL literal


# ---- two units with tombstones pending ---------------------------------------
# Base: one unit of 40 docs. Delta: 20 recrawls (docs 0-19) plus 5 new docs
# in a second unit, not compacted. "common" is in base docs 0-23 and in
# every delta doc, so its df (49, superseded versions included) exceeds
# N (45) and its idf is negative. "gold" + "silver" co-occur only in base
# docs 33-34; the delta unit holds "gold" alone.
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


def _pending_corpus():
    rng = np.random.RandomState(7)

    def words(n):
        return list(rng.choice(WORDS, size=n))

    base = {}
    for i in range(40):
        w = words(rng.randint(8, 16))
        if i < 24:
            w.insert(rng.randint(len(w)), "common")
        if i in (30, 31, 32):
            w.append("rare")
        if i in (33, 34):
            w += ["gold", "silver"]
        if i == 35:
            w.append("gold")
        base[i] = " ".join(w)
    delta = {
        i: " ".join(["common", "gold"] + words(rng.randint(8, 16)))
        for i in list(range(20)) + list(range(100, 105))
    }
    return base, delta


@pytest.fixture(scope="module")
def pending(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pending") / "idx")
    base, delta = _pending_corpus()

    def provider(texts):
        pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
        return build.docs_unit_provider(
            spark.createDataFrame(pdf, "doc_id long, text string")
        )

    kw = dict(num_units=1, partitions=2, sample_fraction=1.0, with_positions=True)
    build.build_index(spark, provider(base), d, **kw)
    merge.merge_index(spark, d)
    res = incremental.build_delta(
        spark, provider(delta), d, input_snapshot_id=1, **kw
    )
    assert res["tombstones"] == 20
    live = {**base, **delta}
    return d, {i: t.split() for i, t in live.items()}


def _tier_and_dist(monkeypatch, call):
    """Rows with the tier forced off, then on; the tier must have run."""
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    df = call()
    assert not isinstance(df, query._DriverLocalDataFrame)
    dist = _collect(df)
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    df = call()
    assert isinstance(df, query._DriverLocalDataFrame)
    return _collect(df), dist


@pytest.mark.parametrize(
    "call",
    [
        lambda s, d: query.search_phrase(s, d, ["alpha", "beta"], 8),
        lambda s, d: query.search_phrase(s, d, ["beta", "alpha", "beta"], 8),
        lambda s, d: query.search_phrase(s, d, ["common", "gold"], 8),
        lambda s, d: query.search_phrase_prefix(s, d, ["gamma", "de"], 8),
        lambda s, d: query.search_proximity(s, d, ["alpha", "zeta"], 2, 8),
        lambda s, d: query.search_min_should_match(
            s, d, ["alpha", "gold", "rare", "silver"], 2, 8
        ),
    ],
    ids=["phrase", "phrase-repeat", "phrase-neg-idf", "phrase-prefix",
         "proximity", "msm"],
)
def test_families_tier_matches_distributed(spark, pending, monkeypatch, call):
    tier, dist = _tier_and_dist(monkeypatch, lambda: call(spark, pending[0]))
    assert tier and tier == dist  # bit-exact rows, tombstoned versions out


def test_and_needs_every_term_in_the_unit(spark, pending, monkeypatch):
    """AND with fewer than k full matches on a two-unit index: the delta
    unit holds "gold" but no "silver", so it must contribute nothing.

    Audit of the other conjunctive per-unit kernels: ``wand.score_phrase``
    and ``wand.score_proximity`` return nothing when a phrase slot has no
    list in the unit, and ``wand.score_min_should`` counts distinct terms
    per doc, so only ``score_conjunctive`` needed the unit-level rule."""
    idx, live = pending
    want = sorted(
        i for i, w in live.items() if "gold" in w and "silver" in w
    )
    assert want == [33, 34]
    tier, dist = _tier_and_dist(
        monkeypatch,
        lambda: query.search(spark, idx, ["gold", "silver"], 10, mode="and"),
    )
    assert tier == dist
    assert sorted(d for d, _ in tier) == want


def test_negative_idf_maxscore_is_exact(spark, pending):
    """Pending state with df > N: "common" has a negative idf, which breaks
    MaxScore's pruning bound; the scorers must fall back to exact."""
    idx, _ = pending
    stats = merge.load_stats(idx)
    idfs, dfs, _, _ = query._term_stats(spark, idx, ["common"], stats["n_docs"])
    assert dfs["common"] > stats["n_docs"] and idfs["common"] < 0
    for terms in (["common", "rare"], ["common", "gold", "rare"]):
        for k in (1, 3, 30):
            got = {
                s: _collect(query.search(spark, idx, terms, k, strategy=s))
                for s in ("maxscore", "bmw", "exhaustive")
            }
            assert got["maxscore"] == got["exhaustive"], (terms, k)
            assert got["bmw"] == got["exhaustive"], (terms, k)
    qs = [
        {"query_id": 0, "terms": ["common", "rare"], "k": 1},
        {"query_id": 1, "terms": ["common", "gold", "rare"], "k": 3},
    ]
    batch = {
        s: sorted(tuple(r) for r in query.search_batch(spark, idx, qs, s).collect())
        for s in ("maxscore", "exhaustive")
    }
    assert batch["maxscore"] == batch["exhaustive"]


def test_positional_gate_counts_positions(spark, pending, monkeypatch):
    idx, _ = pending
    assert not query._driver_tier_ok([0], {"a": 100}, ["a"], cfs={"a": 10**9})
    assert query._driver_tier_ok([0], {"a": 100}, ["a"], cfs={"a": 300})
    stats = merge.load_stats(idx)
    terms = ["alpha", "beta"]
    _, dfs, _, cfs = query._term_stats(spark, idx, terms, stats["n_docs"])
    postings = sum(dfs.values()) * query._POSTING_DECODE_BYTES
    assert sum(cfs.values()) > sum(dfs.values())
    # room for the postings but not the positions: phrase goes distributed,
    # the same terms without positions stay on the driver
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(postings))
    phrase = query.search_phrase(spark, idx, terms, 5)
    assert not isinstance(phrase, query._DriverLocalDataFrame)
    msm = query.search_min_should_match(spark, idx, terms, 2, 5)
    assert isinstance(msm, query._DriverLocalDataFrame)


def test_every_match_call_stays_distributed(spark, pending):
    idx, live = pending
    df = query.search_phrase(spark, idx, ["alpha", "beta"], k=None)
    assert not isinstance(df, query._DriverLocalDataFrame)
    want = {
        i for i, w in live.items()
        if any(a == "alpha" and b == "beta" for a, b in zip(w, w[1:]))
    }
    assert {r["doc_id"] for r in df.collect()} == want


# ---- filter tiers and big tombstone sets on the one executor ----------------


def _ids_df(spark, ids):
    return spark.createDataFrame([(int(i),) for i in sorted(ids)], "doc_id bigint")


@pytest.mark.parametrize(
    "keep, limit, mode",
    [
        (lambda i: i % 2 == 0, 4_000_000, "include"),
        (lambda i: i not in (3, 35, 101), 10, "exclude-complement"),
    ],
    ids=["include", "complement"],
)
def test_filter_tiers_match_distributed(spark, pending, monkeypatch, keep, limit, mode):
    """Both broadcast filter tiers, with must_not terms and pending
    tombstones: the driver tier, the distributed path and, with the
    tombstones over the closure limit, the escalating anti-join path
    return the same rows, equal to post-filtering the unfiltered ranking."""
    idx, live = pending
    terms, neg = ["alpha", "common", "gold"], ["rare"]
    flt = _ids_df(spark, [i for i in live if keep(i)])

    def call(tomb_limit=None):
        return query.search(
            spark, idx, terms, 6, filter_df=flt, filter_broadcast_limit=limit,
            tombstone_closure_limit=tomb_limit, exclude_terms=neg,
        )

    tier, dist = _tier_and_dist(monkeypatch, call)
    assert query._LAST_FILTER_MODE == mode
    assert tier == dist
    full = _collect(query.search(spark, idx, terms, 1000, exclude_terms=neg))
    assert tier == [(d, s) for d, s in full if keep(d)][:6]
    assert _collect(call(tomb_limit=1)) == tier


def test_filter_escalation_exact(spark, pending, monkeypatch):
    """Neither the filter nor its complement fits the broadcast limit:
    the escalating semi-join path, with tombstones in closures and with
    the distributed anti-join, is still the post-filtered ranking."""
    idx, live = pending
    terms = ["alpha", "beta", "common"]
    flt = _ids_df(spark, [i for i in live if i % 2])
    full = _collect(query.search(spark, idx, terms, 1000))
    want = [(d, s) for d, s in full if d % 2][:5]
    for tomb_limit in (query.TOMBSTONE_CLOSURE_LIMIT, 1):
        got = _collect(query.search(
            spark, idx, terms, 5, filter_df=flt, filter_broadcast_limit=10,
            tombstone_closure_limit=tomb_limit,
        ))
        assert query._LAST_FILTER_MODE == "escalate"
        assert got == want, tomb_limit


@pytest.mark.parametrize(
    "call",
    [
        lambda s, d: query.search_phrase(s, d, ["common", "gold"], 8),
        lambda s, d: query.search_after(
            s, d, ["alpha", "gold"], 6, after=(1.0, -1)
        ),
        lambda s, d: query.search_min_should_match(
            s, d, ["alpha", "gold", "rare", "silver"], 2, 8
        ),
        lambda s, d: query.search_phrase(s, d, ["alpha", "beta"], k=None),
        lambda s, d: query.score_all_matches(s, d, ["alpha", "gold"]),
    ],
    ids=["phrase", "after", "msm", "phrase-all", "all-matches"],
)
def test_big_tombstone_set_matches_closure_path(spark, pending, monkeypatch, call):
    """Tombstones over the closure limit take the distributed anti-join
    (``_drop_stale``) for every family on the executor — top-k through
    escalation, every-match calls over the emission — with the same rows
    as the closure path and no superseded version returned."""
    idx, live = pending
    closure = sorted(_collect(call(spark, idx)))
    drops = []
    real_drop = query._drop_stale

    def counting_drop(*a):
        drops.append(1)
        return real_drop(*a)

    monkeypatch.setattr(query, "_drop_stale", counting_drop)
    monkeypatch.setattr(query, "TOMBSTONE_CLOSURE_LIMIT", 1)
    anti = sorted(_collect(call(spark, idx)))
    assert drops, "the anti-join path did not run"
    assert anti == closure and anti
    ids = [d for d, _ in anti]
    assert len(ids) == len(set(ids))  # one (live) version per doc


def test_all_matches_anti_join_drops_superseded(spark, pending):
    idx, live = pending
    got = {
        d for d, _ in _collect(
            query.score_all_matches(spark, idx, ["alpha"], tombstone_closure_limit=1)
        )
    }
    assert got == {i for i, w in live.items() if "alpha" in w}
