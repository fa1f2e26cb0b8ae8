"""execute_dsl: the OpenSearch-style bool query DSL compiler.

Reference shape: the reference's search store forwards JSON bool/must/
should/filter trees to OpenSearch (its /_search request bodies);
``query.execute_dsl`` compiles the same tree shape onto the engine's
primitives. Every scored assertion here checks against an independent
pandas BM25 model of the corpus."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pgspark_index import build, merge, query

K1, B = 1.2, 0.25  # engine constants: tf*2.2/(tf + 1.2*(0.25 + 0.75*dl/avgdl))


@pytest.fixture(scope="module")
def corpus_pdf():
    rng = np.random.RandomState(71)
    vocab = ["data", "query", "fast", "slow", "merge", "stream",
             "table", "hash", "beta"] + [f"w{i:03d}" for i in range(30)]
    texts = []
    for i in range(400):
        words = list(rng.choice(vocab, size=rng.randint(6, 24)))
        if i % 7 == 0:
            words += ["table", "hash"]  # guaranteed phrase occurrences
        texts.append(" ".join(words))
    return pd.DataFrame(
        {"doc_id": np.arange(400, dtype="int64"), "text": texts}
    )


@pytest.fixture(scope="module")
def built(spark, corpus_pdf, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("dsl") / "idx")
    df = spark.createDataFrame(corpus_pdf, "doc_id long, text string")
    build.build_index(spark, build.docs_unit_provider(df), idx,
                      num_units=2, partitions=4, sample_fraction=1.0,
                      with_positions=True)
    merge.merge_index(spark, idx)
    return idx


class Model:
    """Brute-force BM25 over the corpus: per-(doc, term) contribution
    c = idf(term) * tf*(k1+1) / (tf + k1*(1-b' ... engine spelling))."""

    def __init__(self, corpus_pdf):
        self.toks = {
            int(r.doc_id): r.text.split() for r in corpus_pdf.itertuples()
        }
        self.n = len(self.toks)
        self.dl = {d: len(t) for d, t in self.toks.items()}
        self.avgdl = sum(self.dl.values()) / self.n
        self.df: dict[str, int] = {}
        for t in self.toks.values():
            for w in set(t):
                self.df[w] = self.df.get(w, 0) + 1

    def contrib(self, doc: int, term: str) -> float:
        tf = self.toks[doc].count(term)
        if tf == 0:
            return 0.0
        idf = math.log(1.0 + (self.n - self.df[term] + 0.5)
                       / (self.df[term] + 0.5))
        dl = self.dl[doc]
        return idf * (tf * 2.2) / (tf + K1 * (B + (1 - B) * dl / self.avgdl))

    def match_set(self, terms) -> set[int]:
        return {d for d, t in self.toks.items()
                if any(w in t for w in terms)}

    def phrase_set(self, phrase) -> set[int]:
        out = set()
        m = len(phrase)
        for d, t in self.toks.items():
            if any(t[i:i + m] == list(phrase) for i in range(len(t) - m + 1)):
                out.add(d)
        return out

    def score(self, docs, terms) -> dict[int, float]:
        return {d: sum(self.contrib(d, w) for w in set(terms)) for d in docs}

    def topk(self, scores: dict[int, float], k: int):
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def model(corpus_pdf):
    return Model(corpus_pdf)


def _run(spark, built, dsl, k=10):
    return [
        (r["doc_id"], r["score"])
        for r in query.execute_dsl(spark, built, dsl, k).collect()
    ]


def test_bool_full_tree(spark, built, model):
    dsl = {"bool": {
        "must": [{"match": {"terms": ["data", "query"]}}],
        "should": [{"term": "fast"}, {"phrase": {"terms": ["table", "hash"]}}],
        "must_not": [{"term": "slow"}],
        "filter": [{"match": {"terms": ["merge", "stream"]}}],
    }}
    got = _run(spark, built, dsl, 10)

    cand = (model.match_set(["data", "query"])
            & model.match_set(["merge", "stream"])) \
        - model.match_set(["slow"])
    ph = model.phrase_set(["table", "hash"])
    exp_scores = {}
    for d in cand:
        s = sum(model.contrib(d, w) for w in ("data", "query"))
        s += model.contrib(d, "fast")
        if d in ph:
            s += sum(model.contrib(d, w) for w in ("table", "hash"))
        exp_scores[d] = s
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_should_only_msm_acts_as_threshold(spark, built, model):
    dsl = {"bool": {
        "should": [{"term": "data"}, {"term": "fast"}, {"term": "hash"}],
        "minimum_should_match": 2,
    }}
    got = _run(spark, built, dsl, 15)
    cand = {d for d in model.toks
            if sum(w in model.toks[d] for w in ("data", "fast", "hash")) >= 2}
    exp = model.topk(model.score(cand, ["data", "fast", "hash"]), 15)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_msm_with_must_is_a_constraint(spark, built, model):
    dsl = {"bool": {
        "must": [{"term": "data"}],
        "should": [{"term": "fast"}, {"term": "hash"}],
        "minimum_should_match": 1,
    }}
    got = _run(spark, built, dsl, 10)
    cand = {d for d in model.match_set(["data"])
            if ("fast" in model.toks[d]) or ("hash" in model.toks[d])}
    exp_scores = {
        d: model.contrib(d, "data") + model.contrib(d, "fast")
        + model.contrib(d, "hash")
        for d in cand
    }
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_nested_bool_inside_should(spark, built, model):
    dsl = {"bool": {
        "should": [
            {"term": "fast"},
            {"bool": {"must": [{"term": "table"}, {"term": "hash"}]}},
        ],
    }}
    got = _run(spark, built, dsl, 12)
    both = model.match_set(["table"]) & model.match_set(["hash"])
    cand = model.match_set(["fast"]) | both
    exp_scores = {}
    for d in cand:
        s = model.contrib(d, "fast")
        if d in both:
            s += model.contrib(d, "table") + model.contrib(d, "hash")
        exp_scores[d] = s
    exp = model.topk(exp_scores, 12)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_filter_only_bool_scores_zero(spark, built, model):
    dsl = {"bool": {"filter": [{"match": {"terms": ["beta"]}}]}}
    got = _run(spark, built, dsl, 1000)
    assert {d for d, _ in got} == model.match_set(["beta"])
    assert all(s == 0.0 for _, s in got)


def test_leaf_short_circuit_equals_search(spark, built):
    direct = query.search(spark, built, ["data", "fast"], 10).collect()
    via_dsl = query.execute_dsl(
        spark, built, {"match": {"terms": ["data", "fast"]}}, 10
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in direct] == \
        [(r["doc_id"], r["score"]) for r in via_dsl]


def test_phrase_leaf_equals_search_phrase(spark, built):
    direct = query.search_phrase(spark, built, ["table", "hash"], 10).collect()
    via_dsl = query.execute_dsl(
        spark, built, {"phrase": {"terms": ["table", "hash"]}}, 10
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in direct] == \
        [(r["doc_id"], r["score"]) for r in via_dsl]


def test_tier_results_compose_with_dsl_and_rescore(spark, built, monkeypatch):
    """Driver-tier results (``query._DriverLocalDataFrame``) feed boosts,
    from/size offsets, bool trees and rescoring as ordinary DataFrames:
    every composition gives identical rows with the tier forced off."""
    phrase = ["table", "hash"]
    calls = [
        lambda: query.execute_dsl(
            spark, built, {"phrase": {"terms": phrase, "boost": 2.5}}, 5, 3
        ),
        lambda: query.execute_dsl(spark, built, {"bool": {
            "must": [{"phrase": {"terms": phrase}}],
            "should": [{"match": {"terms": ["data", "fast"]}}],
        }}, 8),
        lambda: query.search_rescore(
            spark, built, ["data", "fast"], phrase, k=8, window=40
        ),
    ]

    def rows():
        return [[(r["doc_id"], r["score"]) for r in c().collect()] for c in calls]

    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", "0")
    off = rows()
    monkeypatch.setenv("PGSPARK_QUERY_DRIVER_BYTES", str(64 << 20))
    assert isinstance(
        query.search_phrase(spark, built, phrase, 5), query._DriverLocalDataFrame
    )
    on = rows()
    assert all(off) and on == off


def test_expansion_leaves_inside_bool(spark, built, model):
    # prefix w00* (expands against the lexicon) as a must clause
    dsl = {"bool": {
        "must": [{"prefix": "w00"}],
        "must_not": [{"term": "slow"}],
    }}
    got = _run(spark, built, dsl, 10)
    pref_terms = sorted(t for t in model.df if t.startswith("w00"))
    cand = model.match_set(pref_terms) - model.match_set(["slow"])
    exp = model.topk(model.score(cand, pref_terms), 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_dsl_validation_errors(spark, built):
    with pytest.raises(ValueError):
        query.execute_dsl(spark, built, {"bool": {"boost": []}}, 5)
    with pytest.raises(ValueError):
        query.execute_dsl(spark, built, {"bool": {}}, 5)
    with pytest.raises(ValueError):
        query.execute_dsl(spark, built, {"nope": "x"}, 5)
    with pytest.raises(ValueError):
        query.execute_dsl(
            spark, built, {"match": {"terms": ["a"]}, "term": "b"}, 5
        )


def test_dsl_respects_tombstones(spark, corpus_pdf, tmp_path_factory):
    from pgspark_index import incremental

    idx = str(tmp_path_factory.mktemp("dsl_tomb") / "idx")
    df = spark.createDataFrame(corpus_pdf, "doc_id long, text string")
    build.build_index(spark, build.docs_unit_provider(df), idx,
                      num_units=2, partitions=4, sample_fraction=1.0,
                      with_positions=True)
    merge.merge_index(spark, idx)
    dsl = {"bool": {
        "must": [{"match": {"terms": ["data", "query"]}}],
        "should": [{"phrase": {"terms": ["table", "hash"]}}],
        "must_not": [{"term": "slow"}],
    }}
    pre = _run(spark, idx, dsl, 10)
    dropped = {d for d, _ in pre[:3]}
    incremental.drop_docs(
        spark, idx,
        spark.createDataFrame([(int(d),) for d in dropped], "doc_id long"),
    )
    merge.merge_index(spark, idx)  # re-derive tombstone-corrected stats
    post = _run(spark, idx, dsl, 10)
    assert not dropped & {d for d, _ in post}
    # single-must bool agrees with the pruned search() path post-drop
    via_bool = _run(
        spark, idx, {"bool": {"must": [{"match": {"terms": ["data"]}}]}}, 10
    )
    direct = [
        (r["doc_id"], r["score"])
        for r in query.search(spark, idx, ["data"], 10).collect()
    ]
    assert [d for d, _ in via_bool] == [d for d, _ in direct]
    for (_, a), (_, b) in zip(via_bool, direct):
        assert a == pytest.approx(b, abs=1e-9)


def test_ids_leaf_drops_tombstoned_docs(spark, corpus_pdf, tmp_path_factory, monkeypatch):
    """The ids leaf's liveness check: dropped ids vanish, live ids stay,
    unknown ids never match — with the tombstones intersected on the
    driver and, over the closure limit, through the executor's
    unit-scoped anti-join."""
    from pgspark_index import incremental, query

    idx = str(tmp_path_factory.mktemp("dsl_ids_tomb") / "idx")
    df = spark.createDataFrame(corpus_pdf, "doc_id long, text string")
    build.build_index(spark, build.docs_unit_provider(df), idx,
                      num_units=2, partitions=4, sample_fraction=1.0)
    merge.merge_index(spark, idx)
    want = [3, 7, 42, 9999]
    assert sorted(d for d, _ in _run(spark, idx, {"ids": {"values": want}}, 10)) == [3, 7, 42]
    incremental.drop_docs(
        spark, idx, spark.createDataFrame([(7,), (42,)], "doc_id long")
    )
    merge.merge_index(spark, idx)
    assert [d for d, _ in _run(spark, idx, {"ids": {"values": want}}, 10)] == [3]
    monkeypatch.setattr(query, "TOMBSTONE_CLOSURE_LIMIT", 1)
    assert [d for d, _ in _run(spark, idx, {"ids": {"values": want}}, 10)] == [3]


def test_dis_max_with_tie_breaker(spark, built, model):
    dsl = {"dis_max": {
        "queries": [{"term": "data"}, {"term": "fast"},
                    {"match": {"terms": ["table", "hash"]}}],
        "tie_breaker": 0.3,
    }}
    got = _run(spark, built, dsl, 12)
    exp_scores = {}
    for d in model.toks:
        cl = [model.contrib(d, "data"), model.contrib(d, "fast"),
              model.contrib(d, "table") + model.contrib(d, "hash")]
        cl = [c for c in cl if c > 0.0]
        if cl:
            exp_scores[d] = max(cl) + 0.3 * (sum(cl) - max(cl))
    exp = model.topk(exp_scores, 12)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_dis_max_zero_tie_breaker_is_pure_max(spark, built, model):
    dsl = {"dis_max": {"queries": [{"term": "data"}, {"term": "hash"}]}}
    got = _run(spark, built, dsl, 10)
    exp_scores = {}
    for d in model.toks:
        cl = [model.contrib(d, "data"), model.contrib(d, "hash")]
        cl = [c for c in cl if c > 0.0]
        if cl:
            exp_scores[d] = max(cl)
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_constant_score_and_boost(spark, built, model):
    dsl = {"bool": {
        "must": [{"term": {"value": "data", "boost": 2.0}}],
        "should": [{"constant_score": {
            "filter": {"match": {"terms": ["merge", "stream"]}},
            "boost": 0.5,
        }}],
    }}
    got = _run(spark, built, dsl, 10)
    flt = model.match_set(["merge", "stream"])
    exp_scores = {
        d: 2.0 * model.contrib(d, "data") + (0.5 if d in flt else 0.0)
        for d in model.match_set(["data"])
    }
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_boolwide_boost_nested(spark, built, model):
    # boost on a nested bool multiplies the whole subtree's score
    dsl = {"dis_max": {
        "queries": [
            {"term": "fast"},
            {"bool": {"must": [{"term": "table"}, {"term": "hash"}],
                      "boost": 3.0}},
        ],
    }}
    got = _run(spark, built, dsl, 10)
    both = model.match_set(["table"]) & model.match_set(["hash"])
    exp_scores = {}
    for d in model.toks:
        cl = [model.contrib(d, "fast")]
        if d in both:
            cl.append(3.0 * (model.contrib(d, "table")
                             + model.contrib(d, "hash")))
        cl = [c for c in cl if c > 0.0]
        if cl:
            exp_scores[d] = max(cl)
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_top_level_leaf_boost_preserves_rank(spark, built):
    plain = query.execute_dsl(spark, built, {"term": "data"}, 8).collect()
    boosted = query.execute_dsl(
        spark, built, {"term": {"value": "data", "boost": 4.0}}, 8
    ).collect()
    assert [r["doc_id"] for r in plain] == [r["doc_id"] for r in boosted]
    for p, b in zip(plain, boosted):
        assert b["score"] == pytest.approx(4.0 * p["score"], abs=1e-9)


def test_dis_max_validation(spark, built):
    with pytest.raises(ValueError):
        query.execute_dsl(spark, built, {"dis_max": {"queries": []}}, 5)
    with pytest.raises(ValueError):
        query.execute_dsl(
            spark, built, {"dis_max": {"qs": [{"term": "a"}]}}, 5
        )
    with pytest.raises(ValueError):
        query.execute_dsl(
            spark, built, {"constant_score": {"boost": 1.0, "x": 1}}, 5
        )


def _pp_match_set(model, exact, prefix):
    out = set()
    m = len(exact)
    for d, t in model.toks.items():
        for i in range(len(t) - m):
            if t[i:i + m] == exact and t[i + m].startswith(prefix):
                out.add(d)
                break
    return out


def test_phrase_prefix_matches_and_scores(spark, built, model):
    # "table w0*": exact word then any w0-prefixed vocab word
    got = [
        (r["doc_id"], r["score"])
        for r in query.search_phrase_prefix(
            spark, built, ["table", "w0"], 10
        ).collect()
    ]
    exps = sorted(t for t in model.df if t.startswith("w0"))
    matched = _pp_match_set(model, ["table"], "w0")
    exp_scores = {
        d: sum(model.contrib(d, t) for t in set(exps) | {"table"})
        for d in matched
    }
    exp = model.topk(exp_scores, 10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_phrase_prefix_single_slot_is_prefix_match(spark, built, model):
    # degenerate 1-word phrase: any doc containing a w00* term
    got = [
        (r["doc_id"], r["score"])
        for r in query.search_phrase_prefix(spark, built, ["w00"], 5).collect()
    ]
    exps = sorted(t for t in model.df if t.startswith("w00"))
    matched = model.match_set(exps)
    exp = model.topk(model.score(matched, exps), 5)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_phrase_prefix_no_expansion_is_empty(spark, built):
    assert query.search_phrase_prefix(
        spark, built, ["table", "zzzz"], 5
    ).count() == 0


def test_phrase_prefix_dsl_leaf(spark, built):
    direct = query.search_phrase_prefix(spark, built, ["table", "w0"], 7).collect()
    via = query.execute_dsl(
        spark, built, {"phrase_prefix": {"terms": ["table", "w0"]}}, 7
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in direct] == \
        [(r["doc_id"], r["score"]) for r in via]


def test_boosting_demotes_but_keeps_matches(spark, built, model):
    dsl = {"boosting": {
        "positive": {"match": {"terms": ["data", "query"]}},
        "negative": {"term": "slow"},
        "negative_boost": 0.2,
    }}
    got = _run(spark, built, dsl, 15)
    slow = model.match_set(["slow"])
    exp_scores = {}
    for d in model.match_set(["data", "query"]):
        s = model.contrib(d, "data") + model.contrib(d, "query")
        exp_scores[d] = s * (0.2 if d in slow else 1.0)
    exp = model.topk(exp_scores, 15)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-9)


def test_ids_leaf_and_filter_context(spark, built, model):
    want = [3, 7, 9999, 42]
    got = _run(spark, built, {"ids": {"values": want}}, 10)
    assert sorted(d for d, _ in got) == [3, 7, 42]  # 9999 not in corpus
    assert all(s == 1.0 for _, s in got)

    # ids as a bool filter clause constrains without scoring
    dsl = {"bool": {
        "must": [{"match": {"terms": ["data"]}}],
        "filter": [{"ids": {"values": list(range(0, 200))}}],
    }}
    got2 = _run(spark, built, dsl, 10)
    cand = {d for d in model.match_set(["data"]) if d < 200}
    exp = model.topk({d: model.contrib(d, "data") for d in cand}, 10)
    assert [d for d, _ in got2] == [d for d, _ in exp]


def test_boosting_validation(spark, built):
    with pytest.raises(ValueError):
        query.execute_dsl(
            spark, built, {"boosting": {"positive": {"term": "a"}}}, 5
        )


def test_from_size_offset_pagination(spark, built):
    dsl = {"bool": {"should": [{"term": "data"}, {"term": "fast"}]}}
    full = _run(spark, built, dsl, 10)
    page1 = _run(spark, built, dsl, 5)
    page2 = [
        (r["doc_id"], r["score"])
        for r in query.execute_dsl(spark, built, dsl, 5, from_=5).collect()
    ]
    assert page1 + page2 == full
    # leaf short-circuit paginates too (prune depth covers the window)
    leaf = {"match": {"terms": ["data", "fast"]}}
    lf = _run(spark, built, leaf, 10)
    lp2 = [
        (r["doc_id"], r["score"])
        for r in query.execute_dsl(spark, built, leaf, 5, from_=5).collect()
    ]
    assert lp2 == lf[5:]


def test_delete_by_query_dsl(spark, corpus_pdf, tmp_path_factory):
    from pgspark_index import incremental

    idx = str(tmp_path_factory.mktemp("dsl_dbq") / "idx")
    df = spark.createDataFrame(corpus_pdf, "doc_id long, text string")
    build.build_index(spark, build.docs_unit_provider(df), idx,
                      num_units=2, partitions=4, sample_fraction=1.0,
                      with_positions=True)
    merge.merge_index(spark, idx)

    # delete docs that contain BOTH 'slow' and 'beta' (bool filter tree)
    dsl = {"bool": {"filter": [{"term": "slow"}, {"term": "beta"}]}}
    victims = {d for d, t in
               ((int(r.doc_id), r.text.split())
                for r in corpus_pdf.itertuples())
               if "slow" in t and "beta" in t}
    assert victims  # fixture must exercise the path
    res = incremental.delete_by_query(spark, idx, dsl)
    assert res["tombstoned"] == len(victims)

    left = {r["doc_id"] for r in
            query.search(spark, idx, ["slow"], 1000).collect()}
    assert not (left & victims)
    # idempotent: same query again tombstones nothing new
    res2 = incremental.delete_by_query(spark, idx, dsl)
    assert res2["tombstoned"] == 0
