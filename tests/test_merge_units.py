"""Tiered unit merge (incremental.merge_units): folding N units into one
preserves every observable — query results bit-identical, global stats,
lexicon df/cf totals, docs sidecar content — and the crash-recovery
protocol (fold journal) is atomic at every step."""

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from pgspark_index import build, fixtures, incremental, manifest, merge, query

N_BASE = 360
SENTINEL = "zzzfoldterm"
QUERIES = [["data", "query", "fast"], ["vector", "stream"], [SENTINEL]]


def _topk(spark, idx, terms, k=25):
    return [
        (r["doc_id"], round(r["score"], 10))
        for r in query.search(spark, idx, terms, k).collect()
    ]


@pytest.fixture(scope="module")
def corpora(spark):
    base_pdf = fixtures.make_webtext_pdf(N_BASE, seed=31)
    base_pdf = base_pdf.drop_duplicates(subset=["url"], keep="last")
    base = spark.createDataFrame(base_pdf, schema=fixtures.WEBTEXT_DDL)
    upd = base_pdf.head(20).copy()
    upd["text"] = SENTINEL + " folded content " + SENTINEL
    upd["html"] = None
    upd["warc_ts"] = upd["warc_ts"] + dt.timedelta(days=30)
    delta = spark.createDataFrame(upd, schema=fixtures.WEBTEXT_DDL)
    live = base.join(delta.select("url"), "url", "left_anti").unionByName(delta)
    return base, delta, live


def test_fold_preserves_queries_and_stats(spark, corpora, tmp_index):
    base, delta, live = corpora
    build.build_index(spark, base, tmp_index, num_units=3, partitions=4,
                      sample_fraction=1.0)
    merge.merge_index(spark, tmp_index)
    incremental.build_delta(spark, delta, tmp_index, input_snapshot_id=1,
                            num_units=1, partitions=4, sample_fraction=1.0)

    before = {i: _topk(spark, tmp_index, t) for i, t in enumerate(QUERIES)}
    stats_before = merge.load_stats(tmp_index)

    res = incremental.merge_units(spark, tmp_index, partitions=4)
    assert len(res["folded_units"]) == 4  # 3 base + 1 delta (post-compact)
    new_unit = res["new_unit"]

    m = manifest.read_manifest(tmp_index)
    m = m[m["status"] == manifest.STATUS_COMPLETED]
    assert sorted(int(u) for u in m["unit"]) == [new_unit]
    # physical retirement: exactly one unit dir remains on disk
    assert sorted(os.listdir(os.path.join(tmp_index, "segments"))) == [
        f"unit={new_unit}"
    ]
    assert not manifest.fold_journals(tmp_index)

    stats_after = merge.load_stats(tmp_index)
    # live-corpus stats preserved exactly (delta was compacted into fold)
    assert stats_after["n_docs"] == live.count()
    assert stats_after["n_docs"] == stats_before["n_docs"]
    assert stats_after["sum_doclen"] == stats_before["sum_doclen"]
    # splicing grows postings only at partial boundaries: each folded
    # source list costs at most one ~10-byte cross-grid gap (the fold
    # keeps per-unit partition grids, so the spliced gap spans ordinal
    # stripes) — bounded by 10 bytes x the folded units' term rows, and
    # vanishing relative to real posting data at scale
    folded_rows = int(stats_before["term_rows"])
    assert stats_after["postings_bytes"] <= (
        stats_before["postings_bytes"] + 10 * folded_rows
    )

    for i, t in enumerate(QUERIES):
        assert _topk(spark, tmp_index, t) == before[i], f"query {t} changed"

    # folded index equals a FROM-SCRATCH build of the live corpus on every
    # query (scores bit-identical: same global stats, df, tf, doclen)
    import tempfile

    scratch = tempfile.mkdtemp(prefix="pgspark_scratch_")
    try:
        build.build_index(spark, live, scratch, num_units=1, partitions=4,
                          sample_fraction=1.0)
        merge.merge_index(spark, scratch)
        for t in QUERIES:
            assert _topk(spark, tmp_index, t) == _topk(spark, scratch, t)
    finally:
        import shutil

        shutil.rmtree(scratch, ignore_errors=True)

    # folded index keeps working as a delta target: drop + compact on it
    victim = query.search(spark, tmp_index, [SENTINEL], 1).collect()[0]["doc_id"]
    match = spark.createDataFrame([(victim,)], "doc_id bigint")
    incremental.drop_docs(spark, tmp_index, match)
    assert {r["doc_id"] for r in query.search(spark, tmp_index, [SENTINEL], 30).collect()} == (
        {r[0] for r in before[2]} - {victim}
    )
    incremental.compact(spark, tmp_index)
    assert {r["doc_id"] for r in query.search(spark, tmp_index, [SENTINEL], 30).collect()} == (
        {r[0] for r in before[2]} - {victim}
    )


def test_fold_subset_and_ranged(spark, corpora, tmp_index):
    base, _delta, _live = corpora
    build.build_index(spark, base, tmp_index, num_units=4, partitions=4,
                      sample_fraction=1.0)
    merge.merge_index(spark, tmp_index)
    before = _topk(spark, tmp_index, ["data", "query"])
    ranged_before = [
        (r["doc_id"], round(r["score"], 10))
        for r in query.search_ranged(spark, tmp_index, ["data", "query"], 25).collect()
    ]
    res = incremental.merge_units(spark, tmp_index, units=[0, 2], partitions=4)
    m = manifest.read_manifest(tmp_index)
    live_units = sorted(int(u) for u in m[m["status"] == "completed"]["unit"])
    assert live_units == [1, 3, res["new_unit"]]
    assert _topk(spark, tmp_index, ["data", "query"]) == before
    # ranged scoring still works over the folded unit's combined grid
    ranged_after = [
        (r["doc_id"], round(r["score"], 10))
        for r in query.search_ranged(spark, tmp_index, ["data", "query"], 25).collect()
    ]
    assert ranged_after == ranged_before
    # idempotent second fold down to one unit
    res2 = incremental.merge_units(spark, tmp_index, partitions=4)
    assert len(res2["folded_units"]) == 3
    assert _topk(spark, tmp_index, ["data", "query"]) == before


def test_fold_crash_recovery(spark, corpora, tmp_index, monkeypatch):
    """A journal without a committed fold row rolls back; a journal WITH a
    committed row hides the source rows immediately and recovery finishes
    the physical retirement."""
    base, _delta, _live = corpora
    build.build_index(spark, base, tmp_index, num_units=2, partitions=4,
                      sample_fraction=1.0)
    merge.merge_index(spark, tmp_index)
    before = _topk(spark, tmp_index, ["data", "query"])

    # crash BEFORE the folded row committed: journal + orphan dirs only
    manifest.write_fold_journal(tmp_index, 999, [0, 1])
    os.makedirs(os.path.join(tmp_index, "segments", ".fold-unit=999"))
    # reads are unaffected (journal inert without the committed row)
    assert _topk(spark, tmp_index, ["data", "query"]) == before
    rec = incremental.recover_folds(spark, tmp_index)
    assert rec["rolled_back"] == [999]
    assert not manifest.fold_journals(tmp_index)
    assert not glob.glob(os.path.join(tmp_index, "segments", ".fold-*"))
    assert _topk(spark, tmp_index, ["data", "query"]) == before

    # full fold, then simulate a crash AFTER the row commit but BEFORE the
    # physical retirement: re-create the journal + leave stale source rows
    res = incremental.merge_units(spark, tmp_index, partitions=4)
    new_unit = res["new_unit"]
    manifest.write_fold_journal(tmp_index, new_unit, [0, 1])
    manifest.commit_unit(tmp_index, {
        "segment_id": "u0", "unit": 0, "ord_partitions": 4,
        "input_snapshot_id": 0, "row_count": 1, "sum_doclen": 1,
        "term_count": 1, "bytes": 1, "status": manifest.STATUS_COMPLETED,
    })
    # the stale source row is HIDDEN by the journal at read time
    m = manifest.read_manifest(tmp_index)
    assert sorted(int(u) for u in m[m["status"] == "completed"]["unit"]) == [new_unit]
    rec = incremental.recover_folds(spark, tmp_index)
    assert rec["finished"] == [new_unit]
    assert not os.path.exists(
        os.path.join(tmp_index, "manifest", "unit-0.parquet")
    )
    assert _topk(spark, tmp_index, ["data", "query"]) == before


def test_fold_requires_two_units(spark, corpora, tmp_index):
    base, _d, _l = corpora
    build.build_index(spark, base, tmp_index, num_units=1, partitions=4,
                      sample_fraction=1.0)
    merge.merge_index(spark, tmp_index)
    assert incremental.merge_units(spark, tmp_index) == {
        "folded_units": [], "new_unit": None
    }
    with pytest.raises(ValueError, match="not committed"):
        incremental.merge_units(spark, tmp_index, units=[0, 7])


def test_fold_preserves_positional_queries(spark, tmp_path):
    """Folding a POSITIONAL index keeps phrase / proximity / phrase_prefix
    results bit-identical (positions are doc-local gap blobs — splice
    concat must be the identity on them), including after a drop."""
    import pandas as pd

    texts = []
    for i in range(240):
        filler = " ".join(f"w{(i * 7 + j) % 40:03d}" for j in range(8))
        if i % 4 == 0:
            filler += " table hash join"
        if i % 5 == 0:
            filler += " table stream"
        texts.append(filler)
    pdf = pd.DataFrame({
        "url": [f"https://e/{i}" for i in range(240)],
        "warc_ts": [dt.datetime(2026, 2, 1)] * 240,
        "html": [None] * 240,
        "text": texts,
        "lang": ["en"] * 240,
    })
    idx = str(tmp_path / "posidx")
    df = spark.createDataFrame(pdf, schema=fixtures.WEBTEXT_DDL)
    build.build_index(spark, df, idx, num_units=3, partitions=4,
                      sample_fraction=1.0, with_positions=True)
    merge.merge_index(spark, idx)

    def snap(at=None):
        at = at or idx
        ph = [(r["doc_id"], round(r["score"], 10)) for r in
              query.search_phrase(spark, at, ["table", "hash"], 25).collect()]
        px = [(r["doc_id"], round(r["score"], 10)) for r in
              query.search_proximity(spark, at, ["table", "join"], 1, 25).collect()]
        pp = [(r["doc_id"], round(r["score"], 10)) for r in
              query.search_phrase_prefix(spark, at, ["table", "s"], 25).collect()]
        return ph, px, pp

    before = snap()
    assert all(part for part in before)  # non-trivial result sets

    res = incremental.merge_units(spark, idx, partitions=4)
    assert len(res["folded_units"]) == 3
    merge.merge_index(spark, idx)
    assert snap() == before

    # drop two phrase-matching docs, compact (positional rewrite!), and
    # compare bit-exact against a FROM-SCRATCH positional build of the
    # surviving corpus — fold + compact must be invisible to positional
    # queries
    dropped = [before[0][0][0], before[0][1][0]]
    incremental.drop_docs(
        spark, idx,
        spark.createDataFrame([(int(d),) for d in dropped], "doc_id long"),
    )
    incremental.compact(spark, idx)
    merge.merge_index(spark, idx)
    after = snap()
    for part in after:
        assert not ({d for d, _ in part} & set(dropped))

    from pyspark.sql import functions as SF

    ref_idx = str(tmp_path / "refidx")
    survivors = df.filter(
        ~SF.xxhash64("url").isin([int(d) for d in dropped])
    )
    build.build_index(spark, survivors, ref_idx, num_units=1, partitions=4,
                      sample_fraction=1.0, with_positions=True)
    merge.merge_index(spark, ref_idx)
    assert after == snap(at=ref_idx)
