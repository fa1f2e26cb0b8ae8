"""Lexicon layout written by ``merge.merge_index`` and the footer-addressed
reads over it: small term-sorted row groups, deterministic entries, and
``query._term_stats`` / ``query._unit_seg_pdf`` equal to filtered scans.
"""

import glob
import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from pgspark_index import build, merge, query, termindex
from pgspark_index.build import segments_path

ROWGROUP_ROWS = 64  # small, so this index's lexicon files hold many groups


def _corpus():
    rnd = random.Random(5)
    vocab = [f"w{i:04d}" for i in range(1500)]
    return [
        " ".join(["head"] * 3 + rnd.sample(vocab, 40)) for _ in range(300)
    ]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    """Two units of three segment files each, with the head word salted
    into several rows per unit."""
    d = str(tmp_path_factory.mktemp("lexrg") / "idx")
    texts = _corpus()
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    mp = pytest.MonkeyPatch()
    mp.setenv("PGSPARK_SEG_SHUFFLE_PARTS", "3")
    mp.setattr(build, "SEG_ROWGROUP_BYTES", 4096)
    mp.setattr(merge, "LEXICON_ROWGROUP_ROWS", ROWGROUP_ROWS)
    build.build_index(
        spark, build.docs_unit_provider(docs), d, num_units=2, partitions=4,
        salt_target=100, sample_fraction=1.0, max_fanout=4,
    )
    merge.merge_index(spark, d)
    mp.undo()
    return d


def _files(directory):
    return sorted(glob.glob(os.path.join(directory, "*.parquet")))


def _lexicon_rows(d):
    return ds.dataset(_files(merge.lexicon_path(d)), format="parquet").to_table(
        columns=merge.LEXICON_COLS
    ).to_pylist()


def test_lexicon_row_groups_are_bounded(idx):
    groups = [
        pq.read_metadata(f).row_group(g).num_rows
        for f in _files(merge.lexicon_path(idx))
        for g in range(pq.read_metadata(f).num_row_groups)
    ]
    assert max(groups) <= ROWGROUP_ROWS
    assert len(groups) > len(_files(merge.lexicon_path(idx)))


def test_two_merges_write_identical_lexicon_rows(spark, idx, monkeypatch):
    first = _lexicon_rows(idx)
    head = next(r for r in first if r["term"] == "head")
    assert len(head["entries"]) > 2  # salted, in both units
    for r in first:
        keys = [(e["unit"], e["salt"], e["part_id"]) for e in r["entries"]]
        assert keys == sorted(keys)
    monkeypatch.setattr(merge, "LEXICON_ROWGROUP_ROWS", ROWGROUP_ROWS)
    merge.merge_index(spark, idx)
    assert _lexicon_rows(idx) == first


def test_term_stats_match_filtered_scan(spark, idx):
    stats = merge.load_stats(idx)
    rows = {r["term"]: r for r in _lexicon_rows(idx)}
    terms = sorted(rows)
    # every group's first and last term, the salted head word, absent terms
    probe = ["head", "w0000", "w1499", "zz_missing", "a"] + terms[::37] + terms[63::64]
    idfs, dfs, parts, cfs = query._term_stats(spark, idx, probe, stats["n_docs"])
    want = [t for t in sorted(set(probe)) if t in rows]
    assert sorted(idfs) == sorted(dfs) == sorted(parts) == sorted(cfs) == want
    for t in want:
        assert dfs[t] == rows[t]["df_total"] and cfs[t] == rows[t]["cf_total"]
        assert parts[t] == [(e["unit"], e["part_id"]) for e in rows[t]["entries"]]


def test_unit_seg_pdf_matches_filtered_scan(spark, idx):
    stats = merge.load_stats(idx)
    probe = ["head", "w0000", "w0750", "w1499", "zz_missing"]
    _, _, parts, _ = query._term_stats(spark, idx, probe, stats["n_docs"])
    up = query._unit_part_ids(parts, probe, stats["units"])
    for u in stats["units"]:
        d = os.path.join(segments_path(idx), f"unit={u}")
        assert len(_files(d)) == 3
        want = ds.dataset(_files(d), format="parquet").to_table(
            columns=query._SEG_COLS,
            filter=ds.field("term").isin(pa.array(probe, pa.string())),
        ).to_pylist()
        for ptr in (None, up[u]):
            got = query._unit_seg_pdf(idx, u, probe, part_ids=ptr)
            assert pa.Table.from_pandas(got).to_pylist() == want
            assert (got["term"] == "head").sum() > 1  # every salt row came back
        # the pointers pick each term's file: fewer groups than ranges alone
        n = lambda ptr: sum(len(g) for _, g in termindex.lookup(d, probe, ptr))  # noqa: E731
        assert n(up[u]) < n(None)
