"""Differential test: compaction's vectorized rewrite
(incremental._compact_batches) is field-for-field identical to the per-list
reference (decode_postings -> mask -> renumber -> encode_postings /
encode_position_groups), and the flat must_not decode
(query._split_must_not) matches a per-row decode. Spark-free."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pgspark_index import codecs, incremental, query
from pgspark_index.build import ORD_SHIFT

STRIPES = (300, 200, 500)  # docs per ORD_SHIFT stripe (dense ranks)
COLS = (
    "term", "salt", "part_id", "df", "cf", "block_last_doc", "block_max_tf",
    "block_min_dl", "block_offset", "postings", "positions",
)


def _universe(seed):
    rng = np.random.default_rng(seed)
    ords = np.concatenate(
        [(np.int64(p) << ORD_SHIFT) + np.arange(n, dtype=np.int64)
         for p, n in enumerate(STRIPES)]
    )
    dls = rng.integers(5, 400, size=ords.size).astype(np.int64)

    def dl_of(o):
        return dls[np.searchsorted(ords, o)]

    return rng, ords, dl_of


def _make_batch(rng, ords, dl_of, n_terms, positional, emptied):
    """Segment rows over ``ords``: lists of 1 to ~600 postings (several
    128-posting blocks), plus the lists in ``emptied`` (doc arrays), which
    the tombstones remove entirely."""
    rows = {c: [] for c in COLS}
    lists = [np.sort(rng.choice(ords, size=int(rng.integers(1, 600)), replace=False))
             for _ in range(n_terms)]
    lists[1:1] = emptied
    for i, docs in enumerate(lists):
        tfs = rng.integers(1, 6, size=docs.size).astype(np.int64)
        enc = codecs.encode_postings(docs, tfs, dl_of(docs))
        pos = b""
        if positional:
            flat = np.concatenate(
                [np.sort(rng.choice(300, size=int(t), replace=False)) for t in tfs]
            )
            pos = codecs.encode_position_groups(np.array([0]), tfs, flat)[0]
        rows["term"].append(f"t{i:04d}")
        rows["salt"].append(int(i % 3))
        rows["part_id"].append(0)
        rows["positions"].append(pos)
        for k in ("df", "cf", "postings", "block_last_doc", "block_max_tf",
                  "block_min_dl", "block_offset"):
            v = enc[k]
            rows[k].append(v.tolist() if isinstance(v, np.ndarray) else v)
    types = (pa.string(), pa.int32(), pa.int32(), pa.int64(), pa.int64(),
             pa.list_(pa.int64()), pa.list_(pa.int32()), pa.list_(pa.int32()),
             pa.list_(pa.int64()), pa.binary(), pa.binary())
    return pa.record_batch(
        [pa.array(rows[c], type=t) for c, t in zip(COLS, types)], names=list(COLS)
    )


def _reference(batch, tomb, dl_of, pid):
    """The per-list rewrite compaction ran before the flat pass."""

    def renumber(o):
        stripe_start = (o >> np.int64(ORD_SHIFT)) << np.int64(ORD_SHIFT)
        return o - (np.searchsorted(tomb, o) - np.searchsorted(tomb, stripe_start))

    out = []
    for r in batch.to_pylist():
        doc, tf = codecs.decode_postings(r["postings"], int(r["df"]))
        keep = ~np.isin(doc, tomb, assume_unique=True)
        if not keep.any():
            continue
        enc = codecs.encode_postings(renumber(doc[keep]), tf[keep], dl_of(doc[keep]))
        positions = b""
        if r["positions"]:
            pos = codecs.decode_positions(r["positions"], tf)
            positions = codecs.encode_position_groups(
                np.array([0]), tf[keep], pos[np.repeat(keep, tf)]
            )[0]
        out.append({
            "term": r["term"], "salt": r["salt"], "part_id": pid,
            "df": enc["df"], "cf": enc["cf"],
            "block_last_doc": enc["block_last_doc"].tolist(),
            "block_max_tf": enc["block_max_tf"].tolist(),
            "block_min_dl": enc["block_min_dl"].tolist(),
            "block_offset": enc["block_offset"].tolist(),
            "postings": enc["postings"], "positions": positions,
        })
    return out


def _tombstones(rng, ords, emptied):
    """~10% random ordinals, the first and last rank of every stripe, and
    every doc of the ``emptied`` lists."""
    firsts = np.cumsum((0,) + STRIPES[:-1])
    lasts = firsts + np.array(STRIPES) - 1
    t = np.concatenate([
        rng.choice(ords, size=ords.size // 10, replace=False),
        ords[firsts], ords[lasts], *emptied,
    ])
    return np.unique(t)


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize("window", [None, 700])
def test_rewrite_matches_per_list_reference(positional, window):
    rng, ords, dl_of = _universe(7 + positional)
    emptied = [ords[[5, 17]], ords[300:310]]
    batch = _make_batch(rng, ords, dl_of, 40, positional, emptied)
    tomb = _tombstones(rng, ords, emptied)
    # first and last rank of each stripe are tombstoned
    for p, n in enumerate(STRIPES):
        base = np.int64(p) << ORD_SHIFT
        assert base in tomb and base + n - 1 in tomb

    # two input batches; the small window splits each into several
    parts = [batch.slice(0, 25), batch.slice(25)]
    outs = list(incremental._compact_batches(parts, tomb, dl_of, 3, window=window))
    if window is not None:
        assert len(outs) > len(parts)
        for o in outs:
            assert o.num_rows == 1 or sum(o.column("df").to_pylist()) <= window
    got = pa.Table.from_batches(outs).to_pylist()
    want = _reference(batch, tomb, dl_of, 3)

    assert len(want) == batch.num_rows - len(emptied)  # emptied lists dropped
    assert [r["term"] for r in got] == [r["term"] for r in want]
    for g, w in zip(got, want):
        for c in COLS:
            assert g[c] == w[c], (g["term"], c)
    if positional:
        assert all(r["positions"] for r in got)
    else:
        assert not any(r["positions"] for r in got)


def test_rewrite_all_lists_emptied_yields_nothing():
    rng, ords, dl_of = _universe(3)
    emptied = [ords[:50], ords[600:900]]
    batch = _make_batch(rng, ords, dl_of, 0, True, emptied)
    tomb = np.unique(np.concatenate(emptied))
    assert list(incremental._compact_batches([batch], tomb, dl_of, 0)) == []


def test_decode_postings_flat_matches_per_list():
    rng, ords, dl_of = _universe(11)
    batch = _make_batch(rng, ords, dl_of, 30, False, [])
    blobs = batch.column("postings").to_pylist()
    dfs = np.array(batch.column("df").to_pylist())
    offs = np.concatenate(([0], np.cumsum([len(b) for b in blobs])))
    doc, tf, starts = codecs.decode_postings_flat(
        np.frombuffer(b"".join(blobs), dtype=np.uint8), offs, dfs
    )
    for k, (b, n) in enumerate(zip(blobs, dfs)):
        d, t = codecs.decode_postings(b, int(n))
        assert np.array_equal(doc[starts[k] : starts[k] + n], d)
        assert np.array_equal(tf[starts[k] : starts[k] + n], t)
    with pytest.raises(ValueError):
        codecs.decode_postings_flat(
            np.frombuffer(b"".join(blobs), dtype=np.uint8), offs, dfs + 1
        )


def test_split_must_not_matches_per_row_decode():
    rng, ords, dl_of = _universe(5)
    pdf = _make_batch(rng, ords, dl_of, 12, False, []).to_pandas()
    neg = {"t0002", "t0007", "t0011", "absent"}
    pos_rows, excluded = query._split_must_not(pdf, neg)

    m = pdf["term"].isin(list(neg))
    want = np.unique(np.concatenate([
        codecs.decode_postings(r.postings, int(r.df))[0]
        for r in pdf[m].itertuples()
    ]))
    assert excluded.dtype == want.dtype and np.array_equal(excluded, want)
    pd.testing.assert_frame_equal(pos_rows, pdf[~m])
    assert query._split_must_not(pdf, {"absent"})[1] is None


def test_row_windows_are_greedy_and_bounded():
    df = np.array([5, 300, 2, 2, 900, 1, 1, 1, 400, 3])
    wins = list(incremental._row_windows(df, 400))
    assert wins[0][0] == 0 and wins[-1][1] == df.size
    assert all(a == z for (_, a), (z, _) in zip(wins, wins[1:]))  # contiguous
    for a, z in wins:
        total = int(df[a:z].sum())
        assert total <= 400 or z - a == 1  # one oversized list alone
        if z < df.size:
            assert total + int(df[z]) > 400  # greedy: the next row overflows
