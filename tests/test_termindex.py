"""Sparse term index over term-sorted parquet files (``termindex``): a
lookup reads only the row groups whose footer term range holds a query
term, and returns the same rows as a filtered scan of the whole files.

Spark-free: the files are written with pyarrow in the layout the engine
writes (term-sorted, several rows per term, small row groups).
"""

import os
import threading

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from pgspark_index import termindex

COLS = ["term", "salt", "df"]
SCHEMA = pa.schema([("term", pa.string()), ("salt", pa.int32()), ("df", pa.int64())])


def _rows(terms, reps=1):
    """Term-sorted rows; each term repeated ``reps`` times (a salted term)."""
    return pa.Table.from_pylist(
        [
            {"term": t, "salt": s, "df": len(t) + s}
            for t in sorted(terms) for s in range(reps)
        ],
        schema=SCHEMA,
    )


def _write(path, table, row_group_size=4, **kw):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, **kw)


def _scan(directory, terms):
    """The reference: a filtered scan of every file."""
    files = sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".parquet")
    )
    return ds.dataset(files, format="parquet").to_table(
        columns=COLS, filter=ds.field("term").isin(pa.array(terms, pa.string()))
    )


def _groups(directory, terms, part_ids=None):
    return {
        os.path.basename(f.path): g
        for f, g in termindex.lookup(directory, terms, part_ids)
    }


@pytest.fixture()
def unit(tmp_path):
    """One unit of two files: a salted term whose rows span two row groups,
    and plain terms whose group boundaries are known."""
    d = str(tmp_path / "unit=0")
    # 4-row groups: [a0 a1 b0 b1] [c0 c0 c0 c0] [c0 c0 d0 e0] [f0]
    head = _rows(["a0", "a1", "b0", "b1"]).to_pylist()
    head += [{"term": "c0", "salt": s, "df": 9} for s in range(6)]
    head += _rows(["d0", "e0", "f0"]).to_pylist()
    _write(os.path.join(d, "part-00000-x.parquet"), pa.Table.from_pylist(head, schema=SCHEMA))
    _write(os.path.join(d, "part-00001-y.parquet"), _rows(["g0", "h0", "i0", "j0", "k0"]))
    return d


@pytest.mark.parametrize(
    "terms",
    [
        ["c0"],              # salted: its rows span groups 1 and 2
        ["a0"],              # a group's min
        ["b1", "e0"],        # a group's max; a group's middle
        ["f0", "j0"],        # last group of each file
        ["zz", "0", "b5", "a5"],  # missing: after, before, between and inside the ranges
        ["a1", "h0", "zz"],  # both files of the unit, plus a missing term
        [],
    ],
)
def test_read_matches_filtered_scan(unit, terms):
    got = termindex.read(unit, terms, COLS)
    assert got.to_pylist() == _scan(unit, terms).to_pylist()
    assert got.column_names == COLS


def test_lookup_selects_only_the_groups_holding_the_terms(unit):
    assert _groups(unit, ["c0"]) == {"part-00000-x.parquet": [1, 2]}
    assert _groups(unit, ["a0"]) == {"part-00000-x.parquet": [0]}
    assert _groups(unit, ["d0", "h0"]) == {
        "part-00000-x.parquet": [2],
        "part-00001-y.parquet": [0],
    }
    # a missing term inside a group's range selects that group (the read
    # then filters it out); one outside every range selects nothing
    assert _groups(unit, ["a5"]) == {"part-00000-x.parquet": [0]}
    assert _groups(unit, ["b5"]) == {}
    assert _groups(unit, ["zz", "0"]) == {}


@pytest.fixture()
def hashed(tmp_path):
    """One unit of three files hash-partitioned by term, as a segment shuffle
    writes them: every file spans the vocabulary and its rows carry the
    writing task's part_id. The third file has no part_id column."""
    d = str(tmp_path / "unit=4")
    schema = SCHEMA.append(pa.field("part_id", pa.int32()))
    for pid in range(3):
        rows = [
            {"term": f"t{i:02d}", "salt": 0, "df": i, "part_id": pid}
            for i in range(pid, 60, 3)
        ]
        t = pa.Table.from_pylist(rows, schema=schema)
        _write(os.path.join(d, f"part-{pid}.parquet"), t if pid < 2 else t.drop(["part_id"]))
    return d


def test_part_ids_pick_the_file_holding_each_term(hashed):
    # term ranges alone: every file's groups bracket t30
    assert set(_groups(hashed, ["t30"])) == {"part-0.parquet", "part-1.parquet", "part-2.parquet"}
    # the pointer picks part 0; the file without part_id stays searched
    assert set(_groups(hashed, ["t30"], {"t30": {0}})) == {"part-0.parquet", "part-2.parquet"}
    assert set(_groups(hashed, ["t30", "t31"], {"t30": {0}, "t31": {1}})) == {
        "part-0.parquet", "part-1.parquet", "part-2.parquet"
    }
    # a term without pointers is in no file; a stale pointer searches all
    assert _groups(hashed, ["t30"], {}) == {}
    assert set(_groups(hashed, ["t30"], {"t30": {7}})) == {"part-0.parquet", "part-1.parquet", "part-2.parquet"}
    for terms, ptr in (
        (["t30", "t31", "t32"], {"t30": {0}, "t31": {1}, "t32": {2}}),
        (["t30", "t31"], {"t30": {7}, "t31": {1}}),
        (["t30", "zz"], {"t30": {0}}),
    ):
        got = termindex.read(hashed, terms, COLS, ptr)
        assert got.to_pylist() == _scan(hashed, terms).to_pylist()


def test_file_without_statistics_is_read_whole(tmp_path):
    d = str(tmp_path / "unit=1")
    _write(os.path.join(d, "a.parquet"), _rows(["a0", "b0", "c0"]))
    _write(
        os.path.join(d, "b.parquet"), _rows(["d0", "e0", "f0"], reps=3),
        write_statistics=False,
    )
    assert _groups(d, ["e0"]) == {"b.parquet": None}
    assert _groups(d, ["b0"]) == {"a.parquet": [0], "b.parquet": None}
    for terms in (["e0"], ["b0", "f0"], ["zz"]):
        assert termindex.read(d, terms, COLS).to_pylist() == _scan(d, terms).to_pylist()


def test_unsorted_file_is_read_whole(tmp_path):
    d = str(tmp_path / "unit=2")
    t = _rows(["a0", "b0", "c0", "d0", "e0", "f0"])
    _write(os.path.join(d, "a.parquet"), t.take([4, 5, 0, 1, 2, 3]), row_group_size=2)
    assert _groups(d, ["a0"]) == {"a.parquet": None}
    assert termindex.read(d, ["a0", "f0"], COLS).to_pylist() == _scan(d, ["a0", "f0"]).to_pylist()


def test_empty_result_keeps_the_columns(unit):
    got = termindex.read(unit, ["zz"], COLS)
    assert got.num_rows == 0
    assert got.schema == _scan(unit, ["a0"]).schema


def test_rewrite_rolls_the_cache(tmp_path):
    d = str(tmp_path / "unit=3")
    _write(os.path.join(d, "part-0-a.parquet"), _rows(["a0", "b0"]))
    assert termindex.read(d, ["b0"], COLS).num_rows == 1
    # a rewrite (new part-file names, as every Spark write mints) is seen
    os.remove(os.path.join(d, "part-0-a.parquet"))
    _write(os.path.join(d, "part-0-b.parquet"), _rows(["b0", "c0"], reps=2))
    assert termindex.read(d, ["b0"], COLS).num_rows == 2


def test_threaded_lookups_match_serial(tmp_path):
    """8 threads look terms up in a two-unit index with a cold cache (the
    driver tier reads units from a thread pool) and get the serial rows."""
    units = []
    for u in range(2):
        d = str(tmp_path / f"unit={u}")
        for p in range(2):
            terms = [f"t{u}{p}{i:03d}" for i in range(0, 200, 1 + p)]
            _write(os.path.join(d, f"part-{p}.parquet"), _rows(terms, reps=2), row_group_size=16)
        units.append(d)
    queries = [
        (units[i % 2], [f"t{i % 2}{i % 3 % 2}{(7 * i) % 200:03d}", f"t{i % 2}1{(11 * i) % 200:03d}", "zz"])
        for i in range(64)
    ]
    serial = [termindex.read(d, ts, COLS).to_pylist() for d, ts in queries]
    assert all(s == _scan(d, ts).to_pylist() for s, (d, ts) in zip(serial, queries))

    with termindex._LOCK:
        termindex._FOOTERS.clear()
    got = [None] * len(queries)
    barrier = threading.Barrier(8)

    def work(w):
        barrier.wait()
        for i in range(w, len(queries), 8):
            d, ts = queries[i]
            got[i] = termindex.read(d, ts, COLS).to_pylist()

    threads = [threading.Thread(target=work, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got == serial
