"""Sparse term index over term-sorted parquet files.

The lexicon and every segment file are written sorted by ``term``, so each
row group's footer statistics bracket a narrow term range. ``lookup``
keeps those (min, max) ranges per file and returns, for a set of query
terms, only the row groups whose range can hold one of them; ``read``
decodes just those groups and keeps the rows of the query terms. A lookup
then costs O(query terms x log row groups) plus the groups it reads, not
O(index): pyarrow's dataset ``isin`` filter prunes no row groups, so a
filtered scan decompresses every file it opens.

A unit's segment files are hash-partitioned by term, so every file's
range spans the whole vocabulary and term ranges alone cannot pick the
file. Each file is written by one shuffle task, whose id its rows carry
as ``part_id``; the footer's ``part_id`` range and the lexicon's (term ->
part_id) pointers then pick, per term, the file that holds it.

The ranges are read once per file set (a directory's ``*.parquet`` names:
merges and compaction write new Spark part-file names, so a rewrite rolls
the key) and kept in a locked, size-bounded cache, because the driver tier
reads units from a thread pool. A file without usable ``term`` statistics
(or not sorted by term) is read whole and filtered.

``scan`` serves term RANGES the same way (prefix, wildcard, regexp and
fuzzy expansion over the lexicon): the row groups whose footer range
meets ``[lo, hi)``, streamed in file order.
"""

from __future__ import annotations

import bisect
import os
import threading
from collections import OrderedDict
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TERM = "term"
PART_ID = "part_id"
# file sets whose footers are held; one per lexicon and per segment unit
# in use, so this bounds the cache at the driver tier's unit cap with room
# for a few index versions
_MAX_FILE_SETS = 128


class _Footer(NamedTuple):
    path: str
    metadata: pq.FileMetaData
    # per row group, ascending; None: no usable statistics -> whole file
    mins: list | None
    maxs: list | None
    # (min, max) of the top-level part_id column; None: no such column or
    # no statistics -> the file may hold any part id
    part_ids: tuple | None


_LOCK = threading.Lock()
_FOOTERS: OrderedDict = OrderedDict()


def _ranges(md: pq.FileMetaData, name: str) -> list | None:
    """Per row group (min, max) of top-level column ``name``; None when
    the column or any group's statistics are missing."""
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    if name not in paths:
        return None
    col = paths.index(name)
    out = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(col).statistics
        if st is None or not st.has_min_max:
            return None
        out.append((st.min, st.max))
    return out


def _load_footer(path: str) -> _Footer:
    md = pq.read_metadata(path)
    pids = _ranges(md, PART_ID)
    part_ids = None
    if pids:
        part_ids = (min(p[0] for p in pids), max(p[1] for p in pids))
    terms = _ranges(md, TERM)
    # the bisects below need string ranges in term order: each group's
    # range ends where the next one's starts (a term may span the boundary)
    if (
        terms is None
        or not all(isinstance(v, str) for r in terms for v in r)
        or any(terms[g][1] > terms[g + 1][0] for g in range(len(terms) - 1))
    ):
        return _Footer(path, md, None, None, part_ids)
    return _Footer(
        path, md, [r[0] for r in terms], [r[1] for r in terms], part_ids
    )


def _footers(directory: str) -> list[_Footer]:
    names = tuple(
        sorted(fn for fn in os.listdir(directory) if fn.endswith(".parquet"))
    )
    key = (directory, names)
    with _LOCK:
        got = _FOOTERS.get(key)
        if got is not None:
            _FOOTERS.move_to_end(key)
            return got
    # loaded outside the lock: two threads may both read a footer, and the
    # second insert is a no-op replacement with equal content
    got = [_load_footer(os.path.join(directory, fn)) for fn in names]
    with _LOCK:
        _FOOTERS[key] = got
        while len(_FOOTERS) > _MAX_FILE_SETS:
            _FOOTERS.popitem(last=False)
    return got


def lookup(
    directory: str, terms, part_ids: dict | None = None
) -> list[tuple[_Footer, list[int] | None]]:
    """-> [(file footer, row groups to read)] for the files that may hold
    any of ``terms``; the groups are None for a file read whole.

    Every group with min <= t <= max is selected, not only the first: a
    term's rows (a salted head term's several rows, or a run of rows across
    a group boundary) can span groups.

    ``part_ids`` ({term: part ids holding it}, the lexicon's pointers)
    restricts each term to the files whose ``part_id`` range holds one of
    its part ids; a term missing from it is in no file. A term whose part
    ids no file holds (a pointer older than the files) is looked up in
    every file."""
    return _select(_footers(directory), sorted(set(terms)), part_ids)


def _select(footers: list[_Footer], terms: list[str], part_ids) -> list:
    def holds(f, t):
        lo, hi = f.part_ids
        return any(lo <= p <= hi for p in part_ids[t])

    if part_ids is not None:
        terms = [t for t in terms if t in part_ids]
        pointed = [f for f in footers if f.part_ids is not None]
        stale = {t for t in terms if not any(holds(f, t) for f in pointed)}
    out = []
    for f in footers:
        ts = terms
        if part_ids is not None and f.part_ids is not None:
            ts = [t for t in terms if t in stale or holds(f, t)]
        if not ts:
            continue
        if f.mins is None:
            out.append((f, None))
            continue
        groups: set[int] = set()
        for t in ts:
            # first group whose max reaches t .. last group whose min is <= t
            groups.update(
                range(bisect.bisect_left(f.maxs, t), bisect.bisect_right(f.mins, t))
            )
        if groups:
            out.append((f, sorted(groups)))
    return out


def read(
    directory: str, terms, columns: list[str], part_ids: dict | None = None
) -> pa.Table:
    """Rows of ``terms`` (``columns``, which must include ``term``) from the
    term-sorted parquet files in ``directory``, reading only the row groups
    ``lookup`` selects; file order, then row order within each file."""
    terms = sorted(set(terms))
    footers = _footers(directory)
    parts = []
    for f, groups in _select(footers, terms, part_ids):
        with pq.ParquetFile(f.path, metadata=f.metadata) as pf:
            if groups is None:
                parts.append(pf.read(columns=columns))
            else:
                parts.append(pf.read_row_groups(groups, columns=columns))
    if not parts:
        schema = footers[0].metadata.schema.to_arrow_schema()
        return schema.empty_table().select(columns)
    t = pa.concat_tables(parts)
    return t.filter(pc.is_in(t[TERM], value_set=pa.array(terms, pa.string())))


def scan(
    directory: str, columns: list[str], lo: str | None = None,
    hi: str | None = None,
):
    """Yield record batches of ``columns`` (which must include ``term``)
    holding the rows with ``lo <= term < hi`` (an open end when None),
    reading only the row groups with max >= lo and min < hi; file order,
    then row order — lexicographic term order over a range-partitioned
    set whose file names sort by partition."""
    for f in _footers(directory):
        groups = None
        if f.mins is not None:
            first = 0 if lo is None else bisect.bisect_left(f.maxs, lo)
            end = len(f.mins) if hi is None else bisect.bisect_left(f.mins, hi)
            if first >= end:
                continue
            groups = list(range(first, end))
        with pq.ParquetFile(f.path, metadata=f.metadata) as pf:
            for b in pf.iter_batches(64 * 1024, groups, columns):
                if lo is not None:
                    b = b.filter(pc.greater_equal(b.column(TERM), lo))
                if hi is not None:
                    b = b.filter(pc.less(b.column(TERM), hi))
                if b.num_rows:
                    yield b


def file_bytes(directory: str) -> int:
    """Total size of the parquet files in ``directory``."""
    return sum(os.path.getsize(f.path) for f in _footers(directory))
