"""Query engine: top-k BM25 over the segment index.

Lifecycle (SURVEY.md §3.4):
  driver: lexicon lookup for the query terms (``termindex``: only the
          row groups of the term-sorted lexicon whose footer term range
          holds a query term are read) -> idf per term from global df;
          global stats from lineage
  executors: segments parquet scanned with term IN (...) pushdown — only
          the query terms' posting rows are read (row-group pruning works
          because segment files are written sorted by term) -> per-unit
          block-max scoring in an Arrow-grouped UDF (a doc's postings live
          entirely in one unit, so unit-local scores are final)
  driver: global top-k via orderBy(score DESC, doc_id ASC).limit(k) —
          Spark compiles this to TakeOrderedAndProject (distributed
          partial top-k, no full sort).

The small idf/avgdl dict rides the UDF closure (broadcast-equivalent at
this size — a handful of floats per query term).
"""

from __future__ import annotations

import functools
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

from . import bm25, merge, termindex, wand
from .build import docs_path, segments_path

# ---- per-unit docs sidecar -----------------------------------------------
# Format v3 postings carry dense segment-local ORDINALS (hash-stripe
# order, deterministic pure function of doc_id — see build.ORD_SHIFT) and
# no doclen; the unit's docs table is the sidecar that maps ordinal ->
# (doc_id, doclen) (Lucene's .nvd norms + stored-id lookup). One load
# serves doclen gather and ordinal->doc_id emission (ordinal-sorted view)
# plus doc_id->ordinal translation of tombstone/filter sets (doc-sorted
# view). Cached in the executor's Python worker (workers are reused
# across queries); compaction rewrites the unit's files under new names,
# which rolls the cache key.


class _UnitSidecar:
    __slots__ = (
        "ords", "doc_ids", "dls", "docs_sorted", "ords_by_doc",
        "_run_ord", "_run_idx",
    )

    def __init__(self, ords, doc_ids, dls):
        import numpy as np

        self.ords = ords          # sorted ascending (hash-stripe order)
        self.doc_ids = doc_ids    # aligned to ords — NOT sorted themselves
        self.dls = dls
        by_doc = np.argsort(doc_ids)  # second view for doc_id -> ord lookups
        self.docs_sorted = doc_ids[by_doc]
        self.ords_by_doc = ords[by_doc]

    def _row_of(self, ords):
        """ordinal array -> row indices into the sidecar arrays.

        Ordinals are CONTIGUOUS per build task (pid << ORD_SHIFT + rank,
        quarantined docs consume none), so the ord-sorted sidecar is a few
        contiguous runs: binary search over the ~P run heads + offset
        arithmetic replaces a log(n_docs) searchsorted per probe over the
        full (mmap'd) ordinal array — the dl/doc gather was the largest
        single cost of scoring df≈n_docs head terms. Falls back gracefully
        for ANY ord layout (a run per element at worst = the old cost)."""
        import numpy as np

        try:
            r_ord, r_idx = self._run_ord, self._run_idx
        except AttributeError:
            o = np.asarray(self.ords)
            if o.size:
                starts = np.flatnonzero(np.diff(o) != 1) + 1
                r_idx = np.concatenate(
                    (np.zeros(1, dtype=np.int64), starts)
                ).astype(np.int64)
                r_ord = o[r_idx]
            else:
                r_idx = np.zeros(0, dtype=np.int64)
                r_ord = np.zeros(0, dtype=np.int64)
            self._run_ord, self._run_idx = r_ord, r_idx
        r = np.searchsorted(r_ord, ords, side="right") - 1
        return r_idx[r] + (ords - r_ord[r])

    def dl_of(self, ords):
        import numpy as np

        if ords.size == 0:
            return np.zeros(0, dtype=np.int64)
        # every posting ordinal exists in the sidecar by construction
        return self.dls[self._row_of(ords)]

    def doc_of(self, ords):
        """ordinals -> doc_ids (result emission / tie-break mapping)."""
        if ords.size == 0:
            return ords
        return self.doc_ids[self._row_of(ords)]

    def ords_of_docs(self, docs):
        """sorted doc_ids -> SORTED ordinals of those PRESENT in the unit
        (absent ids — e.g. tombstones for other units' docs — drop out).
        None in, None out."""
        import numpy as np

        if docs is None or docs.size == 0:
            return docs
        if self.docs_sorted.size == 0:  # zero-doc unit: nothing present
            return None
        pos = np.searchsorted(self.docs_sorted, docs)
        pos = np.minimum(pos, self.docs_sorted.size - 1)
        m = self.docs_sorted[pos] == docs
        out = np.sort(self.ords_by_doc[pos[m]])
        return out if out.size else None


_SIDECAR_CACHE: dict = {}

# on-disk binary cache beside the parquet (Lucene .nvd analog): 5 int64
# rows — [ord, doc_id, doclen] ordinal-sorted + [docs_sorted, ords_by_doc]
# for the reverse lookup. Loaded with mmap_mode="r", so the OS page cache
# shares ONE copy across every Python worker on the node and a query's
# first touch faults in only the pages it reads — the per-worker
# parquet-decode+sort cold start (seconds per unit at millions of docs)
# drops to ~0. The leading "_" keeps Spark and pyarrow dataset discovery
# from treating it as data. Lifecycle: builds write the docs dir fresh
# (overwrite wipes it) and compact swaps the whole dir, so a cache file
# never outlives the parquet it was derived from.
_SIDECAR_CACHE_FILE = "_sidecar_v1.npy"


def _sidecar(index_dir: str, unit: int) -> _UnitSidecar:
    import os as _os

    import numpy as np

    d = _os.path.join(docs_path(index_dir), f"unit={int(unit)}")
    # keyed on the parquet file-set: compact swaps the directory at the
    # same path, and a stale mmap would silently serve the deleted inode
    key = (
        d,
        tuple(sorted(fn for fn in _os.listdir(d) if fn.endswith(".parquet"))),
    )
    ent = _SIDECAR_CACHE.get(key)
    if ent is not None:
        return ent
    cache = _os.path.join(d, _SIDECAR_CACHE_FILE)
    if not _os.path.exists(cache):
        import pyarrow.dataset as ds

        t = ds.dataset(d, format="parquet").to_table(
            columns=["ord", "doc_id", "doclen"]
        )
        o = t["ord"].to_numpy(zero_copy_only=False).astype(np.int64)
        doc = t["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        dl = t["doclen"].to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.argsort(o)
        o, doc, dl = o[order], doc[order], dl[order]
        by_doc = np.argsort(doc)
        arr = np.stack([o, doc, dl, doc[by_doc], o[by_doc]])
        tmp = cache + f".tmp-{_os.getpid()}"
        with open(tmp, "wb") as f:
            np.save(f, arr)
        _os.replace(tmp, cache)  # atomic, idempotent (identical content)
    m = np.load(cache, mmap_mode="r")
    ent = _UnitSidecar.__new__(_UnitSidecar)
    ent.ords, ent.doc_ids, ent.dls = m[0], m[1], m[2]
    ent.docs_sorted, ent.ords_by_doc = m[3], m[4]
    if len(_SIDECAR_CACHE) >= 64:
        # evict ONE entry (insertion order ≈ oldest) — clearing the whole
        # cache would drop every hot unit on a single overflow
        _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
    _SIDECAR_CACHE[key] = ent
    return ent


# tombstone sets larger than this never ride task closures/broadcasts —
# `search` switches to the distributed anti-join escalation path instead
TOMBSTONE_CLOSURE_LIMIT = 1_000_000


def _tombstone_excluder(index_dir: str):
    """-> callable(unit) -> sorted int64 exclude array or None.

    Unit-scoped: a tombstone (doc, snapshot s) suppresses the doc only in
    units built from snapshots OLDER than s — the snapshot-s delta unit
    holds the live version (LSN-as-version semantics, search_adapter.go:179-184)."""
    return _tombstone_excluder_bounded(index_dir, limit=None)[0]


def _tombstone_excluder_bounded(index_dir: str, limit: int | None):
    """-> (for_unit callable | None, big: bool).

    ``big`` is True when the tombstone set exceeds ``limit`` rows (checked
    FIRST on file bytes so an enormous set is never even read onto the
    driver): the caller must use the distributed anti-join path instead of
    shipping the array to scorers. limit=None never flags big (entry
    points without an anti-join fallback keep the closure behavior)."""
    import os as _os

    import numpy as np

    from .incremental import _tombstone_files, load_tombstones, unit_snapshots

    none_fn = lambda unit: None  # noqa: E731
    files = _tombstone_files(index_dir)
    if not files:
        return none_fn, False
    if limit is not None:
        # ~16 B/row is a generous parquet floor for (int64, int64) rows —
        # past this the set cannot fit the limit, skip the driver read
        if sum(_os.path.getsize(f) for f in files) > 64 * limit:
            return None, True
    tombs = load_tombstones(index_dir)
    if tombs is None:
        return none_fn, False
    docs, snaps = tombs
    if limit is not None and docs.size > limit:
        return None, True
    usnap = unit_snapshots(index_dir)

    def for_unit(unit):
        ex = docs[snaps > usnap.get(int(unit), 0)]
        return ex if ex.size else None

    return for_unit, False

RESULT_SCHEMA = "doc_id bigint, score double"
BATCH_RESULT_SCHEMA = "query_id int, doc_id bigint, score double"


# ---- driver small-query tier ---------------------------------------------
# A top-k query's real work is O(total postings of its terms); when that
# total is small (bounded below), scheduling a Spark job (scan + shuffle +
# Python workers + TakeOrdered: ~0.5 s of fixed cost at any data size)
# dwarfs the work itself. Small queries therefore run entirely on the
# driver: the same segment rows the executors would read (only the row
# groups ``termindex`` selects from the footers), the SAME per-unit
# kernel, the SAME (score DESC, doc_id ASC) merge — bit-identical results
# (the kernels are order-insensitive: per-doc sums accumulate in sorted
# term order, see wand._exact_topk). This is the coordinating-node shape
# of a search engine: a query touching a few hundred KB of postings is one
# node's work; the cluster is for the queries (and corpora) that aren't.
#
# The tier serves every family that goes through ``_execute`` with a k:
# ``search`` (no filter_df, tombstones within TOMBSTONE_CLOSURE_LIMIT),
# ``search_after``, ``search_phrase``, ``search_phrase_prefix``,
# ``search_proximity`` and ``search_min_should_match``; ``search_batch``
# has its own driver branch under the same gate.
#
# The gate is a hard byte bound, not a heuristic: sum(df) over the query's
# terms (already in hand from the lexicon lookup) x 16 B/posting decode
# working set, plus, for positional kernels, sum(cf) x 16 B (the repeated
# doc array and the positions ``wand.score_phrase`` decodes), must fit
# PGSPARK_QUERY_DRIVER_BYTES (default 64 MB; 0 disables the tier
# entirely). Unit count is capped so a many-unit index never serializes
# per-unit scoring on the driver. Everything over the gate takes the
# distributed path unchanged.
_DRIVER_TIER_DEFAULT_BYTES = 64 << 20
_DRIVER_TIER_MAX_UNITS = 64
# int64 doc + int64 tf per decoded posting; int64 repeated doc + int64
# position per decoded position
_POSTING_DECODE_BYTES = 16


def _driver_tier_cap() -> int:
    import os as _os

    try:
        return int(
            _os.environ.get(
                "PGSPARK_QUERY_DRIVER_BYTES", _DRIVER_TIER_DEFAULT_BYTES
            )
        )
    except ValueError:
        return _DRIVER_TIER_DEFAULT_BYTES


def _driver_tier_ok(
    units: list, dfs: dict, terms: list[str], cfs: dict | None = None
) -> bool:
    """``cfs`` (term -> global cf) is given for positional kernels."""
    cap = _driver_tier_cap()
    if cap <= 0 or len(units) > _DRIVER_TIER_MAX_UNITS:
        return False
    n = sum(int(dfs.get(t, 0)) for t in terms)
    if cfs is not None:
        n += sum(int(cfs.get(t, 0)) for t in terms)
    return n * _POSTING_DECODE_BYTES <= cap


_SEG_COLS = [
    "term", "df", "postings",
    "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
]
_SEG_POS_COLS = _SEG_COLS[:3] + ["positions"] + _SEG_COLS[3:]


def _unit_seg_pdf(
    index_dir: str, unit: int, terms: list[str], part_ids=None,
    columns: list[str] = _SEG_COLS,
):
    """Driver-side read of one unit's segment ``columns`` for ``terms`` ->
    pandas (the same columns the distributed scan selects).

    ``part_ids``: the lexicon entries' pointers for this unit, {term ->
    part_ids} (``_unit_part_ids``) — the term-dictionary -> posting-file
    indirection. ``termindex`` matches them against each file's footer
    ``part_id`` range to pick the file holding each term (the unit's files
    are hash-partitioned by term, so every file spans the vocabulary), and
    the footer term ranges to pick the row groups inside it: the read
    decodes the query terms' groups, not the unit. Without the pointers
    every file is searched for every term."""
    import os as _os

    d = _os.path.join(segments_path(index_dir), f"unit={int(unit)}")
    return termindex.read(d, terms, columns, part_ids).to_pandas()


def _unit_part_ids(
    parts: dict, terms: list[str], units: list
) -> dict[int, dict[str, set[int]]]:
    """Lexicon entry pointers -> {unit: {term: part_ids holding it}}.
    A unit with an empty mapping holds none of the terms and is skipped
    entirely (the distributed path's groupBy produces no group there)."""
    out: dict[int, dict[str, set[int]]] = {int(u): {} for u in units}
    for t in terms:
        for u, pid in parts.get(t, ()):
            if int(u) in out:
                out[int(u)].setdefault(t, set()).add(int(pid))
    return out


def _map_units(units: list, fn) -> list:
    """Run the tier's per-unit work concurrently (decode/score kernels are
    numpy and release the GIL) — halves heavy-query latency on multi-unit
    indexes; results are order-independent (the caller's global merge
    sorts). Serial for one unit."""
    units = [int(u) for u in units]
    if len(units) < 2:
        return [fn(u) for u in units]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(units))) as pool:
        return list(pool.map(fn, units))


def _topk_rows(rows: list, k: int) -> list:
    """Global (score DESC, doc_id ASC) top-k merge of per-unit emissions —
    the driver-tier equivalent of orderBy(desc(score), asc(doc_id)).limit(k)."""
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def _sql_lit(v, t: str) -> str:
    t = t.strip().lower()
    if t == "double":
        # repr(float) is the shortest round-trip form; the JVM's
        # string->double parse is correctly rounded, so the score survives
        # bit-exactly through the SQL literal
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if t == "string":
        return "'" + str(v).replace("'", "''") + "'"
    return f"CAST({int(v)} AS {t.upper()})"


def _values_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-computed result list -> DataFrame as a LocalRelation (SQL
    VALUES; a WHERE-false projection for the empty case, cached per schema
    on the session — createDataFrame([], schema) builds an RDD-backed plan
    whose every collect schedules a Spark job, ~0.3 s for nothing)."""
    fields = [f.strip().split(None, 1) for f in schema.split(",")]
    if not rows:
        cache = getattr(spark, "_pgspark_empty_dfs", None)
        if cache is None:
            cache = {}
            spark._pgspark_empty_dfs = cache
        df = cache.get(schema)
        if df is None:
            cols = ", ".join(
                f"CAST(NULL AS {t.upper()}) AS {n}" for n, t in fields
            )
            df = spark.sql(f"SELECT {cols} WHERE false")
            cache[schema] = df
        return df
    names = ", ".join(f[0] for f in fields)
    sql_rows = ", ".join(
        "(" + ", ".join(_sql_lit(v, f[1]) for v, f in zip(r, fields)) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM (VALUES {sql_rows}) AS t({names})")


_PY_COERCE = {
    "int": int, "integer": int, "bigint": int, "long": int,
    "smallint": int, "tinyint": int,
    "double": float, "float": float, "real": float,
}


class _DriverLocalDataFrame(_ClassicDataFrame):
    """DataFrame over a small driver-computed result (the query tier).

    ``collect()`` returns the precomputed rows directly: the tier already
    holds the exact result, and round-tripping it through a freshly built
    JVM plan costs ~35-40 ms of per-DataFrame QueryExecution fixed cost
    (parse/analyze/optimize/execute — measured on a 10-row LocalRelation,
    guide §1/§5 "the driver") for zero information. Every OTHER DataFrame
    operation (toPandas, filter, join, schema, ...) works unchanged
    through a lazily built LocalRelation (SQL VALUES) over the SAME rows,
    so semantics are identical to returning the VALUES DataFrame itself —
    only the collect() hot path skips the JVM detour."""

    def __new__(cls, session: SparkSession, rows: list, schema: str):
        # the classic base class pins __new__(jdf, sql_ctx); this subclass
        # constructs from (session, rows, schema) instead
        return object.__new__(cls)

    def __init__(self, session: SparkSession, rows: list, schema: str):
        # the subset of _ClassicDataFrame.__init__ state that base-class
        # methods read (pinned by tests/test_driver_tier.py round-trips)
        self._session = session
        self._sc = session._sc
        self.is_cached = False
        self._support_repr_html = False
        fields = [f.strip().split(None, 1) for f in schema.split(",")]
        coerce = [_PY_COERCE.get(t.lower(), lambda v: v) for _, t in fields]
        self._pg_rows = [
            tuple(c(v) for c, v in zip(coerce, r)) for r in rows
        ]
        self._pg_row_cls = Row(*[n for n, _ in fields])
        self._pg_schema = schema
        self._pg_jdf = None

    @property
    def _jdf(self):
        if self._pg_jdf is None:
            self._pg_jdf = _values_df(
                self._session, self._pg_rows, self._pg_schema
            )._jdf
        return self._pg_jdf

    def collect(self) -> list:
        rc = self._pg_row_cls
        return [rc(*r) for r in self._pg_rows]


def _local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Tiny driver-computed result list -> DataFrame whose collect() is
    driver-side (see _DriverLocalDataFrame); any other use falls back to a
    LocalRelation (SQL VALUES) plan over the same rows — no Spark job, no
    Python-worker roundtrip either way."""
    return _DriverLocalDataFrame(spark, rows, schema)


def _seg_scan(spark: SparkSession, index_dir: str, units: list[int]) -> DataFrame:
    """Segment scan over the COMMITTED units listed in stats.json (the
    merge-time manifest view). Reading explicit ``unit=<u>`` dirs (with
    basePath so the unit partition column survives) rather than the whole
    segments/ tree means a query can never observe an orphan unit dir —
    staged fold output, or a fold's retired source units awaiting physical
    cleanup (incremental.merge_units publishes its cutover by rewriting
    stats.json/lexicon, exactly like an alias flip)."""
    import os as _os

    base = segments_path(index_dir)
    return spark.read.option("basePath", base).parquet(
        *[_os.path.join(base, f"unit={int(u)}") for u in units]
    )


def _docs_scan(spark: SparkSession, index_dir: str, units: list[int]) -> DataFrame:
    """Docs-sidecar scan with the same committed-units discipline."""
    import os as _os

    base = docs_path(index_dir)
    return spark.read.option("basePath", base).parquet(
        *[_os.path.join(base, f"unit={int(u)}") for u in units]
    )


def _term_stats(
    spark: SparkSession, index_dir: str, terms: list[str], n_docs: int
) -> tuple[dict, dict, dict, dict]:
    """Lexicon lookup. Missing terms are simply absent (score 0
    everywhere), like any search engine.

    Read directly with pyarrow on the driver, no Spark job: the lexicon is
    range-partitioned and sorted by term and written in small row groups
    (``merge.LEXICON_ROWGROUP_ROWS``), so ``termindex`` reads only the
    groups whose footer term range holds a query term — a few thousand rows
    however large the lexicon. The df and cf sides feed the driver-tier
    byte gate at zero extra I/O.

    Returns (term -> idf, term -> global df, term -> [(unit, part_id)],
    term -> global cf)."""
    if not terms:
        return {}, {}, {}, {}
    table = termindex.read(
        merge.lexicon_path(index_dir), terms, merge.LEXICON_COLS
    )
    idfs, dfs, parts, cfs = {}, {}, {}, {}
    for term, df_total, cf_total, ents in zip(
        *(table[c].to_pylist() for c in merge.LEXICON_COLS)
    ):
        idfs[term] = float(bm25.idf(n_docs, df_total))
        dfs[term] = int(df_total)
        cfs[term] = int(cf_total)
        parts[term] = [(int(e["unit"]), int(e["part_id"])) for e in ents]
    return idfs, dfs, parts, cfs


def _split_must_not(pdf, neg_terms):
    """Split a unit's segment rows into (positive rows, excluded doc array).

    must_not semantics (OpenSearch bool.must_not: pure filter context, no
    score contribution): any doc containing ANY excluded term is removed
    from the match set. The exclusion doc set decodes ONLY doc ids from
    the neg terms' lists (no tf/score work) and merges into the scorer's
    exclude array — the same mechanism as tombstones."""
    import numpy as np

    from . import codecs

    if not neg_terms:
        return pdf, None
    m = pdf["term"].isin(list(neg_terms))
    if not m.any():
        return pdf, None
    neg = pdf[m]
    blobs = neg["postings"].tolist()
    offs = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offs[1:])
    doc, _, _ = codecs.decode_postings_flat(
        np.frombuffer(b"".join(blobs), dtype=np.uint8), offs,
        neg["df"].to_numpy(dtype=np.int64),
    )
    return pdf[~m], np.unique(doc)


def _merge_excludes(a, b):
    import numpy as np

    if a is None:
        return b
    if b is None:
        return a
    return np.union1d(a, b)


def _rows_to_lists(pdf, idfs: dict[str, float]) -> list[dict]:
    with_pos = "positions" in pdf.columns
    return [
        {
            "term": r.term,
            "idf": idfs[r.term],
            "df": int(r.df),
            "postings": r.postings,
            "block_last_doc": r.block_last_doc,
            "block_max_tf": r.block_max_tf,
            "block_min_dl": r.block_min_dl,
            "block_offset": r.block_offset,
            **({"positions": r.positions} if with_pos else {}),
        }
        for r in pdf.itertuples()
    ]


# ---- the per-unit executor -------------------------------------------------
# Every scoring family is a spec: the terms it scores, the terms the
# lexicon must hold, whether the kernel reads positions, and one per-unit
# kernel with the wand scorer signature
#     kernel(lists, avgdl, k, sc, exclude=None) -> (doc_ids, scores)
# (k=None: every match). ``_plan`` runs the lexicon lookup and the
# tombstone excluder once; ``_run`` then executes the same kernel either on
# the driver tier or as one groupBy("unit").applyInPandas job, and builds
# the result DataFrame. A doc's postings all live in its own unit, so unit
# top-k emissions merge into the exact global top-k.


class _Spec(NamedTuple):
    terms: list[str]                 # scored terms (sorted, distinct)
    kernel: Callable
    k: int | None
    required: tuple = ()             # absent from the lexicon -> no match
    min_terms: int = 1               # fewer present terms -> no match
    neg_terms: tuple = ()            # must_not: docs holding any are excluded
    positions: bool = False


class _Plan(NamedTuple):
    stats: dict
    idfs: dict                       # present scored term -> idf
    neg: list                        # present must_not terms
    dfs: dict
    cfs: dict
    parts: dict
    # None when the tombstone set exceeds the limit: too big for closures
    excluder: Callable | None


def _plan(
    spark: SparkSession, index_dir: str, spec: _Spec,
    tombstone_limit: int = TOMBSTONE_CLOSURE_LIMIT,
) -> _Plan | None:
    """Lexicon lookup + tombstone excluder for ``spec`` -> None when no doc
    can match (a required term or too many terms are absent)."""
    stats = merge.load_stats(index_dir)
    idfs, dfs, parts, cfs = _term_stats(
        spark, index_dir, sorted(set(spec.terms) | set(spec.neg_terms)),
        stats["n_docs"],
    )
    neg = [t for t in spec.neg_terms if t in idfs]
    idfs = {t: idfs[t] for t in spec.terms if t in idfs}
    if len(idfs) < spec.min_terms or any(t not in idfs for t in spec.required):
        return None
    excluder, _ = _tombstone_excluder_bounded(index_dir, tombstone_limit)
    return _Plan(stats, idfs, neg, dfs, cfs, parts, excluder)


def _seg_rows(spark: SparkSession, index_dir: str, plan: _Plan, cols: list[str]):
    """Distributed scan of every committed unit's rows for the plan's
    terms (scored + must_not)."""
    return (
        _seg_scan(spark, index_dir, plan.stats["units"])
        .filter(F.col("term").isin(sorted(plan.idfs) + plan.neg))
        .select("unit", *cols)
    )


def _run(spark: SparkSession, index_dir: str, spec: _Spec, plan: _Plan) -> DataFrame:
    """Score ``plan`` with ``spec.kernel`` on the driver tier when the byte
    gate admits it, else in one Spark job -> DataFrame(doc_id, score),
    (score DESC, doc_id ASC) top-k; unordered every-match when k is None."""
    units = plan.stats["units"]
    avgdl = float(plan.stats["avgdl"])
    idfs, neg, k = plan.idfs, plan.neg, spec.k
    read = sorted(idfs) + neg
    cols = _SEG_POS_COLS if spec.positions else _SEG_COLS

    def score(unit, pdf, excluder):
        sc = _sidecar(index_dir, unit)
        # neg docs decode as ordinals; tombstone doc_ids translate to them
        pdf, neg_ords = _split_must_not(pdf, neg)
        return spec.kernel(
            _rows_to_lists(pdf, idfs), avgdl, k, sc,
            exclude=_merge_excludes(sc.ords_of_docs(excluder(unit)), neg_ords),
        )

    if (
        k is not None
        and plan.excluder is not None
        and _driver_tier_ok(
            units, plan.dfs, read, plan.cfs if spec.positions else None
        )
    ):
        up = _unit_part_ids(plan.parts, read, units)

        def unit_rows(u: int) -> list:
            if not up[u]:
                return []
            pdf = _unit_seg_pdf(index_dir, u, read, part_ids=up[u], columns=cols)
            if len(pdf) == 0:
                return []
            docs, scores = score(u, pdf, plan.excluder)
            return list(zip(docs.tolist(), scores.tolist()))

        rows = [r for rs in _map_units(units, unit_rows) for r in rs]
        return _local_df(spark, _topk_rows(rows, k), RESULT_SCHEMA)

    excluder = plan.excluder or _tombstone_excluder(index_dir)

    def score_unit(key, pdf):
        import pandas as pd

        docs, scores = score(key[0], pdf, excluder)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    per_unit = _seg_rows(spark, index_dir, plan, cols).groupBy("unit").applyInPandas(
        score_unit, schema=RESULT_SCHEMA
    )
    if k is None:
        # every match, un-ordered and un-limited (a live doc exists in
        # exactly one unit, so the union needs no dedup)
        return per_unit
    return per_unit.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _execute(spark: SparkSession, index_dir: str, spec: _Spec) -> DataFrame:
    plan = _plan(spark, index_dir, spec)
    if plan is None:
        return _local_df(spark, [], RESULT_SCHEMA)
    return _run(spark, index_dir, spec, plan)


def search(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    strategy: str = "maxscore",
    mode: str = "or",
    filter_df: DataFrame | None = None,
    filter_broadcast_limit: int = 4_000_000,
    tombstone_closure_limit: int = TOMBSTONE_CLOSURE_LIMIT,
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Top-k BM25 -> DataFrame(doc_id, score), (score DESC, doc_id ASC).

    ``mode``: "or" (default — any query term) or "and" (conjunctive: docs
    must contain every term; the reference's search traffic shape via the
    OpenSearch bool/must DSL).
    ``exclude_terms``: bool.must_not — docs containing ANY of these terms
    are removed from the match set (pure filter context, no score
    contribution). The exclusion doc set is computed per unit from the
    excluded terms' posting lists (doc-id decode only) and merged into the
    scorer's tombstone exclude array.
    ``filter_df``: optional DataFrame with a doc_id column — a metadata
    pre-filter (e.g. docs.filter(lang = 'en')). The filter executes BEFORE
    scoring (the OpenSearch bool-query filter-context shape: filters run
    first, scoring only over survivors), with per-unit emission bounded by
    k — never n_docs. Three tiers by filter cardinality:

    - |filter| <= ``filter_broadcast_limit``: the doc-id set rides a
      broadcast into the scorers as an ``include`` mask (same mechanism as
      tombstone ``exclude``); each unit emits its top-k of the filtered
      docs — exact.
    - complement small (filter keeps almost everything): broadcast the
      complement (indexed docs NOT in the filter) merged into the
      tombstone exclude set — exact, same bound.
    - both sides huge (mid-selectivity at extreme scale): escalating
      two-phase — score per-unit top-c (c = 4k, growing 4x), semi-join
      the filter distributively, and accept the global top-k only when
      the kth filtered score strictly beats every non-exhausted unit's
      lowest emitted score (no unemitted doc can outrank it); else
      escalate c. Exact at every exit.

    Between an incremental delta and the next compaction, n_docs/avgdl are
    tombstone-corrected at merge time; per-term df still counts superseded
    versions (Lucene deleted-docs-affect-docFreq semantics); tombstoned
    docs are excluded from results either way."""
    terms = sorted(set(terms))
    scorer = wand.STRATEGIES[strategy]
    if mode == "and":
        scorer = functools.partial(wand.score_conjunctive, n_required=len(terms))
    spec = _Spec(
        terms, scorer, k,
        required=tuple(terms) if mode == "and" else (),
        neg_terms=tuple(sorted(set(exclude_terms or []))),
    )
    plan = _plan(spark, index_dir, spec, tombstone_closure_limit)
    if plan is None:
        return _local_df(spark, [], RESULT_SCHEMA)
    if plan.excluder is not None and filter_df is None:
        return _run(spark, index_dir, spec, plan)

    seg = _seg_rows(spark, index_dir, plan, _SEG_COLS)
    avgdl = float(plan.stats["avgdl"])
    n_docs = int(plan.stats["n_docs"])
    if plan.excluder is None:
        # tombstone set beyond the closure limit: unit-scoped exclusion
        # runs as a DISTRIBUTED anti-join over per-unit top-c emissions
        # (escalating until the kth kept score is provably final) — the
        # doc-id array never touches the driver or the task closures
        return _search_escalating(
            spark, index_dir, seg, plan.idfs, avgdl, scorer, k, n_docs,
            excluder=None,
            semi_df=filter_df.select("doc_id") if filter_df is not None else None,
            tomb_anti=True, neg_terms=plan.neg,
        )
    return _search_filtered(
        spark, index_dir, seg, plan.idfs, avgdl, scorer, k, plan.excluder,
        filter_df, filter_broadcast_limit, n_docs, neg_terms=plan.neg,
    )


def search_after(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    after: tuple[float, int] = (float("inf"), -1),
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Deep pagination (the OpenSearch ``search_after`` cursor): the next
    k results STRICTLY after ``after`` = (score, doc_id) in the global
    (score DESC, doc_id ASC) order -> DataFrame(doc_id, score).

    Stateless and exact at any page depth: each unit computes its local
    top-k among after-cursor docs (``wand.score_exhaustive_after`` — the
    cursor mask is applied to FINAL scores, which is why this path is
    exhaustive rather than MaxScore: no partial-score threshold is sound
    when eligibility depends on the final score vs the cursor), per-unit
    emission stays <= k, and the global merge is a TakeOrderedAndProject.
    Unlike from+size pagination, memory is O(k) per unit regardless of
    depth. Cursor equality is reliable because page N's scores were
    computed by this same accumulation order (bit-identical floats)."""
    cursor = (float(after[0]), int(after[1]))
    return _execute(spark, index_dir, _Spec(
        sorted(set(terms)),
        functools.partial(wand.score_exhaustive_after, after=cursor), k,
        neg_terms=tuple(sorted(set(exclude_terms or []))),
    ))


UNIT_RESULT_SCHEMA = "unit int, doc_id bigint, score double"


# diagnostics: which filtered-search tier the last `search` call used
# ("include" | "exclude-complement" | "escalate") — asserted in tests
_LAST_FILTER_MODE: str | None = None


def _search_filtered(
    spark, index_dir, seg, idfs, avgdl, scorer, k, excluder,
    filter_df, broadcast_limit, n_docs, neg_terms=(),
):
    """Filtered search tiers (see ``search`` docstring). Returns the final
    top-k DataFrame; every tier bounds per-unit scorer emission to <= the
    current candidate count (k, or c during escalation), never n_docs."""
    global _LAST_FILTER_MODE
    import numpy as np

    fl = filter_df.select("doc_id")
    ids_pdf = fl.limit(broadcast_limit + 1).toPandas()
    if len(ids_pdf) <= broadcast_limit:
        _LAST_FILTER_MODE = "include"
        include = np.unique(ids_pdf["doc_id"].to_numpy(dtype="int64"))
        inc_bc = spark.sparkContext.broadcast(include)

        def score_inc(key, pdf):
            import pandas as pd

            sc = _sidecar(index_dir, key[0])
            pdf, neg_ords = _split_must_not(pdf, neg_terms)
            inc = sc.ords_of_docs(inc_bc.value)
            if inc is None:  # no filtered doc lives in this unit
                inc = np.zeros(0, dtype=np.int64)
            docs, scores = scorer(
                _rows_to_lists(pdf, idfs), avgdl, k, sc,
                exclude=_merge_excludes(sc.ords_of_docs(excluder(key[0])), neg_ords),
                include=inc,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        per_unit = seg.groupBy("unit").applyInPandas(score_inc, schema=RESULT_SCHEMA)
        # filter already applied inside the scorers — no semi-join needed
        return per_unit.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # filter too big to broadcast — is its COMPLEMENT (within the indexed
    # docs) small? A keep-almost-everything filter excludes few docs.
    docs_all = _docs_scan(
        spark, index_dir, merge.load_stats(index_dir)["units"]
    ).select("doc_id")
    comp_pdf = (
        docs_all.join(fl, "doc_id", "left_anti").limit(broadcast_limit + 1).toPandas()
    )
    if len(comp_pdf) <= broadcast_limit:
        _LAST_FILTER_MODE = "exclude-complement"
        comp = np.unique(comp_pdf["doc_id"].to_numpy(dtype="int64"))
        comp_bc = spark.sparkContext.broadcast(comp)

        def score_exc(key, pdf):
            import pandas as pd

            sc = _sidecar(index_dir, key[0])
            pdf, neg_ords = _split_must_not(pdf, neg_terms)
            ex = _merge_excludes(
                _merge_excludes(sc.ords_of_docs(excluder(key[0])), neg_ords),
                sc.ords_of_docs(comp_bc.value),
            )
            docs, scores = scorer(
                _rows_to_lists(pdf, idfs), avgdl, k, sc, exclude=ex,
            )
            return pd.DataFrame({"doc_id": docs, "score": scores})

        per_unit = seg.groupBy("unit").applyInPandas(score_exc, schema=RESULT_SCHEMA)
        return per_unit.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # escalating two-phase (shared with the big-tombstone path)
    _LAST_FILTER_MODE = "escalate"
    return _search_escalating(
        spark, index_dir, seg, idfs, avgdl, scorer, k, n_docs,
        excluder=excluder, semi_df=fl, neg_terms=neg_terms,
    )


def _search_escalating(
    spark, index_dir, seg, idfs, avgdl, scorer, k, n_docs,
    excluder=None, semi_df=None, tomb_anti=False, neg_terms=(),
):
    """Escalating two-phase top-k: per-unit top-c, distributed
    semi-join (metadata filter) and/or unit-scoped tombstone ANTI-join,
    accept only when the kth kept score strictly beats the best possible
    unemitted score (each non-exhausted unit's lowest emitted score
    upper-bounds everything it did not emit) — else c escalates 4x.
    Exact at every exit; no doc-id set ever rides a closure."""
    import numpy as np

    tomb_max = usnap_df = None
    if tomb_anti:
        from .incremental import read_tombstones, unit_snapshots

        tomb = read_tombstones(spark, index_dir)
        tomb_max = tomb.groupBy("doc_id").agg(F.max("snapshot").alias("__ts"))
        usnap_df = spark.createDataFrame(
            [(int(u), int(s)) for u, s in unit_snapshots(index_dir).items()],
            "unit int, __us bigint",
        )

    def make_score_c(_c):
        def score_c(key, pdf):
            import pandas as pd

            sc = _sidecar(index_dir, key[0])
            pdf, neg_ords = _split_must_not(pdf, neg_terms)
            ex = (
                sc.ords_of_docs(excluder(key[0])) if excluder is not None else None
            )
            docs, scores = scorer(
                _rows_to_lists(pdf, idfs), avgdl, _c, sc,
                exclude=_merge_excludes(ex, neg_ords),
            )
            return pd.DataFrame(
                {"unit": np.full(docs.size, key[0], dtype="int32"),
                 "doc_id": docs, "score": scores}
            )

        return score_c

    c = max(4 * k, 64)
    while True:
        score_c = make_score_c(c)
        per_unit = (
            seg.groupBy("unit")
            .applyInPandas(score_c, schema=UNIT_RESULT_SCHEMA)
            .persist()
        )
        try:
            bounds = per_unit.groupBy("unit").agg(
                F.count(F.lit(1)).alias("n"), F.min("score").alias("min_s")
            ).collect()
            kept = per_unit
            if tomb_anti:
                # a doc is stale in unit u iff some tombstone snapshot is
                # NEWER than u's input snapshot (LSN-as-version semantics)
                kept = (
                    kept.join(F.broadcast(usnap_df), "unit", "left")
                    .join(tomb_max, "doc_id", "left")
                    .filter(
                        F.col("__ts").isNull()
                        | (F.col("__ts") <= F.coalesce(F.col("__us"), F.lit(0)))
                    )
                    .drop("__ts", "__us")
                )
            if semi_df is not None:
                kept = kept.join(semi_df, "doc_id", "left_semi")
            top = (
                kept.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
            )
        finally:
            per_unit.unpersist()
        open_bounds = [r["min_s"] for r in bounds if int(r["n"]) >= c]
        done = not open_bounds or (
            len(top) == k and top[-1]["score"] > max(open_bounds)
        )
        if done or c >= n_docs:
            return spark.createDataFrame(
                [(r["doc_id"], r["score"]) for r in top], RESULT_SCHEMA
            )
        c = min(c * 4, n_docs)


def search_ranged(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    ranges: int = 8,
) -> DataFrame:
    """Top-k BM25 with DOC-RANGE-PARALLEL scoring — the scale path for
    units whose posting lists are too large for one scorer task.

    ``search`` groups by unit (one scorer task per unit: correct, but a
    single giant unit serializes scoring). Here each unit's dense ORDINAL
    space (format v3: ordinal = build_partition << ORD_SHIFT | rank, so
    the space is a grid of P hash-balanced partition segments — P from
    the unit's manifest row) is split into ``ranges`` windows of whole
    segments, and every (term, salt) row is SLICED
    JVM-SIDE at block boundaries: slice(block arrays) + substr(postings
    bytes) per overlapping range, so each scorer task receives only its
    byte window (~1x total transfer, duplicating only boundary blocks,
    never whole head-term blobs). Each doc's postings for ALL query terms
    land in the same (unit, range) group — per-doc sums are complete and
    bit-exact with ``search``; per-range top-k then TakeOrderedAndProject
    merges.

    Scoring work per query stays O(total postings of the query terms) but
    now spreads across ranges x units tasks: latency scales with cores."""
    assert ranges >= 2, "need at least 2 ranges"
    from . import manifest
    from .build import ORD_SHIFT

    stats = merge.load_stats(index_dir)
    terms = sorted(set(terms))
    idfs = _term_stats(spark, index_dir, terms, stats["n_docs"])[0]
    present = sorted(idfs)
    if not present:
        return _local_df(spark, [], RESULT_SCHEMA)
    avgdl = float(stats["avgdl"])
    excluder = _tombstone_excluder(index_dir)

    # per-unit range bounds in ordinal space: split the unit's P build
    # partitions into `ranges` contiguous intervals (hash-stripe routing
    # balances docs per partition, so the windows are balanced). Bounds
    # ride a tiny broadcast-joined table — units may differ in P (delta
    # units).
    m = manifest.read_manifest(index_dir)
    m = m[m["status"] == manifest.STATUS_COMPLETED]
    HI_SENTINEL = (1 << 63) - 1  # non-null so pandas sees exact int64
    bounds_rows = []
    for _, row in m.iterrows():
        u, P = int(row["unit"]), int(row["ord_partitions"])
        for i in range(ranges):
            plo, phi = i * P // ranges, (i + 1) * P // ranges
            if plo == phi:
                continue  # ranges > P: empty window
            lo = plo << ORD_SHIFT
            hi = (phi << ORD_SHIFT) if phi < P else HI_SENTINEL
            bounds_rows.append((u, i, lo, hi))
    bounds_df = spark.createDataFrame(
        bounds_rows, "unit int, rid int, lo bigint, hi_excl bigint"
    )

    seg = (
        _seg_scan(spark, index_dir, stats["units"])
        .filter(F.col("term").isin(present))
        .select("unit", "term", "postings", "block_last_doc", "block_offset")
        .join(F.broadcast(bounds_df), "unit")
    )
    nb = F.size("block_last_doc")
    # first block whose last_doc >= lo … first block whose last_doc >= hi
    # (that block straddles the boundary and belongs to BOTH windows; the
    # scorer's [lo, hi) mask de-duplicates its docs). lo = 0 for rid 0, so
    # b_lo degenerates to 0 there with no special case (ordinals >= 0).
    b_lo = F.size(F.filter("block_last_doc", lambda x: x < F.col("lo")))
    b_hi = F.least(
        F.size(F.filter("block_last_doc", lambda x: x < F.col("hi_excl"))),
        nb - 1,
    )
    byte_lo = F.element_at("block_offset", b_lo + 1)
    byte_hi = F.when(
        b_hi + 1 < nb, F.element_at("block_offset", b_hi + 2)
    ).otherwise(F.octet_length("postings"))
    sliced = (
        seg.select(
            "unit", "term", "rid", "lo", "hi_excl",
            # prev_last must reach pandas as EXACT int64: a nullable int
            # column converts to float64, so ship non-null value + flag
            F.coalesce(
                F.when(b_lo > 0, F.element_at("block_last_doc", b_lo)),
                F.lit(0).cast("long"),
            ).alias("prev_last"),
            (b_lo > 0).alias("has_prev"),
            F.when(
                b_hi >= b_lo,
                F.col("postings").substr(byte_lo + 1, (byte_hi - byte_lo).cast("int")),
            ).alias("postings"),
        )
        .filter(F.col("postings").isNotNull() & (F.octet_length("postings") > 0))
    )

    def score_range(key, pdf):
        import pandas as pd

        unit, _rid = key[0], key[1]
        lo = int(pdf["lo"].iloc[0])
        h = int(pdf["hi_excl"].iloc[0])
        hi = (1 << 63) if h == HI_SENTINEL else h
        lists = [
            {
                "term": r.term,
                "idf": idfs[r.term],
                "postings": r.postings,
                "prev_last": int(r.prev_last) if r.has_prev else None,
            }
            for r in pdf.itertuples()
        ]
        sc = _sidecar(index_dir, unit)
        docs, scores = wand.score_range_sliced(
            lists, avgdl, k, lo, hi,
            sc, exclude=sc.ords_of_docs(excluder(unit)),
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    per_range = sliced.groupBy("unit", "rid").applyInPandas(
        score_range, schema=RESULT_SCHEMA
    )
    return per_range.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def discover_fields(index_root: str) -> dict[str, str]:
    """Field dirs of a multi-field index root (``field=<name>/`` layout —
    the one-store view of ``build.build_index_multifield``)."""
    import glob as _glob
    import os as _os

    out = {
        _os.path.basename(d).split("=", 1)[1]: d
        for d in _glob.glob(_os.path.join(index_root, "field=*"))
        if _os.path.isdir(d)
    }
    if not out:
        raise FileNotFoundError(f"no field=<name> dirs under {index_root}")
    return out


def search_multifield(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    terms: list[str],
    k: int = 10,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Weighted multi-field BM25 top-k (OpenSearch multi-field bool/should;
    reference: per-column typed mappings, search_pg_mapper.go:137-183).

    ``field_indexes``: field name -> index dir. Each field is its OWN
    index over the same corpus with the SAME doc_id space and num_units
    (build them with the same unit count — the unit predicate hashes
    doc_id, so unit u holds the same docs in every field index). Scoring
    is unit-local and exact: unit u's scorer receives every field's lists
    for u, computes score(d) = sum_f boost_f * BM25_f(d, q) with each
    field's own idf/doclen/avgdl, and emits its top-k; the global top-k is
    a TakeOrderedAndProject. -> DataFrame(doc_id, score).

    Passing the multi-field index ROOT (a str) instead of the dict
    discovers the ``field=<name>/`` dirs automatically."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    boosts = {f: 1.0 for f in field_indexes} | (boosts or {})
    terms = sorted(set(terms))
    fields = sorted(field_indexes)
    stats = {f: merge.load_stats(field_indexes[f]) for f in fields}
    idfs = {
        f: _term_stats(spark, field_indexes[f], terms, stats[f]["n_docs"])[0]
        for f in fields
    }
    if not any(idfs[f] for f in fields):
        return _local_df(spark, [], RESULT_SCHEMA)
    avgdls = {f: float(stats[f]["avgdl"]) for f in fields}
    excluders = {f: _tombstone_excluder(field_indexes[f]) for f in fields}

    segs = []
    for f in fields:
        present = sorted(idfs[f])
        if not present:
            continue
        segs.append(
            _seg_scan(spark, field_indexes[f], stats[f]["units"])
            .filter(F.col("term").isin(present))
            .select(
                F.lit(f).alias("field"), "unit", "term", "df", "postings",
                "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
            )
        )
    seg = segs[0]
    for s in segs[1:]:
        seg = seg.unionByName(s)

    def score_unit(key, pdf):
        import numpy as np
        import pandas as pd

        unit = key[0]
        field_lists: dict[str, list[dict]] = {}
        for f in fields:
            sub = pdf[pdf["field"] == f]
            if len(sub):
                field_lists[f] = _rows_to_lists(sub, idfs[f])
        # ordinals are PER-INDEX — cross-field summation must happen in a
        # shared key space, so multifield scoring runs on doc_ids: each
        # field's decode maps its ordinals to doc_ids via its own sidecar
        sidecars = {f: _sidecar(field_indexes[f], unit) for f in field_lists}
        # a doc tombstoned in ANY field index is superseded everywhere
        ex = None
        for f in field_lists:
            e = excluders[f](unit)
            if e is not None:
                ex = e if ex is None else np.union1d(ex, e)
        docs, scores = wand.score_multifield(
            field_lists, avgdls, boosts, k, sidecars, exclude=ex
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    per_unit = seg.groupBy("unit").applyInPandas(score_unit, schema=RESULT_SCHEMA)
    return per_unit.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_multifield_prefix(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    prefix: str,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """Prefix query over a multi-field index (OpenSearch multi_match
    phrase_prefix/bool_prefix family): the prefix expands against EVERY
    field's lexicon (each a driver-side range scan), the expansions union,
    and the union scores through the standard sum-fused multifield BM25 —
    a term contributes in each field where it exists (per-field idf/df
    handle absence naturally)."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    terms = sorted(
        {
            t
            for d in field_indexes.values()
            for t in expand_prefix(d, prefix, max_expansions)
        }
    )
    if not terms:
        return _local_df(spark, [], RESULT_SCHEMA)
    return search_multifield(spark, field_indexes, terms, k, boosts=boosts)


def search_multifield_wildcard(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    pattern: str,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """Wildcard query over a multi-field index: per-field lexicon
    expansion (streamed regex verify), union, sum-fused multifield BM25."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    terms = sorted(
        {
            t
            for d in field_indexes.values()
            for t in expand_wildcard(d, pattern, max_expansions)
        }
    )
    if not terms:
        return _local_df(spark, [], RESULT_SCHEMA)
    return search_multifield(spark, field_indexes, terms, k, boosts=boosts)


def search_multifield_regexp(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    pattern: str,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """Regexp query over a multi-field index: per-field anchored-regex
    lexicon expansion, union, sum-fused multifield BM25 (same shape as
    the multifield wildcard path)."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    terms = sorted(
        {
            t
            for d in field_indexes.values()
            for t in expand_regexp(d, pattern, max_expansions)
        }
    )
    if not terms:
        return _local_df(spark, [], RESULT_SCHEMA)
    return search_multifield(spark, field_indexes, terms, k, boosts=boosts)


def search_multifield_phrase(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    phrase: list[str],
    k: int = 10,
    boosts: dict[str, float] | None = None,
    slop: int = 0,
) -> DataFrame:
    """Phrase query over a multi-field index — the OpenSearch multi_match
    ``type: phrase`` shape (default best_fields fusion): a doc matches if
    the phrase occurs in ANY field; its score is
    ``max_f boost_f * phrase_BM25_f`` (requires each field built
    ``with_positions=True``; ``slop`` > 0 uses the ordered-window
    proximity semantics per field).

    Exact despite per-field top-k truncation: under max-fusion, if doc d
    belongs to the true fused top-k then in its argmax field fewer than k
    docs score above it — so d IS in that field's exact top-k (any doc
    above it there also out-ranks it globally). Fusing the per-field
    global top-k's therefore loses nothing."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    boosts = {f: 1.0 for f in field_indexes} | (boosts or {})
    parts = []
    for f in sorted(field_indexes):
        res = (
            search_phrase(spark, field_indexes[f], phrase, k)
            if slop == 0
            else search_proximity(spark, field_indexes[f], phrase, slop, k)
        )
        parts.append(
            res.select(
                "doc_id",
                (F.col("score") * F.lit(float(boosts[f]))).alias("score"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("doc_id")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_multifield_phrase_prefix(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    phrase: list[str],
    k: int = 10,
    boosts: dict[str, float] | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """match_phrase_prefix over a multi-field index (multi_match ``type:
    phrase_prefix``, best_fields/max fusion): the last phrase word expands
    against EACH field's own lexicon; a doc matches if any field matches;
    score = ``max_f boost_f * phrase_prefix_BM25_f``. Exactness under
    per-field top-k truncation follows the same argmax-field argument as
    ``search_multifield_phrase``."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    boosts = {f: 1.0 for f in field_indexes} | (boosts or {})
    parts = [
        search_phrase_prefix(
            spark, field_indexes[f], phrase, k, max_expansions=max_expansions
        ).select(
            "doc_id",
            (F.col("score") * F.lit(float(boosts[f]))).alias("score"),
        )
        for f in sorted(field_indexes)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("doc_id")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def expand_prefix(
    index_dir: str, prefix: str, max_expansions: int = 128
) -> list[str]:
    """Prefix -> matching lexicon terms (lexicographic order, capped).

    The lexicon is term-sorted, range-partitioned parquet, so the prefix
    is a pure RANGE predicate ``prefix <= term < prefix+1`` — parquet
    row-group min/max statistics prune the scan to the touched groups, a
    driver-side pyarrow read with no Spark job (same access path as the
    exact-term lookup). The OpenSearch analog is the prefix/wildcard query
    over the keyword subfield the reference's mapper writes for every text
    column (opensearch_mapper.go:17,44-53)."""
    if not prefix:
        raise ValueError("empty prefix")
    import glob as _glob
    import os as _os

    import pyarrow.dataset as ds

    # tokens are [a-z0-9]+ — bumping the last byte is a safe upper bound
    upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
    files = sorted(
        _glob.glob(_os.path.join(merge.lexicon_path(index_dir), "*.parquet"))
    )
    dataset = ds.dataset(files, format="parquet")
    table = dataset.to_table(
        columns=["term"],
        filter=(ds.field("term") >= prefix) & (ds.field("term") < upper),
    )
    terms = sorted(set(table["term"].to_pylist()))
    return terms[:max_expansions]


# ---- distributed expansion tier -------------------------------------------
# An UNPRUNED expansion (fuzzy with prefix_length=0, leading-* wildcard,
# unanchorable regexp) must pass the whole lexicon through the matcher.
# Below this byte bound the term-sorted lexicon streams through the driver
# (pyarrow, no job — fine for lexicons up to tens of MB); above it the
# same matcher runs as a small Spark job (mapInArrow over the lexicon
# parquet, same pyarrow/numpy kernels, executors each matching their
# split), and only the capped match list is collected. The gate is file
# bytes — known before reading anything.
_EXPAND_DRIVER_DEFAULT_BYTES = 64 << 20


def _expand_driver_cap() -> int:
    import os as _os

    try:
        return int(
            _os.environ.get(
                "PGSPARK_EXPAND_DRIVER_BYTES", _EXPAND_DRIVER_DEFAULT_BYTES
            )
        )
    except ValueError:
        return _EXPAND_DRIVER_DEFAULT_BYTES


def _lexicon_files(index_dir: str) -> list[str]:
    import glob as _glob
    import os as _os

    return sorted(
        _glob.glob(_os.path.join(merge.lexicon_path(index_dir), "*.parquet"))
    )


def _expand_needs_job(files: list[str]) -> bool:
    import os as _os

    cap = _expand_driver_cap()
    if cap <= 0:
        return True
    return sum(_os.path.getsize(f) for f in files) > cap


def _collect_expansion_spark(
    matched, max_expansions: int, what: str
) -> list[str]:
    """Deterministic cap of a distributed expansion: lexicographically
    first ``max_expansions`` matches via TakeOrderedAndProject; one extra
    row detects truncation (same warning contract as the driver stream)."""
    import warnings

    rows = matched.orderBy("term").limit(max_expansions + 1).collect()
    out = [r["term"] for r in rows]
    if len(out) > max_expansions:
        warnings.warn(
            f"{what} expansion truncated to the first "
            f"{max_expansions} lexicon matches",
            stacklevel=4,
        )
    return sorted(set(out[:max_expansions]))


def _expand_regex_spark(
    spark: SparkSession, index_dir: str, rx: str, max_expansions: int,
    what: str,
) -> list[str]:
    """Distributed anchored-regex expansion: the same pyarrow RE2 matcher
    the driver stream uses (NOT Java regex — tier choice must never change
    which terms match), run per executor split via mapInArrow."""

    def match_fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            hits = pc.filter(
                b.column("term"),
                pc.match_substring_regex(b.column("term"), rx),
            )
            yield pa.record_batch([hits], names=["term"])

    lex = spark.read.parquet(merge.lexicon_path(index_dir)).select("term")
    return _collect_expansion_spark(
        lex.mapInArrow(match_fn, "term string"), max_expansions, what
    )


def _fuzzy_batch_hits(arr, qb, max_edits: int, transpositions: bool):
    """One Arrow string batch -> list of terms within ``max_edits`` of the
    query bytes ``qb`` (the vectorized DP kernel, shared by the driver
    stream and the distributed expansion job)."""
    import numpy as np
    import pyarrow as pa

    m = len(qb)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8)
        if buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    lens = offs[1:] - offs[:-1]
    sel = np.flatnonzero(np.abs(lens - m) <= max_edits)
    if not sel.size or not data.size:
        return []
    lens_s = lens[sel]
    lmax = int(lens_s.max())
    idx = offs[sel][:, None] + np.arange(lmax)
    mask = np.arange(lmax) < lens_s[:, None]
    cand = np.zeros((sel.size, lmax), dtype=np.uint8)
    np.copyto(cand, data[np.minimum(idx, data.size - 1)], where=mask)
    dists = _levenshtein_batch(cand, lens_s, qb, transpositions)
    hits = sel[dists <= max_edits]
    if not hits.size:
        return []
    return arr.take(pa.array(hits)).to_pylist()


def _expand_fuzzy_spark(
    spark: SparkSession, index_dir: str, term: str, max_edits: int,
    max_expansions: int, transpositions: bool,
) -> list[str]:
    """Distributed fuzzy expansion: the same numpy DP kernel, one executor
    split at a time via mapInArrow; only the capped match list returns."""
    qbytes = term.encode("utf-8")

    def match_fn(batches):
        import numpy as np
        import pyarrow as pa

        qb = np.frombuffer(qbytes, dtype=np.uint8)
        for b in batches:
            hits = _fuzzy_batch_hits(
                b.column("term"), qb, max_edits, transpositions
            )
            yield pa.record_batch(
                [pa.array(hits, type=pa.string())], names=["term"]
            )

    lex = spark.read.parquet(merge.lexicon_path(index_dir)).select("term")
    return _collect_expansion_spark(
        lex.mapInArrow(match_fn, "term string"), max_expansions,
        f"fuzzy {term!r} (max_edits={max_edits})",
    )


def _expand_lexicon_regex(
    index_dir: str, rx: str, lead: str, max_expansions: int, what: str
) -> list[str]:
    """Anchored-regex lexicon expansion, STREAMED over the dataset scanner
    batch-by-batch (pyarrow C++ ``match_substring_regex``) with early exit
    once ``max_expansions`` matches are found — no uncapped driver-side
    ``to_pylist`` materialization, and no pre-verification candidate cap
    that could silently miss matches behind a hot leading literal.
    ``lead`` (a REQUIRED literal prefix of every match, possibly empty)
    prunes via the same range predicate as ``expand_prefix``. When the cap
    truncates the (deterministic, lexicographically first) match set, a
    warning surfaces it."""
    import warnings

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    import glob as _glob
    import os as _os

    files = sorted(
        _glob.glob(_os.path.join(merge.lexicon_path(index_dir), "*.parquet"))
    )
    filt = None
    if lead:
        upper = lead[:-1] + chr(ord(lead[-1]) + 1)
        filt = (ds.field("term") >= lead) & (ds.field("term") < upper)
    elif _expand_needs_job(files):
        # no range prune possible and the lexicon is beyond the driver
        # byte gate: run the same RE2 matcher as a distributed job instead
        # of streaming the whole lexicon through the driver
        spark = SparkSession.getActiveSession()
        if spark is not None:
            return _expand_regex_spark(spark, index_dir, rx, max_expansions, what)
    # the lexicon is range-partitioned + term-sorted and files sort by
    # partition id, so an in-order scan yields terms in lexicographic
    # order — the first max_expansions matches are the deterministic set
    scanner = ds.dataset(files, format="parquet").scanner(
        columns=["term"], filter=filt, batch_size=64 * 1024
    )
    out: list[str] = []
    truncated = False
    for batch in scanner.to_batches():
        if batch.num_rows == 0:
            continue
        hits = pc.filter(
            batch.column("term"), pc.match_substring_regex(batch.column("term"), rx)
        )
        if len(hits):
            out.extend(hits.to_pylist())
        if len(out) > max_expansions:
            truncated = True
            break
    out = sorted(set(out))
    if truncated or len(out) > max_expansions:
        warnings.warn(
            f"{what} expansion truncated to the first "
            f"{max_expansions} lexicon matches",
            stacklevel=3,
        )
    return out[:max_expansions]


def expand_wildcard(
    index_dir: str, pattern: str, max_expansions: int = 128
) -> list[str]:
    """Wildcard pattern (``*`` = any run, ``?`` = one char) -> matching
    lexicon terms, via the streamed anchored-regex scan
    (``_expand_lexicon_regex``); the leading literal segment prunes via
    the range predicate."""
    import re as _re

    lead = _re.split(r"[*?]", pattern, maxsplit=1)[0]
    rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else _re.escape(c)
        for c in pattern
    ) + "$"
    return _expand_lexicon_regex(
        index_dir, rx, lead, max_expansions, f"wildcard {pattern!r}"
    )


def expand_regexp(
    index_dir: str, pattern: str, max_expansions: int = 128
) -> list[str]:
    """Regexp term query (the OpenSearch ``regexp`` DSL shape): the
    pattern is anchored over the WHOLE term and expanded against the
    lexicon with the same streamed scan as wildcard. A literal prefix is
    extracted for range pruning only when it is provably REQUIRED of
    every match: no top-level alternation in the pattern, and the
    character after the literal run not a quantifier that could make its
    last char optional (ES builds the equivalent from the automaton;
    a conservative syntactic check suffices here)."""
    import re as _re

    lead = ""
    if "|" not in pattern:
        m = _re.match(r"[a-z0-9]+", pattern)
        if m:
            lead = m.group(0)
            if pattern[m.end():m.end() + 1] in ("?", "*", "{"):
                lead = lead[:-1]  # last literal char is quantified
    return _expand_lexicon_regex(
        index_dir, f"^(?:{pattern})$", lead, max_expansions,
        f"regexp {pattern!r}",
    )


def search_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    max_expansions: int = 128,
    **kwargs,
) -> DataFrame:
    """Prefix query: expand against the lexicon, then score the expanded
    term set through the standard BM25 scorer (the scoring_boolean
    rewrite — each expanded term keeps its own idf). Deterministic: the
    expansion is the lexicographically first ``max_expansions`` matches."""
    terms = expand_prefix(index_dir, prefix, max_expansions)
    return search(spark, index_dir, terms, k, **kwargs)


def search_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 128,
    **kwargs,
) -> DataFrame:
    """Wildcard query via expand-then-score (scoring_boolean rewrite)."""
    terms = expand_wildcard(index_dir, pattern, max_expansions)
    return search(spark, index_dir, terms, k, **kwargs)


def search_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 128,
    **kwargs,
) -> DataFrame:
    """Regexp term query via expand-then-score (scoring_boolean rewrite,
    each expanded term keeping its own idf) — the OpenSearch ``regexp``
    query the reference's search path exposes through the query DSL."""
    terms = expand_regexp(index_dir, pattern, max_expansions)
    return search(spark, index_dir, terms, k, **kwargs)


def _levenshtein_batch(cand, lens, qb, transpositions=False):
    """Edit distances from query bytes ``qb`` to every row of ``cand`` —
    an (N, Lmax) zero-padded uint8 matrix of candidate terms with true
    lengths ``lens`` — as one numpy DP over the whole batch: O(len(q) x
    Lmax) COLUMN operations, no per-term Python. ``transpositions=True``
    adds the optimal-string-alignment transposition move (Lucene's
    fuzziness default); False is classic Levenshtein (what SQL
    ``levenshtein()`` computes)."""
    import numpy as np

    n, lmax = cand.shape
    m = len(qb)
    prev = np.tile(np.arange(lmax + 1, dtype=np.int32), (n, 1))
    prevprev = None
    for i in range(1, m + 1):
        qc = qb[i - 1]
        # column j+1 candidates: substitution / deletion-from-candidate
        cost = prev[:, :-1] + (cand != qc)
        np.minimum(cost, prev[:, 1:] + 1, out=cost)
        if transpositions and i >= 2 and lmax >= 2:
            t = (cand[:, 1:] == qb[i - 2]) & (cand[:, :-1] == qc)
            cost[:, 1:] = np.where(
                t, np.minimum(cost[:, 1:], prevprev[:, :-2] + 1), cost[:, 1:]
            )
        cur = np.empty((n, lmax + 1), dtype=np.int32)
        cur[:, 0] = i
        for j in range(lmax):  # insertion relax: left-to-right prefix scan
            np.minimum(cost[:, j], cur[:, j] + 1, out=cur[:, j + 1])
        prevprev, prev = prev, cur
    return prev[np.arange(n), lens]


def expand_fuzzy(
    index_dir: str,
    term: str,
    max_edits: int = 1,
    max_expansions: int = 128,
    prefix_length: int = 0,
    transpositions: bool = False,
) -> list[str]:
    """Fuzzy term -> lexicon terms within ``max_edits`` edit distance —
    the Lucene FuzzyQuery / OpenSearch ``fuzziness`` rewrite over the
    keyword subfield the reference's mapper emits
    (opensearch_mapper.go:17,44-53). Same access path as
    ``expand_wildcard``: a driver-side pyarrow scan of the term-sorted
    lexicon, streamed batch-by-batch with no Spark job. ``prefix_length``
    (the ES parameter: first chars that must match exactly) turns the
    scan into the ``expand_prefix`` RANGE predicate so parquet row-group
    min/max statistics prune it. Per batch, candidates prune to the
    ``|len - len(q)| <= max_edits`` window, then one vectorized DP
    (``_levenshtein_batch``) scores the whole batch. Deterministic cap:
    the lexicographically first ``max_expansions`` matches (the scan is
    in term order), same convention as prefix/wildcard."""
    import glob as _glob
    import os as _os
    import warnings

    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds

    if not term:
        raise ValueError("empty fuzzy term")
    if max_edits < 0 or max_edits > 2:
        raise ValueError("max_edits must be 0, 1, or 2 (the Lucene bound)")
    qb = np.frombuffer(term.encode("utf-8"), dtype=np.uint8)
    m = len(qb)
    files = sorted(
        _glob.glob(_os.path.join(merge.lexicon_path(index_dir), "*.parquet"))
    )
    filt = None
    if prefix_length > 0:
        lead = term[: min(prefix_length, len(term))]
        upper = lead[:-1] + chr(ord(lead[-1]) + 1)
        filt = (ds.field("term") >= lead) & (ds.field("term") < upper)
    elif _expand_needs_job(files):
        # prefix_length=0 and the lexicon is beyond the driver byte gate:
        # run the same DP kernel as a distributed job instead of streaming
        # the whole lexicon through the driver
        spark = SparkSession.getActiveSession()
        if spark is not None:
            return _expand_fuzzy_spark(
                spark, index_dir, term, max_edits, max_expansions,
                transpositions,
            )
    scanner = ds.dataset(files, format="parquet").scanner(
        columns=["term"], filter=filt, batch_size=64 * 1024
    )
    out: list[str] = []
    truncated = False
    for batch in scanner.to_batches():
        if batch.num_rows == 0:
            continue
        hits = _fuzzy_batch_hits(
            batch.column("term"), qb, max_edits, transpositions
        )
        out.extend(hits)
        if len(out) > max_expansions:
            truncated = True
            break
    out = sorted(set(out))
    if truncated or len(out) > max_expansions:
        warnings.warn(
            f"fuzzy {term!r} (max_edits={max_edits}) expansion truncated to "
            f"the first {max_expansions} lexicon matches",
            stacklevel=2,
        )
    return out[:max_expansions]


def search_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    k: int = 10,
    max_edits: int = 1,
    max_expansions: int = 128,
    prefix_length: int = 0,
    transpositions: bool = False,
    **kwargs,
) -> DataFrame:
    """Fuzzy query via expand-then-score (scoring_boolean rewrite — each
    expanded term keeps its own idf, like prefix/wildcard)."""
    terms = expand_fuzzy(
        index_dir, term, max_edits, max_expansions, prefix_length,
        transpositions,
    )
    return search(spark, index_dir, terms, k, **kwargs)


def search_multifield_fuzzy(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    term: str,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    max_edits: int = 1,
    max_expansions: int = 128,
    prefix_length: int = 0,
    transpositions: bool = False,
) -> DataFrame:
    """Fuzzy query over a multi-field index: per-field lexicon expansion,
    union, sum-fused multifield BM25 (the multi_match + fuzziness
    shape)."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    terms = sorted(
        {
            t
            for d in field_indexes.values()
            for t in expand_fuzzy(
                d, term, max_edits, max_expansions, prefix_length,
                transpositions,
            )
        }
    )
    if not terms:
        return _local_df(spark, [], RESULT_SCHEMA)
    return search_multifield(spark, field_indexes, terms, k, boosts=boosts)


def _slot_lists(lists: list[dict], slots: list) -> list[list[dict]]:
    """A unit's lists -> one list per positional slot; ``slots[i]`` is the
    terms any of which fills slot i. Repeated phrase words share the same
    row objects (the positional kernels dedup scoring by identity)."""
    by_term: dict[str, list[dict]] = {}
    for lst in lists:
        by_term.setdefault(lst["term"], []).append(lst)
    return [[l for t in slot for l in by_term.get(t, [])] for slot in slots]


def _positional(
    spark: SparkSession, index_dir: str, slots: list, k: int | None,
    required: list[str], kernel: Callable,
) -> DataFrame:
    """Run a positional kernel ``kernel(slot_lists, avgdl, k, sc,
    exclude=...)`` over the terms of ``slots``, each of ``required``
    present."""

    def unit_kernel(lists, avgdl, k, sc, exclude=None):
        return kernel(_slot_lists(lists, slots), avgdl, k, sc, exclude=exclude)

    terms = sorted({t for slot in slots for t in slot})
    return _execute(spark, index_dir, _Spec(
        terms, unit_kernel, k, required=tuple(required), positions=True,
    ))


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str],
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k (requires an index built with_positions=True).

    Matches docs where the phrase's tokens occur consecutively (token
    positions p, p+1, ..., the Lucene match_phrase semantics the reference
    gets from its OpenSearch text fields, opensearch_mapper.go:17-68);
    matching docs are ranked by BM25 over the phrase's distinct terms.
    -> DataFrame(doc_id, score), (score DESC, doc_id ASC); every match,
    unordered, when ``k`` is None (the rescore building block)."""
    return _positional(
        spark, index_dir, [[t] for t in phrase], k, phrase, wand.score_phrase
    )


def search_phrase_prefix(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str],
    k: int = 10,
    max_expansions: int = 128,
) -> DataFrame:
    """match_phrase_prefix: the leading phrase words are exact, the LAST
    word is a prefix — a doc matches where the exact words occur
    consecutively immediately followed by ANY lexicon term starting with
    the prefix (the Lucene MultiPhrasePrefixQuery behind ES's
    match_phrase_prefix, the "search-as-you-type" query).

    The prefix expands against the term-sorted lexicon (driver-side range
    scan, ``expand_prefix``, capped at ``max_expansions``); the expansion
    set becomes the last positional slot, which ``wand.score_phrase``
    already models (a slot is a LIST of posting lists — any of them
    continues the chain). Matching docs are BM25-scored over every
    distinct matched term (exact words + expansions), the same
    distinct-list convention as ``search_phrase``.
    -> DataFrame(doc_id, score), (score DESC, doc_id ASC)."""
    if not phrase:
        return _local_df(spark, [], RESULT_SCHEMA)
    exact = list(phrase[:-1])
    expansions = sorted(set(expand_prefix(index_dir, phrase[-1], max_expansions)))
    if not expansions:
        return _local_df(spark, [], RESULT_SCHEMA)
    return _positional(
        spark, index_dir, [[t] for t in exact] + [expansions], k, exact,
        wand.score_phrase,
    )


def search_min_should_match(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    min_should_match: int,
    k: int = 10,
) -> DataFrame:
    """OR with a should-count threshold: top-k BM25 over docs matching at
    least ``min_should_match`` distinct query terms (OpenSearch bool/should
    + minimum_should_match; m=1 is pure OR, m=len(terms) is AND).
    -> DataFrame(doc_id, score), (score DESC, doc_id ASC)."""
    m = max(1, int(min_should_match))

    def kernel(lists, avgdl, k, sc, exclude=None):
        return wand.score_min_should(lists, avgdl, k, m, sc, exclude=exclude)

    return _execute(
        spark, index_dir, _Spec(sorted(set(terms)), kernel, k, min_terms=m)
    )


def search_proximity(
    spark: SparkSession,
    index_dir: str,
    phrase: list[str],
    slop: int = 0,
    k: int = 10,
) -> DataFrame:
    """Ordered-window proximity search (requires with_positions=True):
    each phrase word must follow the previous within ``slop`` intervening
    tokens (slop=0 = exact phrase — the ordered variant of Lucene's sloppy
    match_phrase). -> DataFrame(doc_id, score), (score DESC, doc_id ASC)."""
    return _positional(
        spark, index_dir, [[t] for t in phrase], k, phrase,
        functools.partial(wand.score_proximity, slop=slop),
    )


MATCH_SCHEMA = "doc_id bigint, n_matched int"


def match_docs(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
    min_should_match: int = 1,
) -> DataFrame:
    """Boolean match set (no scoring) -> DataFrame(doc_id, n_matched).

    The building block for facet aggregations (the reference's users get
    these from OpenSearch aggs): distributed per unit, postings decode of
    doc ids only, no driver collect."""
    terms = sorted(set(terms))
    need = len(terms) if mode == "and" else max(1, int(min_should_match))
    excluder = _tombstone_excluder(index_dir)
    seg = (
        _seg_scan(spark, index_dir, merge.load_stats(index_dir)["units"])
        .filter(F.col("term").isin(terms))
        .select("unit", "term", "df", "postings")
    )

    def match_unit(key, pdf):
        import pandas as pd

        lists = [
            {"term": r.term, "df": int(r.df), "postings": r.postings}
            for r in pdf.itertuples()
        ]
        sc = _sidecar(index_dir, key[0])
        ords, counts = wand.match_doc_counts(
            lists, exclude=sc.ords_of_docs(excluder(key[0]))
        )
        keep = counts >= need
        return pd.DataFrame(
            {"doc_id": sc.doc_of(ords[keep]),
             "n_matched": counts[keep].astype("int32")}
        )

    return seg.groupBy("unit").applyInPandas(match_unit, schema=MATCH_SCHEMA)


def search_facets(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    facet_col: str,
    mode: str = "or",
) -> DataFrame:
    """Facet counts over the boolean match set (OpenSearch terms-aggregation
    analog): -> DataFrame(facet, doc_count), doc_count DESC, facet ASC.

    ``meta_df`` holds (doc_id, <facet_col>) metadata; the join is a
    distributed semi-join-then-aggregate — match sets never touch the
    driver. At 100-TB scale the match set is the small side (broadcast
    candidate); Catalyst/AQE picks the join strategy."""
    matched = match_docs(spark, index_dir, terms, mode=mode)
    return (
        meta_df.join(matched.select("doc_id"), "doc_id")
        .groupBy(F.col(facet_col).alias("facet"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("facet"))
    )


def search_date_histogram(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    ts_col: str,
    interval: str = "day",
    mode: str = "or",
) -> DataFrame:
    """OpenSearch date_histogram aggregation over the boolean match set:
    -> DataFrame(bucket timestamp, doc_count), bucket ASC. Same
    distributed semi-join-then-aggregate shape as ``search_facets`` with
    a ``date_trunc`` bucket key — JVM-only expressions end to end.
    ``interval``: any date_trunc unit (hour/day/week/month/...)."""
    matched = match_docs(spark, index_dir, terms, mode=mode)
    return (
        meta_df.join(matched.select("doc_id"), "doc_id")
        .groupBy(F.date_trunc(interval, F.col(ts_col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.asc("bucket"))
    )


def search_histogram(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    interval: float,
    mode: str = "or",
) -> DataFrame:
    """OpenSearch numeric histogram aggregation over the boolean match
    set: buckets of fixed ``interval`` width keyed by
    floor(value / interval) * interval -> DataFrame(bucket, doc_count),
    bucket ASC. JVM-only, same shape as ``search_facets``."""
    matched = match_docs(spark, index_dir, terms, mode=mode)
    bucket = (
        F.floor(F.col(value_col) / F.lit(interval)) * F.lit(interval)
    ).alias("bucket")
    return (
        meta_df.join(matched.select("doc_id"), "doc_id")
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.asc("bucket"))
    )


def search_stats(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    mode: str = "or",
) -> DataFrame:
    """OpenSearch stats aggregation over the boolean match set: ONE row
    (value_count, min_value, max_value, sum_value, avg_value) of
    ``meta_df.<value_col>`` across matching docs. Fully distributed
    partial+final aggregate; nothing per-doc reaches the driver."""
    matched = match_docs(spark, index_dir, terms, mode=mode)
    c = F.col(value_col)
    return (
        meta_df.join(matched.select("doc_id"), "doc_id")
        .agg(
            F.count(c).alias("value_count"),
            F.min(c).alias("min_value"),
            F.max(c).alias("max_value"),
            F.sum(c).alias("sum_value"),
            F.avg(c).alias("avg_value"),
        )
    )


def search_highlight(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int,
    docs_df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    **kwargs,
) -> DataFrame:
    """Highlighting (the OpenSearch ``highlight`` DSL shape): top-k BM25,
    then for each hit a snippet around the FIRST occurrence of any query
    term in the SAME normalized token stream the index was built from —
    tokens [p-window, p+window] space-joined — plus the sorted list of
    query terms the doc contains. -> DataFrame(doc_id, score,
    matched_terms, snippet), (score DESC, doc_id ASC).

    The snippet computation is pure JVM Column expressions over the <= k
    joined rows (regexp_extract_all + array ops; no Python UDF); the join
    against ``docs_df`` is a broadcast of the k-row result side."""
    qterms = sorted(set(terms))
    hits = search(spark, index_dir, qterms, k, **kwargs)
    qarr = F.array(*[F.lit(t) for t in qterms])
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    joined = docs_df.join(F.broadcast(hits), "doc_id").withColumn("_toks", toks)
    first_pos = F.array_position(
        F.transform(F.col("_toks"), lambda t: _qterm_flag(qarr, t)), 1
    )
    start = F.greatest(F.lit(1), first_pos - window)
    return (
        joined.withColumn(
            "matched_terms",
            F.array_join(
                F.filter(qarr, lambda t: F.array_contains(F.col("_toks"), t)),
                ",",
            ),
        )
        .withColumn(
            "snippet",
            F.array_join(F.slice(F.col("_toks"), start, 2 * window + 1), " "),
        )
        .select("doc_id", "score", "matched_terms", "snippet")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _qterm_flag(qarr, t):
    """1 when token t is a query term else 0 (array_position probe key)."""
    return F.when(F.array_contains(qarr, t), F.lit(1)).otherwise(F.lit(0))


def select_mlt_terms(
    index_dir: str,
    like: str,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> list[str]:
    """more_like_this term selection (the OpenSearch MLT query's first
    phase): tokenize ``like`` with the index's own normalizer, rank its
    terms by tf x idf against the INDEX's document frequencies (driver-
    side pyarrow lexicon lookup — one bounded scan, no Spark job), and
    keep the top ``max_query_terms`` (ties broken by term ASC). Terms
    under ``min_term_freq`` occurrences in ``like`` or ``min_doc_freq``
    index df are dropped, mirroring the MLT knobs."""
    from collections import Counter

    import glob as _glob
    import os as _os

    import pyarrow.dataset as ds

    from . import textnorm

    tf = Counter(textnorm.tokenize(textnorm.normalize(like)))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    stats = merge.load_stats(index_dir)
    n_docs = int(stats["n_docs"])
    files = sorted(
        _glob.glob(_os.path.join(merge.lexicon_path(index_dir), "*.parquet"))
    )
    table = ds.dataset(files, format="parquet").to_table(
        columns=["term", "df_total"], filter=ds.field("term").isin(cand)
    )
    scored = []
    for term, df_total in zip(
        table["term"].to_pylist(), table["df_total"].to_pylist()
    ):
        if int(df_total) < min_doc_freq:
            continue
        scored.append(
            (-(tf[term] * float(bm25.idf(n_docs, int(df_total)))), term)
        )
    scored.sort()
    return sorted(t for _, t in scored[:max_query_terms])


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    like: str,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    exclude_doc_id: int | None = None,
    **kwargs,
) -> DataFrame:
    """more_like_this query (OpenSearch MLT DSL): select the seed text's
    most characteristic terms (``select_mlt_terms``), then run the
    standard distributed BM25 top-k over them. When ``exclude_doc_id`` is
    given (MLT-by-document: the seed must not match itself), the engine
    fetches top-(k+1) and drops the seed after the global order — exact,
    one extra row per unit."""
    terms = select_mlt_terms(
        index_dir, like, max_query_terms, min_term_freq, min_doc_freq
    )
    if not terms:
        return _local_df(spark, [], RESULT_SCHEMA)
    if exclude_doc_id is None:
        return search(spark, index_dir, terms, k, **kwargs)
    res = search(spark, index_dir, terms, k + 1, **kwargs)
    return (
        res.filter(F.col("doc_id") != int(exclude_doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def suggest_completion(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    n: int = 10,
) -> DataFrame:
    """Completion suggester (OpenSearch completion/prefix suggest shape):
    lexicon terms with this prefix ranked by document frequency ->
    DataFrame(term, doc_freq), doc_freq DESC then term ASC, top n.

    Distributed: the lexicon is range-partitioned and term-sorted, so the
    prefix predicate prunes to a handful of parquet row groups and the
    top-n is a TakeOrderedAndProject."""
    upper = prefix[:-1] + chr(ord(prefix[-1]) + 1) if prefix else None
    lex = merge.read_lexicon(spark, index_dir)
    if prefix:
        lex = lex.filter(
            (F.col("term") >= prefix) & (F.col("term") < upper)
        )
    return (
        lex.select("term", F.col("df_total").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(n)
    )


def suggest_term(
    spark: SparkSession,
    index_dir: str,
    text: str,
    n: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
) -> DataFrame:
    """Term suggester / did-you-mean (OpenSearch term suggest shape):
    lexicon terms within ``max_edits`` Levenshtein distance of ``text``
    (the input term itself excluded), ranked like the reference engine —
    distance ASC, then document frequency DESC, then term ASC; top n ->
    DataFrame(term, doc_freq, distance).

    The edit-distance scan stays JVM-side (built-in ``levenshtein``) and
    is pruned the way Lucene's suggester automaton is in spirit: a
    ``prefix_length`` range predicate (suggestions share the first chars,
    the default 1 as in ES) plus a term-LENGTH window pushed to the
    parquet scan — both prune row groups before any distance is computed."""
    if prefix_length > 0:
        lead = text[:prefix_length]
        upper = lead[:-1] + chr(ord(lead[-1]) + 1)
    lex = merge.read_lexicon(spark, index_dir)
    if prefix_length > 0:
        lex = lex.filter((F.col("term") >= lead) & (F.col("term") < upper))
    lex = lex.filter(
        (F.length("term") >= len(text) - max_edits)
        & (F.length("term") <= len(text) + max_edits)
        & (F.col("term") != text)
    )
    dist = F.levenshtein(F.col("term"), F.lit(text))
    return (
        lex.select("term", F.col("df_total").alias("doc_freq"),
                   dist.alias("distance"))
        .filter(F.col("distance") <= max_edits)
        .orderBy(F.asc("distance"), F.desc("doc_freq"), F.asc("term"))
        .limit(n)
    )


def explain_score(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    doc_id: int,
) -> DataFrame:
    """Score explanation (the OpenSearch/ES ``_explain`` API shape): the
    per-term BM25 contribution of ``doc_id`` for this query ->
    DataFrame(term, score), term ASC; the sum equals the doc's ``search``
    score bit-exactly (same decode + weight path, ``_decoded_contribs``
    with an include mask of just this doc). Distributed the same way as
    search — every unit probes its sidecar for the doc (tombstone-aware),
    emission <= |terms| rows total."""
    import numpy as np

    stats = merge.load_stats(index_dir)
    idfs = _term_stats(spark, index_dir, sorted(set(terms)), stats["n_docs"])[0]
    present = sorted(idfs)
    if not present:
        return spark.createDataFrame([], EXPLAIN_SCHEMA)
    avgdl = float(stats["avgdl"])
    excluder = _tombstone_excluder(index_dir)
    target = int(doc_id)

    seg = (
        _seg_scan(spark, index_dir, stats["units"])
        .filter(F.col("term").isin(present))
        .select(
            "unit", "term", "df", "postings",
            "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
        )
    )

    def explain_unit(key, pdf):
        import pandas as pd

        sc = _sidecar(index_dir, key[0])
        # None = doc not in this unit (ords_of_docs drops absent ids)
        ords = sc.ords_of_docs(np.array([target], dtype=np.int64))
        out_t, out_s = [], []
        if ords is not None and ords.size:
            tomb = sc.ords_of_docs(excluder(key[0]))
            for lst in _rows_to_lists(pdf, idfs):
                doc, contrib = wand._decoded_contribs(
                    lst, avgdl, sc, exclude=tomb, include=ords
                )
                if doc.size:
                    out_t.append(lst["term"])
                    out_s.append(float(contrib[0]))
        return pd.DataFrame({"term": pd.array(out_t, dtype="string"),
                             "score": pd.array(out_s, dtype="float64")})

    per_unit = seg.groupBy("unit").applyInPandas(explain_unit, schema=EXPLAIN_SCHEMA)
    # salted head terms hold one row per salt; a superseded doc version in
    # an older unit is tombstone-excluded above — the per-term sum is the
    # doc's live contribution
    return (
        per_unit.groupBy("term").agg(F.sum("score").alias("score"))
        .orderBy(F.asc("term"))
    )


EXPLAIN_SCHEMA = "term string, score double"


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    docs_df: DataFrame,
    text_col: str = "text",
    n: int = 10,
    min_doc_count: int = 3,
    mode: str = "or",
) -> DataFrame:
    """significant_terms aggregation (OpenSearch JLH heuristic): terms
    overrepresented in the match set vs the whole index ->
    DataFrame(term, fg_count, score), score DESC, term ASC, top n.

    Foreground df comes from re-tokenizing the MATCHED docs only (a
    distributed semi-join against ``docs_df`` then explode — cost
    O(matched docs), the same shape OpenSearch prices by sampling top
    docs); background df comes from the index lexicon. JLH score =
    (fg_rate - bg_rate) * (fg_rate / bg_rate); query terms themselves are
    excluded (they are trivially significant)."""
    stats = merge.load_stats(index_dir)
    n_docs = int(stats["n_docs"])
    matched = match_docs(spark, index_dir, terms, mode=mode).select("doc_id")
    n_matched = matched.count()  # one scalar; reused in the score expression
    if n_matched == 0:
        return spark.createDataFrame(
            [], "term string, fg_count bigint, score double"
        )
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    fg = (
        docs_df.join(matched, "doc_id")
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
        .filter(~F.col("term").isin(sorted(set(terms))))
        .filter(F.col("fg_count") >= int(min_doc_count))
    )
    bg = merge.read_lexicon(spark, index_dir).select(
        "term", F.col("df_total").alias("bg_count")
    )
    fg_rate = F.col("fg_count") / F.lit(float(n_matched))
    bg_rate = F.col("bg_count") / F.lit(float(n_docs))
    return (
        fg.join(bg, "term")
        .withColumn("score", (fg_rate - bg_rate) * (fg_rate / bg_rate))
        .select("term", "fg_count", "score")
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(n)
    )


def search_batch(
    spark: SparkSession,
    index_dir: str,
    queries: list[dict],
    strategy: str = "maxscore",
) -> DataFrame:
    """Many queries in ONE Spark job -> DataFrame(query_id, doc_id, score).

    queries: [{query_id, terms, k}]. Segment rows for the union of all
    query terms are read once; each unit scores every query against its
    local lists; the global per-query top-k is a single window."""
    stats = merge.load_stats(index_dir)
    all_terms = sorted({t for q in queries for t in q["terms"]})
    idfs, all_dfs, all_parts, _ = _term_stats(
        spark, index_dir, all_terms, stats["n_docs"]
    )
    qspec = [
        {
            "query_id": int(q["query_id"]),
            "terms": sorted(set(q["terms"]) & idfs.keys()),
            "k": int(q.get("k", 10)),
        }
        for q in queries
    ]
    avgdl = float(stats["avgdl"])
    scorer = wand.STRATEGIES[strategy]
    present = sorted(idfs)
    if not present:
        # same 4-column shape as every non-empty return (the old 3-column
        # BATCH_RESULT_SCHEMA empty made all-absent-terms batches
        # schema-incompatible with normal results)
        return _local_df(
            spark, [], "query_id int, rank int, doc_id bigint, score double"
        )
    excluder = _tombstone_excluder(index_dir)

    if _driver_tier_ok(stats["units"], all_dfs, present):
        # small batch: one driver-side segment read for the union of all
        # query terms, then the same per-unit/per-query scoring loop the
        # executors would run, and the same global per-query rank order
        up = _unit_part_ids(all_parts, present, stats["units"])

        def unit_results(u: int) -> dict:
            if not up[u]:
                return {}
            pdf = _unit_seg_pdf(index_dir, u, present, part_ids=up[u])
            if len(pdf) == 0:
                return {}
            sc = _sidecar(index_dir, u)
            exclude = sc.ords_of_docs(excluder(u))
            by_term: dict[str, list[dict]] = {}
            for lst in _rows_to_lists(pdf, idfs):
                by_term.setdefault(lst["term"], []).append(lst)
            out: dict[int, list[tuple[int, float]]] = {}
            for q in qspec:
                qlists = [l for t in q["terms"] for l in by_term.get(t, [])]
                if not qlists:
                    continue
                docs, scores = scorer(qlists, avgdl, q["k"], sc, exclude=exclude)
                out.setdefault(q["query_id"], []).extend(
                    zip(docs.tolist(), scores.tolist())
                )
            return out

        acc: dict[int, list[tuple[int, float]]] = {}
        for unit_acc in _map_units(stats["units"], unit_results):
            for qid, rs in unit_acc.items():
                acc.setdefault(qid, []).extend(rs)
        out_rows = []
        for q in qspec:
            top = _topk_rows(acc.get(q["query_id"], []), q["k"])
            out_rows.extend(
                (q["query_id"], r + 1, d, s) for r, (d, s) in enumerate(top)
            )
        return _local_df(
            spark, out_rows, "query_id int, rank int, doc_id bigint, score double"
        )

    seg = (
        _seg_scan(spark, index_dir, stats["units"])
        .filter(F.col("term").isin(present))
        .select(
            "unit", "term", "df", "postings",
            "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
        )
    )

    # The scoring task granularity used to be ONE task per unit (queries
    # threaded inside): a 2-unit index batch ran on 2 tasks no matter how
    # many cores the cluster has. Queries are independent, so they now
    # round-robin into CHUNKS and the grouping key becomes (unit, chunk) —
    # tasks = units x chunks ≈ the cluster's parallelism. A broadcast
    # (term -> chunk) map routes each segment row to the chunks that need
    # it (a term's rows duplicate through the shuffle only when several
    # chunks' queries share it). Per (query, unit) the scorer sees exactly
    # the rows it saw before -> identical emissions, identical window
    # top-k.
    import math as _math

    par = max(1, int(spark.sparkContext.defaultParallelism))
    n_units = max(1, len(stats["units"]))
    n_chunks = max(1, min(len(qspec), _math.ceil(par / n_units)))
    # A term shared by queries in several chunks ships its postings once
    # per chunk through the exchange; bound that duplication in BYTES
    # (estimated from the lexicon dfs at ~2.3 B/posting compressed) so a
    # head term used by every query cannot multiply the shuffle by the
    # cluster's core count — halve the chunk count until the duplicate
    # budget fits.
    import os as _os

    dup_budget = int(_os.environ.get("PGSPARK_BATCH_DUP_BYTES", 256 << 20))

    def _dup_bytes(nc: int) -> int:
        uses: dict[str, int] = {}
        for ci in range(nc):
            for t in {t for q in qspec[ci::nc] for t in q["terms"]}:
                uses[t] = uses.get(t, 0) + 1
        return int(
            sum(all_dfs.get(t, 0) * 2.3 * (n - 1) for t, n in uses.items())
        )

    while n_chunks > 1 and _dup_bytes(n_chunks) > dup_budget:
        n_chunks = max(1, n_chunks // 2)
    chunks = [qspec[i::n_chunks] for i in range(n_chunks)]
    tc_rows = sorted(
        {(t, ci) for ci, ch in enumerate(chunks) for q in ch for t in q["terms"]}
    )
    seg2 = seg.join(
        F.broadcast(_values_df(spark, tc_rows, "term string, qc int")), "term"
    )

    def score_unit_chunk(key, pdf):
        from concurrent.futures import ThreadPoolExecutor

        import pandas as pd

        unit, qc = int(key[0]), int(key[1])
        qs = chunks[qc]
        sc = _sidecar(index_dir, unit)
        exclude = sc.ords_of_docs(excluder(unit))
        by_term: dict[str, list[dict]] = {}
        for lst in _rows_to_lists(pdf, idfs):
            by_term.setdefault(lst["term"], []).append(lst)

        # per-query scoring is independent and numpy-bound (GIL released);
        # a small pool inside the task fills the chunk's queries. pool.map
        # preserves chunk order (deterministic output rows).
        def one(q):
            qlists = [l for t in q["terms"] for l in by_term.get(t, [])]
            if not qlists:
                return None
            docs, scores = scorer(qlists, avgdl, q["k"], sc, exclude=exclude)
            return q["query_id"], docs, scores

        with ThreadPoolExecutor(max_workers=min(4, max(1, len(qs)))) as pool:
            results = [r for r in pool.map(one, qs) if r is not None]
        out_q, out_d, out_s = [], [], []
        for qid, docs, scores in results:
            out_q.extend([qid] * len(docs))
            out_d.extend(docs.tolist())
            out_s.extend(scores.tolist())
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    per_unit = seg2.groupBy("unit", "qc").applyInPandas(
        score_unit_chunk, schema=BATCH_RESULT_SCHEMA
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    kdf = _values_df(
        spark, [(q["query_id"], q["k"]) for q in qspec], "query_id int, k int"
    )
    return (
        per_unit.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(kdf), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )


# --------------------------------------------------------------------------
# all-matches scoring and the query shapes built on it: field collapse,
# function_score, rescore, count, term vectors
# --------------------------------------------------------------------------


def score_all_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    tombstone_closure_limit: int = TOMBSTONE_CLOSURE_LIMIT,
) -> DataFrame:
    """EVERY live matching doc with its full BM25 score ->
    DataFrame(doc_id, score), unordered.

    The building block for query shapes whose final order is NOT the BM25
    order (field collapse, per-doc multiplicative function_score): top-k
    pruning is unsound there, so each unit emits all of its matches. The
    emission is O(sum df(term)) rows — the same order of work as decoding
    the query terms' posting lists, which any scorer does anyway; no
    driver collect, no closure-borne doc sets. Tombstone sets beyond
    ``tombstone_closure_limit`` are removed by a DISTRIBUTED unit-scoped
    anti-join on the emitted rows (LSN-as-version semantics, same
    predicate as ``_search_escalating``)."""
    import numpy as np

    stats = merge.load_stats(index_dir)
    terms = sorted(set(terms))
    idfs = _term_stats(spark, index_dir, terms, stats["n_docs"])[0]
    present = sorted(idfs)
    if not present:
        return _local_df(spark, [], RESULT_SCHEMA)
    avgdl = float(stats["avgdl"])
    excluder, tomb_big = _tombstone_excluder_bounded(
        index_dir, tombstone_closure_limit
    )

    seg = (
        _seg_scan(spark, index_dir, stats["units"])
        .filter(F.col("term").isin(present))
        .select(
            "unit", "term", "df", "postings",
            "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
        )
    )

    def score_unit(key, pdf):
        import pandas as pd

        sc = _sidecar(index_dir, key[0])
        ex = None if tomb_big else sc.ords_of_docs(excluder(key[0]))
        docs, scores = wand.score_exhaustive(
            _rows_to_lists(pdf, idfs), avgdl, None, sc, exclude=ex
        )
        return pd.DataFrame(
            {"unit": np.full(docs.size, key[0], dtype="int32"),
             "doc_id": docs, "score": scores}
        )

    per_unit = seg.groupBy("unit").applyInPandas(
        score_unit, schema=UNIT_RESULT_SCHEMA
    )
    if tomb_big:
        from .incremental import read_tombstones, unit_snapshots

        tomb_max = (
            read_tombstones(spark, index_dir)
            .groupBy("doc_id").agg(F.max("snapshot").alias("__ts"))
        )
        usnap_df = spark.createDataFrame(
            [(int(u), int(s)) for u, s in unit_snapshots(index_dir).items()],
            "unit int, __us bigint",
        )
        per_unit = (
            per_unit.join(F.broadcast(usnap_df), "unit", "left")
            .join(tomb_max, "doc_id", "left")
            .filter(
                F.col("__ts").isNull()
                | (F.col("__ts") <= F.coalesce(F.col("__us"), F.lit(0)))
            )
            .drop("__ts", "__us")
        )
    return per_unit.select("doc_id", "score")


def search_collapse(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    key_df: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Field collapse (the ES ``collapse`` parameter): top-k GROUPS, each
    represented by its best-scoring doc -> DataFrame(doc_id, key, score),
    (score DESC, doc_id ASC) over the representatives.

    ``key_df``: DataFrame(doc_id, key) — the collapse field (e.g. site
    host, source feed). Docs without a key row are dropped (ES collapses
    on a doc value; our metadata join is the analog). Plan shape: the
    all-matches emission joins the key table (Catalyst broadcasts a small
    dim or shuffles on doc_id), one window per key picks the group best
    (row_number over score DESC, doc_id ASC — deterministic), then a
    global TakeOrderedAndProject. One shuffle on key, one on the final
    top-k; no driver staging."""
    from pyspark.sql.window import Window

    scored = score_all_matches(spark, index_dir, terms)
    joined = scored.join(key_df, "doc_id")
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("doc_id"))
    best = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        best.select("doc_id", "key", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_function_score(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    factor_df: DataFrame,
    k: int = 10,
) -> DataFrame:
    """function_score with a per-doc multiplicative factor (the ES
    ``field_value_factor`` / ``boost_mode: multiply`` shape): final =
    BM25 * factor(doc) -> top-k DataFrame(doc_id, score).

    A per-doc factor reorders arbitrarily (a low-BM25 doc with a huge
    factor can win), so pruned top-k over the raw BM25 order is unsound:
    every match is scored (``score_all_matches``), the factor joins on
    doc_id (left — docs missing from ``factor_df`` keep factor 1.0, the
    ES missing-value default), then TakeOrderedAndProject."""
    scored = score_all_matches(spark, index_dir, terms)
    return (
        scored.join(factor_df, "doc_id", "left")
        .withColumn(
            "score", F.col("score") * F.coalesce(F.col("factor"), F.lit(1.0))
        )
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_rescore(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    phrase: list[str],
    k: int = 10,
    window: int = 50,
    weight: float = 2.0,
) -> DataFrame:
    """Two-stage ranking (the ES ``rescore`` API with query_weight=1,
    rescore_query_weight=``weight``): stage 1 takes the BM25 top-``window``
    docs; stage 2 adds ``weight`` x the phrase BM25 score for window docs
    that contain the exact phrase; the re-sorted top-k is returned.

    Scale shape: stage 1 is the normal pruned top-k (window rows on the
    driver-free path); the phrase match set is computed distributed
    (``search_phrase(k=None)``) and immediately left-semi-joined against
    the BROADCAST window doc set, so the join carries <= window rows no
    matter how common the phrase is."""
    base = search(spark, index_dir, terms, k=window)
    ph = search_phrase(spark, index_dir, phrase, k=None)
    ph_w = (
        ph.join(F.broadcast(base.select("doc_id")), "doc_id", "left_semi")
        .withColumnRenamed("score", "__ps")
    )
    return (
        base.join(ph_w, "doc_id", "left")
        .withColumn(
            "score",
            F.col("score")
            + F.lit(float(weight)) * F.coalesce(F.col("__ps"), F.lit(0.0)),
        )
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_count(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
) -> DataFrame:
    """The ES ``_count`` API: how many live docs match (OR: any term /
    AND: every term) -> one row DataFrame(n_hits). Rides ``match_docs``
    (doc-id-only postings decode, tombstone-aware, no scoring): each unit
    emits its match count's worth of ids and one distributed count folds
    them — a live doc exists in exactly one unit, so no dedup shuffle is
    needed."""
    return match_docs(spark, index_dir, terms, mode=mode).agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def search_sort(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    mode: str = "or",
) -> DataFrame:
    """The ES ``sort`` parameter: hits ordered by a document FIELD instead
    of relevance -> top-k DataFrame(doc_id, <sort_col>), (<sort_col>
    ASC|DESC, doc_id ASC).

    Field order is score-independent, so no scoring work runs at all: the
    boolean match set (``match_docs`` — doc-id-only postings decode,
    tombstone-aware) joins the metadata column and the order+limit
    compiles to TakeOrderedAndProject (distributed partial top-k, no full
    sort — the same plan shape the reference's users get from an
    OpenSearch sort, which reads doc values instead of scores)."""
    matched = match_docs(spark, index_dir, terms, mode=mode).select("doc_id")
    order = [
        F.asc(sort_col) if ascending else F.desc(sort_col),
        F.asc("doc_id"),
    ]
    return (
        meta_df.select("doc_id", sort_col)
        .join(matched, "doc_id")
        .orderBy(*order)
        .limit(k)
    )


def search_agg_range(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    ranges: list[tuple],
    mode: str = "or",
) -> DataFrame:
    """The ES ``range`` aggregation: explicit ``[from, to)`` buckets over
    the match set -> DataFrame(key, doc_count), key ASC. ``ranges`` is a
    list of (key, lo, hi) with ``None`` for an open end; buckets may
    overlap and EMPTY buckets are kept (count 0), both ES semantics.

    Scale shape: overlapping buckets rule out a single groupBy key, and a
    non-equi join of rows x ranges would force a nested-loop join — so
    each bucket is a conditional count in ONE distributed aggregate over
    the matched rows (K counter columns, partial+final combine), unpivoted
    to rows with ``stack``. One pass, no join, nothing per-doc on the
    driver."""
    matched = match_docs(spark, index_dir, terms, mode=mode).select("doc_id")
    vals = meta_df.select("doc_id", value_col).join(matched, "doc_id")
    v = F.col(value_col)
    aggs = []
    for i, (key, lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= F.lit(float(lo)))
        if hi is not None:
            cond = cond & (v < F.lit(float(hi)))
        aggs.append(F.count(F.when(cond, 1)).alias(f"__b{i}"))
    row = vals.agg(*aggs)
    stack = ", ".join(
        f"'{key}', __b{i}" for i, (key, _, _) in enumerate(ranges)
    )
    return row.selectExpr(
        f"stack({len(ranges)}, {stack}) AS (key, doc_count)"
    ).orderBy("key")


def search_agg_cardinality(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    exact: bool = True,
    rsd: float = 0.05,
    mode: str = "or",
) -> DataFrame:
    """The ES ``cardinality`` aggregation: distinct values of a field over
    the match set -> one row DataFrame(cardinality).

    ES computes this with HyperLogLog++; Spark ships the same sketch as
    ``approx_count_distinct`` (``exact=False``, tunable ``rsd``) — the
    100-TB path, one pass, fixed-size partial state, no distinct shuffle.
    ``exact=True`` (default here so the DuckDB oracle can hash-match)
    runs the exact distributed count-distinct instead."""
    matched = match_docs(spark, index_dir, terms, mode=mode).select("doc_id")
    j = meta_df.select("doc_id", value_col).join(matched, "doc_id")
    agg = (
        F.count_distinct(F.col(value_col))
        if exact
        else F.approx_count_distinct(value_col, rsd)
    )
    return j.agg(agg.alias("cardinality"))


def search_agg_percentiles(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    percentiles: tuple = (0.25, 0.5, 0.75),
    mode: str = "or",
) -> DataFrame:
    """The ES ``percentiles`` aggregation over the match set ->
    DataFrame(pct, value), pct ASC, linear interpolation between order
    statistics (the quantile_cont definition both Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` implement — ES itself
    uses TDigest, approximate; Spark's scale analog is
    ``percentile_approx``, same sketch family, which this function would
    swap in for a 100-TB corpus where an exact distributed sort-based
    percentile is wasteful)."""
    matched = match_docs(spark, index_dir, terms, mode=mode).select("doc_id")
    j = meta_df.select("doc_id", value_col).join(matched, "doc_id")
    pcts = [float(p) for p in percentiles]
    arr = F.expr(
        f"percentile({value_col}, array({', '.join(repr(p) for p in pcts)}))"
    )
    row = j.agg(arr.alias("__p"))
    pct_arr = F.array(*[F.lit(p) for p in pcts])
    return (
        row.select(F.posexplode("__p").alias("__i", "value"))
        .withColumn("pct", F.element_at(pct_arr, F.col("__i") + 1))
        .select("pct", "value")
        .orderBy("pct")
    )


def search_agg_top_hits(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    bucket_col: str,
    n: int = 3,
) -> DataFrame:
    """The ES ``top_hits`` sub-aggregation: the n best-scoring hits WITHIN
    each bucket of a terms aggregation -> DataFrame(bucket, rank, doc_id,
    score), (bucket ASC, rank ASC).

    Per-bucket order is still relevance, so every match is scored
    (``score_all_matches`` — emission is O(sum df), the work any scorer
    does), the bucket key joins on doc_id, and one window per bucket
    (row_number over score DESC, doc_id ASC — deterministic) keeps rank
    <= n. One shuffle on the bucket key; no driver staging."""
    from pyspark.sql.window import Window

    scored = score_all_matches(spark, index_dir, terms)
    j = scored.join(meta_df.select("doc_id", bucket_col), "doc_id")
    w = Window.partitionBy(bucket_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(n))
        .select(
            F.col(bucket_col).alias("bucket"), "rank", "doc_id", "score"
        )
        .orderBy(F.asc("bucket"), F.asc("rank"))
    )


def search_decay(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    meta_df: DataFrame,
    value_col: str,
    origin: float,
    scale: float,
    k: int = 10,
    decay: float = 0.5,
    offset: float = 0.0,
    fn: str = "gauss",
) -> DataFrame:
    """function_score decay (the ES ``gauss``/``exp``/``linear`` decay
    functions, ``boost_mode: multiply``): final = BM25 x decay(|field -
    origin|) -> top-k DataFrame(doc_id, score).

    The decay curve is normalized exactly as ES documents it: the factor
    is ``decay`` at distance ``origin +- (offset + scale)`` and 1.0 inside
    ``offset``. A per-doc multiplier reorders arbitrarily, so every match
    is scored (``score_all_matches``), the field joins on doc_id (left —
    docs missing the field keep factor 1.0, the ES default), the factor
    is a JVM Column expression, and the top-k is TakeOrderedAndProject."""
    import math

    if fn not in ("gauss", "exp", "linear"):
        raise ValueError(f"unknown decay fn {fn!r}")
    scored = score_all_matches(spark, index_dir, terms)
    j = scored.join(meta_df.select("doc_id", value_col), "doc_id", "left")
    v = F.col(value_col)
    dist = F.greatest(
        F.lit(0.0), F.abs(v - F.lit(float(origin))) - F.lit(float(offset))
    )
    if fn == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
        factor = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    elif fn == "exp":
        lam = math.log(float(decay)) / float(scale)
        factor = F.exp(F.lit(lam) * dist)
    else:  # linear
        s = float(scale) / (1.0 - float(decay))
        factor = F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    factor = F.when(v.isNull(), F.lit(1.0)).otherwise(factor)
    return (
        j.withColumn("score", F.col("score") * factor)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_multifield_bestfields(
    spark: SparkSession,
    field_indexes: dict[str, str] | str,
    terms: list[str],
    k: int = 10,
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """multi_match ``type: best_fields`` (the ES default, a dis_max over
    per-field queries): score(d) = max_f boost_f * BM25_f(d, q) +
    tie_breaker * sum of the non-best fields -> top-k DataFrame(doc_id,
    score). Contrast ``search_multifield`` (most_fields: SUM across
    fields).

    Each field's full match set is scored in its own index
    (``score_all_matches`` — per-field tombstones already excluded; the
    engine's delta path writes tombstones to every field dir, so the
    doc-live set is field-consistent), the per-field score columns
    full-outer-join on doc_id (missing field = no match = 0 contribution,
    exactly dis_max), and the combine is a JVM greatest/sum expression
    feeding TakeOrderedAndProject."""
    if isinstance(field_indexes, str):
        field_indexes = discover_fields(field_indexes)
    boosts = {f: 1.0 for f in field_indexes} | (boosts or {})
    fields = sorted(field_indexes)
    joined = None
    cols = []
    for f in fields:
        s = score_all_matches(spark, field_indexes[f], terms).select(
            "doc_id",
            (F.col("score") * F.lit(float(boosts[f]))).alias(f"__s_{f}"),
        )
        joined = s if joined is None else joined.join(s, "doc_id", "full_outer")
        cols.append(f"__s_{f}")
    zs = [F.coalesce(F.col(c), F.lit(0.0)) for c in cols]
    mx = F.greatest(*zs) if len(zs) > 1 else zs[0]
    total = zs[0]
    for z in zs[1:]:
        total = total + z
    score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return (
        joined.withColumn("score", score)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_synonyms(
    spark: SparkSession,
    index_dir: str,
    groups: list[list[str]],
    k: int = 10,
) -> DataFrame:
    """Query-time synonym expansion: each query position carries a GROUP
    of interchangeable terms; score(d) = sum over groups of max over the
    group's member-term BM25 contributions -> top-k DataFrame(doc_id,
    score). (Max-per-group is the dis_max fusion: the best synonym
    represents the position — a doc containing three spellings of the
    same word is not tripled. Lucene's SynonymQuery blends df across
    members instead; max-of-members is the equally standard
    per-term-weights expansion, and unlike df-blending it needs no
    index-side statistics rewrite.)

    Plan shape: ONE scoring pass per member term (each decodes only its
    own posting list — together the same O(sum df) work as an OR query
    over all members), per-term score columns full-outer-join on doc_id,
    and the group-max/total-sum fold is a JVM expression feeding
    TakeOrderedAndProject."""
    flat: list[str] = []
    for g in groups:
        flat.extend(g)
    if len(set(flat)) != len(flat):
        raise ValueError("synonym groups must be disjoint")
    joined = None
    per_term: dict[str, str] = {}
    for gi, g in enumerate(groups):
        for t in sorted(set(g)):
            col = f"__s_{gi}_{t}"
            per_term[t] = col
            s = score_all_matches(spark, index_dir, [t]).select(
                "doc_id", F.col("score").alias(col)
            )
            joined = (
                s if joined is None else joined.join(s, "doc_id", "full_outer")
            )
    total = None
    for gi, g in enumerate(groups):
        zs = [
            F.coalesce(F.col(per_term[t]), F.lit(0.0)) for t in sorted(set(g))
        ]
        gmax = F.greatest(*zs) if len(zs) > 1 else zs[0]
        total = gmax if total is None else total + gmax
    return (
        joined.withColumn("score", total)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def percolate(
    spark: SparkSession,
    docs_df: DataFrame,
    queries_df: DataFrame,
) -> DataFrame:
    """Reverse search (the ES percolate query: stored queries matched
    against an incoming document stream) -> DataFrame(doc_id, query_id),
    one row per (doc, stored query it satisfies).

    ``queries_df``: (query_id int, term string) — one row per REQUIRED
    term of a stored conjunctive query (the bool/must shape the
    reference's search traffic uses). Doc side tokenizes DISTINCT terms
    JVM-side (same pinned lower+regexp tokenizer spelling the index
    uses), the stored-query table rides a broadcast into an equi-join on
    term, and a query matches when every one of its terms hit
    (count == n_terms). Scale shape: queries are small-by-construction
    (a registry, not data) -> broadcast; the only shuffle is the
    (doc_id, query_id) partial-count aggregation, map-side combined."""
    n_terms = queries_df.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__need")
    )
    doc_terms = docs_df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            )
        ).alias("term"),
    )
    return (
        doc_terms.join(F.broadcast(queries_df), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count(F.lit(1)).alias("__got"))
        .join(F.broadcast(n_terms), "query_id")
        .filter(F.col("__got") == F.col("__need"))
        .select("doc_id", "query_id")
    )


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    docs_df: DataFrame,
    doc_id: int,
) -> DataFrame:
    """On-the-fly term vectors for ONE document (the ES ``_termvectors``
    API without stored vectors — ES likewise re-analyzes the source when
    vectors aren't stored): -> DataFrame(term, tf, df), term ASC.

    tf comes from re-tokenizing the doc's text with the SAME pinned
    tokenizer the index was built with (JVM-side lower + regexp, the
    textnorm-equivalent spelling); df comes from the index lexicon
    (driver-side ``termindex`` lookup, no Spark job — same path as
    ``_term_stats``). A single-doc API is driver-bounded by nature: the
    Spark work is one pushed-down point filter on doc_id."""
    tf_df = (
        docs_df.filter(F.col("doc_id") == int(doc_id))
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = [r["term"] for r in tf_df.collect()]
    dfs: dict[str, int] = {}
    if terms:
        table = termindex.read(
            merge.lexicon_path(index_dir), terms, ["term", "df_total"]
        )
        dfs = dict(
            zip(table["term"].to_pylist(),
                (int(x) for x in table["df_total"].to_pylist()))
        )
    rows = [(t, 0, int(dfs.get(t, 0))) for t in terms]
    df_df = spark.createDataFrame(rows, "term string, _z int, df bigint")
    return (
        tf_df.join(df_df.select("term", "df"), "term")
        .select("term", "tf", "df")
        .orderBy(F.asc("term"))
    )


# --------------------------------------------------------------------------
# ES-style bool query DSL compiler
# --------------------------------------------------------------------------
# The reference's search store consumes the OpenSearch JSON query DSL over
# HTTP (pkg/search — its store delegates bool/must/should/filter trees to
# OpenSearch/Lucene). This compiler is the engine-native analog: a nested
# dict in the same shape compiles onto the primitives above.

_DSL_TERMSET_LEAVES = ("match", "term", "prefix", "wildcard", "regexp", "fuzzy")


def _dsl_leaf_terms(index_dir: str, kind: str, body) -> list[str]:
    """Resolve a term-set leaf to its concrete lexicon term list."""
    if kind == "match":
        terms = body["terms"] if isinstance(body, dict) else body
        return sorted(set(terms))
    if kind == "term":
        return [body if isinstance(body, str) else body["value"]]
    if kind == "prefix":
        pat = body if isinstance(body, str) else body["value"]
        return expand_prefix(index_dir, pat)
    if kind == "wildcard":
        pat = body if isinstance(body, str) else body["value"]
        return expand_wildcard(index_dir, pat)
    if kind == "regexp":
        pat = body if isinstance(body, str) else body["value"]
        return expand_regexp(index_dir, pat)
    if kind == "fuzzy":
        if isinstance(body, str):
            return expand_fuzzy(index_dir, body)
        return expand_fuzzy(
            index_dir, body["term"],
            max_edits=int(body.get("max_edits", 1)),
            prefix_length=int(body.get("prefix_length", 0)),
            transpositions=bool(body.get("transpositions", False)),
        )
    raise ValueError(f"unknown term-set DSL leaf {kind!r}")


def _dsl_boost(body) -> float:
    """Per-clause score multiplier (the Lucene BoostQuery wrapper every ES
    clause accepts via a ``boost`` key in its body dict)."""
    if isinstance(body, dict):
        return float(body.get("boost", 1.0))
    return 1.0


def _apply_boost(df: DataFrame, boost: float) -> DataFrame:
    if boost == 1.0:
        return df
    return df.select(
        "doc_id", (F.col("score") * F.lit(boost)).alias("score")
    )


def _dsl_scores(spark: SparkSession, index_dir: str, node: dict) -> DataFrame:
    """One DSL node -> DataFrame(doc_id, score) of ALL matching live docs,
    unordered (clause semantics: a multi-term leaf matches if ANY of its
    terms match; its score is the sum of the matched terms' BM25
    contributions — the Lucene BooleanQuery/SHOULD sum inside the leaf).
    Any node body dict may carry ``boost`` (multiplies the clause score,
    the Lucene BoostQuery wrapper)."""
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"DSL node must be a single-key dict, got {node!r}")
    kind, body = next(iter(node.items()))
    if kind == "bool":
        return _apply_boost(_dsl_bool(spark, index_dir, body), _dsl_boost(body))
    if kind == "dis_max":
        return _dsl_dis_max(spark, index_dir, body)
    if kind == "constant_score":
        return _dsl_constant_score(spark, index_dir, body)
    if kind == "boosting":
        return _dsl_boosting(spark, index_dir, body)
    if kind == "ids":
        values = body["values"] if isinstance(body, dict) else body
        return _dsl_ids_set(spark, index_dir, values).withColumn(
            "score", F.lit(1.0 * _dsl_boost(body))
        )
    if kind == "phrase":
        terms = body["terms"] if isinstance(body, dict) else body
        return _apply_boost(
            search_phrase(spark, index_dir, list(terms), k=None),
            _dsl_boost(body),
        )
    if kind == "phrase_prefix":
        terms = body["terms"] if isinstance(body, dict) else body
        mx = int(body.get("max_expansions", 128)) if isinstance(body, dict) else 128
        return _apply_boost(
            search_phrase_prefix(
                spark, index_dir, list(terms), k=None, max_expansions=mx
            ),
            _dsl_boost(body),
        )
    return _apply_boost(
        score_all_matches(
            spark, index_dir, _dsl_leaf_terms(index_dir, kind, body)
        ),
        _dsl_boost(body),
    )


def _dsl_dis_max(spark: SparkSession, index_dir: str, body: dict) -> DataFrame:
    """dis_max node -> DataFrame(doc_id, score): score = max(clause
    scores) + tie_breaker * (sum of the OTHER matched clause scores) —
    the Lucene DisjunctionMaxQuery. One unionByName over the clause
    emissions + one groupBy(doc_id) computing max and sum (map-side
    combined); no driver staging."""
    unknown = set(body) - {"queries", "tie_breaker", "boost"}
    if unknown:
        raise ValueError(f"unknown dis_max keys {sorted(unknown)}")
    queries = list(body.get("queries", []))
    if not queries:
        raise ValueError("dis_max needs a non-empty queries list")
    tb = float(body.get("tie_breaker", 0.0))
    u = None
    for clause in queries:
        d = _dsl_scores(spark, index_dir, clause)
        u = d if u is None else u.unionByName(d)
    agg = u.groupBy("doc_id").agg(
        F.max("score").alias("__mx"), F.sum("score").alias("__sm")
    )
    score = F.col("__mx") + F.lit(tb) * (F.col("__sm") - F.col("__mx"))
    return _apply_boost(
        agg.select("doc_id", score.alias("score")), _dsl_boost(body)
    )


def _dsl_boosting(spark: SparkSession, index_dir: str, body: dict) -> DataFrame:
    """boosting node: docs matching ``positive`` score normally; those
    ALSO matching ``negative`` have their score multiplied by
    ``negative_boost`` (default 0.5) — the Lucene/ES demotion query
    (soft must_not). One left join of the positive emission against the
    negative match set."""
    unknown = set(body) - {"positive", "negative", "negative_boost", "boost"}
    if unknown:
        raise ValueError(f"unknown boosting keys {sorted(unknown)}")
    if "positive" not in body or "negative" not in body:
        raise ValueError("boosting needs positive and negative")
    nb = float(body.get("negative_boost", 0.5))
    pos = _dsl_scores(spark, index_dir, body["positive"])
    neg = _dsl_match_set(spark, index_dir, body["negative"]).withColumn(
        "__neg", F.lit(1)
    )
    out = pos.join(neg, "doc_id", "left").select(
        "doc_id",
        (F.col("score")
         * F.when(F.col("__neg").isNotNull(), F.lit(nb)).otherwise(F.lit(1.0))
         ).alias("score"),
    )
    return _apply_boost(out, _dsl_boost(body))


def _dsl_ids_set(spark: SparkSession, index_dir: str, values) -> DataFrame:
    """ids node match set: the requested doc_ids that are LIVE in the
    index -> DataFrame(doc_id). Liveness = present in a committed unit's
    docs sidecar and not suppressed by a unit-scoped tombstone. The
    requested id list is driver-provided (bounded); the sidecar scan is
    distributed with the id filter pushed down."""
    stats = merge.load_stats(index_dir)
    vals = sorted({int(v) for v in values})
    if not vals:
        return spark.createDataFrame([], "doc_id long")
    excluder = _tombstone_excluder(index_dir)
    live = (
        _docs_scan(spark, index_dir, stats["units"])
        .select("unit", "doc_id")
        .filter(F.col("doc_id").isin(vals))
    )
    pairs = []
    vset = set(vals)
    for u in stats["units"]:
        ex = excluder(u)
        if ex is not None and len(ex):
            pairs.extend((int(u), int(d)) for d in set(ex.tolist()) & vset)
    if pairs:
        exdf = spark.createDataFrame(pairs, "unit int, doc_id long")
        live = live.join(exdf, ["unit", "doc_id"], "left_anti")
    return live.select("doc_id").distinct()


def _dsl_constant_score(
    spark: SparkSession, index_dir: str, body: dict
) -> DataFrame:
    """constant_score node: every doc matching the inner filter scores
    exactly ``boost`` (default 1.0) — the Lucene ConstantScoreQuery.
    Filter-context evaluation (no BM25 math on term-set leaves)."""
    unknown = set(body) - {"filter", "boost"}
    if unknown:
        raise ValueError(f"unknown constant_score keys {sorted(unknown)}")
    boost = float(body.get("boost", 1.0))
    return _dsl_match_set(spark, index_dir, body["filter"]).withColumn(
        "score", F.lit(boost)
    )


def _dsl_match_set(spark: SparkSession, index_dir: str, node: dict) -> DataFrame:
    """Filter-context evaluation: DataFrame(doc_id) only. Term-set leaves
    skip scoring entirely (``match_docs`` decodes doc ids, no tf/doclen
    math); phrase and nested bool fall back to the scored path and drop
    the score column."""
    kind, body = next(iter(node.items()))
    if kind in _DSL_TERMSET_LEAVES:
        return match_docs(
            spark, index_dir, _dsl_leaf_terms(index_dir, kind, body)
        ).select("doc_id")
    if kind == "constant_score":
        return _dsl_match_set(spark, index_dir, body["filter"])
    if kind == "ids":
        values = body["values"] if isinstance(body, dict) else body
        return _dsl_ids_set(spark, index_dir, values)
    if kind == "boosting":
        # demotion never unmatches: the match set is the positive's
        return _dsl_match_set(spark, index_dir, body["positive"])
    if kind == "dis_max":
        sets = [
            _dsl_match_set(spark, index_dir, clause)
            for clause in body.get("queries", [])
        ]
        u = sets[0]
        for s in sets[1:]:
            u = u.unionByName(s)
        return u.distinct()
    return _dsl_scores(spark, index_dir, node).select("doc_id")


def _dsl_bool(spark: SparkSession, index_dir: str, body: dict) -> DataFrame:
    """bool node -> DataFrame(doc_id, score), Lucene BooleanQuery
    semantics: score = sum(must scores) + sum(matched should scores);
    must clauses all required; filter clauses required, zero score
    contribution; must_not excludes; minimum_should_match defaults to 1
    when the query has no must/filter clause, else 0.

    Plan shape: every clause is an independent distributed emission
    (O(clause matches) rows); must combine via inner equi-joins on
    doc_id, should via one unionByName + groupBy(doc_id) (map-side
    combined), filter via left_semi, must_not via left_anti. No clause
    set ever stages on the driver."""
    unknown = set(body) - {"must", "should", "must_not", "filter",
                           "minimum_should_match", "boost"}
    if unknown:
        raise ValueError(f"unknown bool keys {sorted(unknown)}")
    must = list(body.get("must", []))
    should = list(body.get("should", []))
    must_not = list(body.get("must_not", []))
    filt = list(body.get("filter", []))
    if not (must or should or filt):
        raise ValueError("bool node needs at least one of must/should/filter")
    msm = body.get("minimum_should_match")
    msm = int(msm) if msm is not None else (0 if (must or filt) else 1)

    base: DataFrame | None = None
    for i, clause in enumerate(must):
        d = _dsl_scores(spark, index_dir, clause).withColumnRenamed(
            "score", f"__m{i}"
        )
        base = d if base is None else base.join(d, "doc_id")
    if base is not None and must:
        total = sum((F.col(f"__m{i}") for i in range(1, len(must))),
                    F.col("__m0"))
        base = base.select("doc_id", total.alias("score"))

    if should:
        parts = [
            _dsl_scores(spark, index_dir, clause)
            .select("doc_id", "score", F.lit(i).alias("__c"))
            for i, clause in enumerate(should)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        agg = u.groupBy("doc_id").agg(
            F.sum("score").alias("__s"),
            F.count_distinct("__c").alias("__n"),
        )
        if msm > 0:
            agg = agg.filter(F.col("__n") >= msm)
        if base is None:
            base = agg.select("doc_id", F.col("__s").alias("score"))
        elif msm > 0:
            # msm alongside must: the should block becomes a constraint
            base = base.join(agg, "doc_id").select(
                "doc_id", (F.col("score") + F.col("__s")).alias("score")
            )
        else:
            base = base.join(agg, "doc_id", "left").select(
                "doc_id",
                (F.col("score")
                 + F.coalesce(F.col("__s"), F.lit(0.0))).alias("score"),
            )

    for clause in filt:
        fset = _dsl_match_set(spark, index_dir, clause)
        if base is None:
            # filter-only bool: every survivor scores 0 (Lucene filter
            # context never contributes)
            base = fset.withColumn("score", F.lit(0.0))
        else:
            base = base.join(fset, "doc_id", "left_semi")

    for clause in must_not:
        base = base.join(
            _dsl_match_set(spark, index_dir, clause), "doc_id", "left_anti"
        )
    return base.select("doc_id", "score")


def execute_dsl(
    spark: SparkSession,
    index_dir: str,
    dsl: dict,
    k: int = 10,
    from_: int = 0,
) -> DataFrame:
    """Execute an OpenSearch-style JSON query DSL tree -> top-k
    DataFrame(doc_id, score), (score DESC, doc_id ASC).

    Supported nodes: ``bool`` (must / should / must_not / filter /
    minimum_should_match, arbitrarily nested), ``dis_max`` (queries +
    tie_breaker, the DisjunctionMaxQuery), ``constant_score`` (filter +
    boost), ``boosting`` (positive / negative / negative_boost),
    ``ids``, term-set leaves ``match`` ``term`` ``prefix`` ``wildcard``
    ``regexp`` ``fuzzy`` (multi-term expansion against the lexicon,
    driver-side range scan), ``phrase`` and ``phrase_prefix``
    (positional); every node's body dict accepts ``boost``. ``from_``
    is the From/Size offset-pagination window.

    This is the engine-native analog of the query DSL the reference's
    search store forwards opaquely to OpenSearch/ES — SearchRequest
    carries the raw JSON query as an io.Reader plus Size/From/Sort
    (internal/searchstore/search_api.go:12-20), and delete-by-query
    carries the same tree as a map (search_api.go:22-26); the engine
    compiles that tree onto its own distributed primitives instead of
    delegating to a Lucene service.

    A top-level term-set leaf short-circuits to ``search`` (pruned
    MaxScore top-k — no exhaustive emission; a positive boost is
    rank-preserving, so it is applied to the pruned result); everything
    else runs the clause-DAG plan described on ``_dsl_bool``."""
    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise ValueError("query DSL must be a single-key dict")
    from_ = int(from_)
    if from_ < 0:
        raise ValueError("from_ must be >= 0")
    depth = k + from_  # leaf top-k prune must cover the whole window
    kind, body = next(iter(dsl.items()))
    if kind in _DSL_TERMSET_LEAVES:
        out = _apply_boost(
            search(
                spark, index_dir, _dsl_leaf_terms(index_dir, kind, body),
                k=depth,
            ),
            _dsl_boost(body),
        )
    elif kind == "phrase":
        terms = body["terms"] if isinstance(body, dict) else body
        out = _apply_boost(
            search_phrase(spark, index_dir, list(terms), k=depth),
            _dsl_boost(body),
        )
    elif kind == "phrase_prefix":
        terms = body["terms"] if isinstance(body, dict) else body
        mx = int(body.get("max_expansions", 128)) if isinstance(body, dict) else 128
        out = _apply_boost(
            search_phrase_prefix(
                spark, index_dir, list(terms), k=depth, max_expansions=mx
            ),
            _dsl_boost(body),
        )
    else:
        out = (
            _dsl_scores(spark, index_dir, dsl)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(depth)
        )
    if from_ > 0:
        out = out.offset(from_)
    return out
