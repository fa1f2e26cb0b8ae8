"""Incremental indexing: delta units, tombstones, and compaction.

pgstream's core loop is continuous incremental indexing with strict
ordering and LSN-versioned conflict resolution
(/root/reference/docs/architecture.md:70,
/root/reference/pkg/wal/processor/search/search_adapter.go:140-184: doc
Version = LSN; updates out-version older writes). The batch-incremental
re-expression over snapshot tables:

- ``build_delta`` — new/changed rows (a later input snapshot) become fresh
  work units, committed through the same manifest protocol; doc_ids that
  already exist in the base index are recorded as TOMBSTONES (the delta
  version wins — snapshot ordering is the LSN analog).
- query-time: scorers exclude tombstoned docs (vectorized np filter), so
  reads are correct immediately after a delta lands — no rewrite needed.
  Between a delta and the next compaction, global n_docs/avgdl are
  CORRECTED for superseded versions at merge time (merge._tombstone_stat_
  adjustment — they equal a from-scratch build of the live corpus);
  per-term df still counts them — exactly Lucene's deleted-docs-affect-
  docFreq-until-merge semantics; compaction restores bit-equality with a
  from-scratch build (asserted in tests).
- ``compact`` — physically applies tombstones: decode -> drop -> renumber
  -> re-encode every posting list of an affected unit (a vectorized
  mapInArrow pass over row windows; no raw text required because postings
  carry (doc, tf) and the docs table holds doclen), rewrite docs tables,
  refresh manifest lineage, clear tombstones. After compact + merge, global
  stats and df are exactly those of a from-scratch build of the merged
  corpus.

Analogy map: tombstone-aware reads = OpenSearch versioned upsert/delete;
compact = Lucene segment merge expunging deletes.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import codecs, manifest, merge
from .build import (
    DOCS_SCHEMA,
    ORD_SHIFT,
    PARTIAL_FULL_SCHEMA,
    SEG_ROWGROUP_BYTES,
    SEG_SCHEMA,
    _arrow_seg_schema,
    _binary_from_flat,
    _binary_parts,
    _list_from_flat,
    _splice_merge_fn,
    build_unit,
    docs_path,
    make_rebase_fn,
    plan_salts_source,
    quarantine_path,
    segments_path,
    webtext_unit_provider,
)


def tombstones_path(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def _tombstone_files(index_dir: str) -> list[str]:
    # snapshot dirs (distributed writes) and any legacy single files
    d = tombstones_path(index_dir)
    return sorted(
        glob.glob(os.path.join(d, "snapshot-*", "*.parquet"))
        + glob.glob(os.path.join(d, "*.parquet"))
    )


# the schema every tombstone writer produces; reading with it skips the
# Spark job that parquet schema inference would launch
TOMBSTONE_SCHEMA = "doc_id bigint, snapshot bigint"


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    files = _tombstone_files(index_dir)
    if not files:
        return None
    return spark.read.schema(TOMBSTONE_SCHEMA).parquet(*files)


def load_tombstones(index_dir: str):
    """Driver-side tombstones -> (sorted doc_id int64 array, snapshot int64
    array aligned) or None. A tombstone (d, s) means: doc d's versions in
    units whose input_snapshot_id < s are superseded — exclusion is
    UNIT-SCOPED (the delta unit of snapshot s holds the live version!).

    Fully vectorized (pyarrow read + numpy lexsort group-max): no per-row
    Python. The array rides query/compact closures broadcast-style; the set
    stays small between compactions by design — at 10^12-doc scale with
    huge deltas this becomes a bloom-filter/anti-join instead."""
    import numpy as np

    files = _tombstone_files(index_dir)
    if not files:
        return None
    t = pa.concat_tables(
        [pq.read_table(f, columns=["doc_id", "snapshot"]) for f in files],
        promote_options="default",  # files may differ in nullability
    )
    if t.num_rows == 0:
        return None
    docs = t["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
    snaps = t["snapshot"].to_numpy(zero_copy_only=False).astype(np.int64)
    # group-max by doc: sort by (doc, snap) and keep each run's LAST row
    order = np.lexsort((snaps, docs))
    docs, snaps = docs[order], snaps[order]
    last = np.ones(docs.size, dtype=bool)
    last[:-1] = docs[1:] != docs[:-1]
    return docs[last], snaps[last]


def unit_snapshots(index_dir: str) -> dict[int, int]:
    """unit id -> input_snapshot_id from committed manifest lineage."""
    m = manifest.read_manifest(index_dir)
    m = m[m["status"] == manifest.STATUS_COMPLETED]
    return {int(u): int(s) for u, s in zip(m["unit"], m["input_snapshot_id"])}


def build_delta(
    spark: SparkSession,
    source,
    index_dir: str,
    input_snapshot_id: int,
    num_units: int = 1,
    partitions: int | None = None,
    **build_kwargs,
) -> dict:
    """Index a delta snapshot: new unit(s) + tombstones for superseded docs.

    ``source``: webtext DataFrame (or unit provider) containing ONLY the
    new/changed rows of snapshot ``input_snapshot_id`` (the Iceberg
    incremental-read output). Unit ids are namespaced by snapshot so they
    never collide with base units; resume works per snapshot via the
    manifest's input_snapshot_id scoping."""
    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    provider = source if callable(source) else webtext_unit_provider(source)
    base_unit = 1_000_000 * input_snapshot_id

    # Commit ordering (checkpoint-after-send, search_batch_indexer.go:218-223):
    # 1. delta unit segments + manifest rows, 2. THEN tombstones. A crash
    # between the two leaves both versions readable (stale-but-complete);
    # the inverse order would make updated docs vanish.
    done = manifest.completed_units(index_dir, input_snapshot_id)
    built = []
    todo = [i for i in range(num_units) if base_unit + i not in done]
    salt_plan = build_kwargs.pop("salt_plan", None)
    if todo and salt_plan is None:
        salt_plan = plan_salts_source(
            provider,
            num_units,
            build_kwargs.get("sample_fraction", 0.02),
            build_kwargs.get("salt_target", 100_000),
            build_kwargs.get("max_fanout", 64),
        )
    from .build import _aqe_disabled

    with _aqe_disabled(spark):
        for i in todo:
            uid = base_unit + i

            def shifted(unit, total, _provider=provider, _i=i, _n=num_units):
                return _provider(_i, _n)

            row = build_unit(
                spark, shifted, index_dir, uid, num_units, partitions,
                input_snapshot_id=input_snapshot_id, salt_plan=salt_plan,
                **build_kwargs,
            )
            built.append(row)

    # tombstones: delta doc_ids that exist in OTHER (older) units' docs.
    # DISTRIBUTED parquet write of the semi-join result — a delta that
    # recrawls 10^9 urls never touches the driver (round-1 used toPandas).
    os.makedirs(tombstones_path(index_dir), exist_ok=True)
    final = os.path.join(tombstones_path(index_dir), f"snapshot-{input_snapshot_id}")
    # staging name deliberately OUTSIDE the snapshot-* discovery glob: a
    # crash mid-write must never leave partial tombstones readable
    tmp = os.path.join(
        tombstones_path(index_dir), f".staging-snapshot-{input_snapshot_id}"
    )
    other_units = [
        u
        for u in manifest.completed_units(index_dir)
        if not (base_unit <= u < base_unit + num_units)
    ]
    if other_units:
        existing = (
            spark.read.parquet(docs_path(index_dir))
            .filter(F.col("unit").isin(other_units))
            .select("doc_id")
        )
        tomb = (
            provider(0, 1)
            .select("doc_id")
            .distinct()
            .join(existing, "doc_id", "left_semi")
            .withColumn("snapshot", F.lit(input_snapshot_id).cast("long"))
        )
    else:  # first snapshot ever — nothing to supersede
        tomb = spark.createDataFrame([], "doc_id bigint, snapshot bigint")
    tomb.write.mode("overwrite").parquet(tmp)
    n_tomb = spark.read.parquet(tmp).count()
    if os.path.exists(final):
        import shutil

        shutil.rmtree(final)
    os.replace(tmp, final)  # atomic publish (commit-after-write)
    # refresh the lexicon/stats so terms that exist ONLY in the delta are
    # immediately visible (they'd otherwise be absent until the caller's
    # next merge_index)
    merge.merge_index(spark, index_dir)
    res = {"built_units": [r["unit"] for r in built], "tombstones": n_tomb}
    from .metrics import write_metrics

    write_metrics(
        index_dir, "delta",
        {
            **res,
            "input_snapshot_id": input_snapshot_id,
            "rows_indexed": sum(int(r["row_count"]) for r in built),
            "quarantined_docs": sum(
                int(r.get("quarantined_docs", 0)) for r in built
            ),
            "phase_secs": [r.get("phase_secs") for r in built],
        },
    )
    return res


def retry_quarantined(
    spark: SparkSession,
    source,
    index_dir: str,
    input_snapshot_id: int,
    partitions: int | None = None,
    **build_kwargs,
) -> dict:
    """Re-ingest previously quarantined poison docs from a (corrected)
    source — the per-document retry half of the reference's store retrier
    (search_store_retrier.go:94-150: only the retriable failed documents
    of a bulk request are resent, never the whole batch).

    ``source`` is a DataFrame or unit provider in the same shape the index
    was built from. Only rows whose doc_id appears in the quarantine
    sidecar are selected (a left-semi join the optimizer broadcasts for
    the usual tiny poison set — never a corpus rescan of the clean docs),
    and indexed as a delta unit of ``input_snapshot_id`` through the
    standard commit protocol. Quarantine rows whose doc re-indexed
    successfully are then cleared; rows that failed AGAIN are re-
    quarantined by the delta build itself (a fresh attempt row — the
    sidecar is an attempt log), and rows with unreadable identity
    (doc_id = -1) are unretriable and kept.

    Single-field indexes only (the multi-field root keeps one shared
    sidecar; retry there is a per-field rebuild decision for the caller).
    Returns {"retried": n, "still_quarantined": n, "built_units": [...]}.
    """
    import shutil

    qpath = quarantine_path(index_dir)
    # crash recovery for the sidecar swap at the end of this function
    # (two renames are not atomic together): a leftover staging dir with
    # qpath missing means the crash hit between the renames — finish the
    # swap; a leftover old dir alone means the post-swap (or clear-path)
    # cleanup didn't run — qpath state is already correct, drop it. This
    # runs BEFORE the isdir check so a stranded attempt log is never read
    # as "no quarantine".
    staging = os.path.join(index_dir, ".quarantine-staging")
    old = os.path.join(index_dir, ".quarantine-old")
    if not os.path.isdir(qpath) and os.path.isdir(staging):
        os.replace(staging, qpath)
    shutil.rmtree(staging, ignore_errors=True)  # stale pre-swap staging
    shutil.rmtree(old, ignore_errors=True)
    if not os.path.isdir(qpath):
        return {"retried": 0, "still_quarantined": 0, "built_units": []}
    # freeze the retryable id set BEFORE the delta build: the sidecar is
    # re-read afterwards (the build may append fresh attempt rows) and a
    # lazy plan over qpath could see those. A tiny parquet snapshot keeps
    # the set deterministic and never driver-resident.
    ids_tmp = os.path.join(index_dir, f".retry-ids-{input_snapshot_id}")
    (
        spark.read.parquet(qpath)
        .filter(F.col("doc_id") != -1)
        .select("doc_id")
        .distinct()
        .write.mode("overwrite")
        .parquet(ids_tmp)
    )
    try:
        retryable = spark.read.parquet(ids_tmp)
        if not retryable.head(1):
            still = spark.read.parquet(qpath).count()
            return {"retried": 0, "still_quarantined": still, "built_units": []}
        base = source if callable(source) else webtext_unit_provider(source)

        def filtered(unit: int, total: int) -> DataFrame:
            return base(unit, total).join(
                spark.read.parquet(ids_tmp), "doc_id", "left_semi"
            )

        res = build_delta(
            spark, filtered, index_dir, input_snapshot_id,
            num_units=1, partitions=partitions, **build_kwargs,
        )
        # indexed = docs the delta actually committed; clear their rows
        indexed = (
            spark.read.parquet(docs_path(index_dir))
            .filter(F.col("unit").isin(res["built_units"]))
            .select("doc_id")
        )
        n_retried = indexed.join(retryable, "doc_id", "left_semi").count()
        remaining = (
            spark.read.parquet(qpath)
            .join(indexed, "doc_id", "left_anti")
            .select("doc_id", "error", "unit")
        )
        n_remaining = remaining.count()
        # hidden staging + renames: Spark readers ignore dot-dirs. The one
        # non-atomic window (old renamed away, new not yet renamed in)
        # leaves qpath briefly absent — readers then see "no quarantine",
        # never a partial mix; the docs themselves are already committed
        staging = os.path.join(index_dir, ".quarantine-staging")
        old = os.path.join(index_dir, ".quarantine-old")
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        if n_remaining:
            remaining.write.mode("overwrite").partitionBy("unit").parquet(staging)
            os.replace(qpath, old)
            os.replace(staging, qpath)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.replace(qpath, old)
            shutil.rmtree(old, ignore_errors=True)
        out = {
            "retried": int(n_retried),
            "still_quarantined": int(n_remaining),
            "built_units": res["built_units"],
            "tombstones": res.get("tombstones", 0),
        }
        from .metrics import write_metrics

        write_metrics(index_dir, "retry-quarantined", out)
        return out
    finally:
        shutil.rmtree(ids_tmp, ignore_errors=True)


def build_delta_multifield(
    spark: SparkSession,
    delta_df: DataFrame,
    index_root: str,
    fields: dict,
    input_snapshot_id: int,
    id_col: str = "doc_id",
    num_units: int = 1,
    partitions: int | None = None,
    **build_kwargs,
) -> dict:
    """Incremental delta for a single-pass multi-field index: ONE
    scan/tokenize/shuffle indexes the changed rows into every field
    (``build.build_index_multifield`` with namespaced unit ids), then the
    superseded doc_ids are tombstoned in EVERY field dir so each remains
    independently queryable and ``search_multifield`` stays correct.

    Same commit ordering as ``build_delta`` (units first, THEN tombstones
    — a crash between the two leaves both versions readable), same
    snapshot-namespaced unit ids, same staging-then-rename tombstone
    publish. The doc sets of all fields agree by construction (one shared
    ordinal assignment), so tombstones are computed ONCE against the
    first field's older units and fanned out."""
    import shutil

    from .build import build_index_multifield, field_index_dir

    fnames = sorted(fields)
    fdirs = {f: field_index_dir(index_root, f) for f in fnames}
    base_unit = 1_000_000 * input_snapshot_id
    build_index_multifield(
        spark, delta_df, index_root, fields=fields, id_col=id_col,
        num_units=num_units, partitions=partitions,
        input_snapshot_id=input_snapshot_id, unit_base=base_unit,
        **build_kwargs,
    )
    first = fdirs[fnames[0]]
    other_units = [
        u
        for u in manifest.completed_units(first)
        if not (base_unit <= u < base_unit + num_units)
    ]
    if other_units:
        existing = (
            spark.read.parquet(docs_path(first))
            .filter(F.col("unit").isin(other_units))
            .select("doc_id")
        )
        tomb = (
            delta_df.select(F.col(id_col).cast("long").alias("doc_id"))
            .distinct()
            .join(existing, "doc_id", "left_semi")
            .withColumn("snapshot", F.lit(input_snapshot_id).cast("long"))
        )
    else:
        tomb = spark.createDataFrame([], "doc_id bigint, snapshot bigint")
    # one semi-join computes the tombstone set; the K per-field writes
    # re-read the cached result, not the delta/docs join
    tomb = tomb.persist()
    n_tomb = 0
    for f in fnames:
        os.makedirs(tombstones_path(fdirs[f]), exist_ok=True)
        final = os.path.join(
            tombstones_path(fdirs[f]), f"snapshot-{input_snapshot_id}"
        )
        tmp = os.path.join(
            tombstones_path(fdirs[f]), f".staging-snapshot-{input_snapshot_id}"
        )
        tomb.write.mode("overwrite").parquet(tmp)
        n_tomb = spark.read.parquet(tmp).count()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        merge.merge_index(spark, fdirs[f])
    tomb.unpersist()
    return {
        "built_units": [base_unit + i for i in range(num_units)],
        "tombstones": n_tomb,
        "field_indexes": fdirs,
    }


def drop_docs(
    spark: SparkSession,
    index_dir: str,
    match: DataFrame,
    snapshot_id: int | None = None,
) -> dict:
    """Delete-by-query: tombstone every indexed doc in ``match`` (any
    DataFrame with a doc_id column — e.g. a metadata predicate over the
    docs table, or a query.match_docs result).

    Reference analog: pgstream deletes a schema's documents from the
    search store by query on schema drop
    (/root/reference/pkg/wal/processor/search/search_store.go:154-184,
    DeleteByQuery over the schema-name field). Same shape here: a pure
    tombstone-metadata write — postings stay untouched until ``compact``
    physically expunges them; queries exclude the docs immediately via the
    standard tombstone mechanism (unit-scoped, LSN-as-version).

    ``snapshot_id`` defaults to (max committed unit snapshot) + 1 so the
    tombstones supersede every existing unit; it consumes that snapshot id
    (a later build_delta should use a higher one). Distributed end-to-end:
    the match set is semi-joined against the docs tables and written as
    parquet without touching the driver."""
    usnap = unit_snapshots(index_dir)
    if snapshot_id is None:
        snapshot_id = (max(usnap.values()) if usnap else 0) + 1
    indexed = spark.read.parquet(docs_path(index_dir)).select("doc_id")
    tomb = (
        match.select("doc_id")
        .distinct()
        .join(indexed, "doc_id", "left_semi")
        .withColumn("snapshot", F.lit(int(snapshot_id)).cast("long"))
    )
    d = tombstones_path(index_dir)
    os.makedirs(d, exist_ok=True)
    # dirname namespaced per drop so repeated drop_docs calls never clobber
    # an earlier drop's (or a delta's) tombstones; the snapshot-* glob in
    # _tombstone_files picks all of them up
    n_prev = len(glob.glob(os.path.join(d, f"snapshot-{snapshot_id}.drop-*")))
    final = os.path.join(d, f"snapshot-{snapshot_id}.drop-{n_prev}")
    # stage outside the snapshot-* glob (uncommitted writes must stay invisible)
    tmp = os.path.join(d, f".staging-{os.path.basename(final)}")
    tomb.write.mode("overwrite").parquet(tmp)
    n_tomb = spark.read.parquet(tmp).count()
    os.replace(tmp, final)  # atomic publish (commit-after-write)
    # refresh stats so n_docs/avgdl reflect the drop immediately
    merge.merge_index(spark, index_dir)
    from .metrics import write_metrics

    res = {"tombstoned": int(n_tomb), "snapshot_id": int(snapshot_id)}
    write_metrics(index_dir, "drop-docs", res)
    return res


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    dsl: dict,
    snapshot_id: int | None = None,
) -> dict:
    """Delete-by-QUERY-DSL: tombstone every live doc matching an
    OpenSearch-style query tree — the engine-native form of the
    reference's DeleteByQueryRequest (a DSL tree as ``map[string]any``,
    internal/searchstore/search_api.go:22-26; used on schema drop,
    pkg/wal/processor/search/search_store.go:154-184).

    The tree is evaluated in FILTER context (``query._dsl_match_set`` —
    term-set leaves decode doc ids only, no BM25 math), then handed to
    ``drop_docs``: a pure tombstone write, postings untouched until
    ``compact``. Distributed end-to-end."""
    from . import query as q

    match = q._dsl_match_set(spark, index_dir, dsl)
    return drop_docs(spark, index_dir, match, snapshot_id=snapshot_id)


def recover_folds(spark: SparkSession, index_dir: str) -> dict:
    """Finish or roll back interrupted unit folds (crash recovery).

    A fold journal whose folded unit's manifest row COMMITTED means the
    fold is logically complete (read_manifest already hides the source
    rows) — finish the physical retirement and republish. A journal whose
    new row never committed is rolled back: staged/orphan data dirs and
    the journal are removed; the source units were never touched.
    Idempotent; called on entry by merge_units and usable standalone."""
    import shutil

    finished, rolled_back = [], []
    for _path, j in manifest.fold_journals(index_dir):
        new = int(j["new"])
        committed = new in manifest.completed_units(index_dir)
        seg_new = os.path.join(segments_path(index_dir), f"unit={new}")
        doc_new = os.path.join(docs_path(index_dir), f"unit={new}")
        if committed:
            for u in j["old"]:
                manifest.delete_unit_row(index_dir, int(u))
                shutil.rmtree(
                    os.path.join(segments_path(index_dir), f"unit={int(u)}"),
                    ignore_errors=True,
                )
                shutil.rmtree(
                    os.path.join(docs_path(index_dir), f"unit={int(u)}"),
                    ignore_errors=True,
                )
            manifest.clear_fold_journal(index_dir, new)
            merge.merge_index(spark, index_dir)
            finished.append(new)
        else:
            for d in (
                seg_new,
                doc_new,
                os.path.join(segments_path(index_dir), f".fold-unit={new}"),
                os.path.join(docs_path(index_dir), f".fold-unit={new}"),
            ):
                shutil.rmtree(d, ignore_errors=True)
            manifest.clear_fold_journal(index_dir, new)
            rolled_back.append(new)
    return {"finished": finished, "rolled_back": rolled_back}


def merge_units(
    spark: SparkSession,
    index_dir: str,
    units: list[int] | None = None,
    partitions: int | None = None,
) -> dict:
    """TIERED UNIT MERGE: fold N committed units into ONE — the Lucene
    background-segment-merge analog that keeps query fan-out, sidecar
    cache pressure, and lexicon size bounded under continuous ingestion
    (every delta otherwise appends a unit forever; reference precedent:
    the search store delegates exactly this to Lucene segment merging,
    and pgstream's recorder folds completed snapshot work units,
    snapshot_generator_recorder.go:241-379).

    Mechanism — splice, never decode: each source unit's ordinal space
    (``pid << ORD_SHIFT | rank``, pid < ord_partitions) is shifted by a
    closed-form per-unit constant ``offset_j << ORD_SHIFT`` (offset_j =
    sum of earlier units' ord_partitions), which re-labels its partition
    grid into one combined grid. That makes every (term, salt) list of
    unit j ordinal-disjoint from (and ordered against) every other
    unit's, so the standard splice merge concatenates compressed blobs
    with one varint patch per source list (build.make_rebase_fn +
    _splice_merge_fn): O(segment rows + bytes), no posting is ever
    decoded. Docs sidecars get the same constant shift JVM-side. The
    folded unit is EQUIVALENT to the sources (identical doc_ids, doclens,
    per-term df/cf/postings, global stats — asserted in tests via
    bit-identical query results); its physical layout keeps the
    per-source partition grids, exactly as a Lucene merged segment keeps
    renumbered-but-not-rehashed docIDs.

    Commit protocol (alias-style cutover, crash-safe at every step):
    stage data under dot-dirs (invisible to discovery) -> write the fold
    journal -> rename in -> commit the folded manifest row (from this
    instant read_manifest hides the source rows — the journal makes the
    multi-file retirement atomic) -> merge_index republishes lexicon +
    stats.json (queries cut over here: they scan only stats.json's unit
    list) -> physically retire source rows/dirs -> clear the journal.
    ``recover_folds`` finishes or rolls back any interrupted fold.

    Pending tombstones are compacted first (the fold then never carries
    superseded doc versions forward — Lucene's expunge-deletes-on-merge).
    """
    import shutil
    import time as _time

    recover_folds(spark, index_dir)
    if _tombstone_files(index_dir):
        compact(spark, index_dir)
    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = manifest.read_manifest(index_dir)
    m = m[m["status"] == manifest.STATUS_COMPLETED]
    completed = sorted(int(u) for u in m["unit"])
    units = completed if units is None else sorted(int(u) for u in units)
    missing = [u for u in units if u not in completed]
    if missing:
        raise ValueError(f"units not committed: {missing}")
    if len(units) < 2:
        return {"folded_units": [], "new_unit": None}
    rows = {int(r["unit"]): r for _, r in m.iterrows()}
    # per-unit ordinal base: offset_j = sum of earlier units' partition
    # counts, shifted into ordinal space (closed-form re-basing)
    bases: dict[int, int] = {}
    offset = 0
    for u in units:
        bases[u] = offset << ORD_SHIFT
        offset += int(rows[u]["ord_partitions"])
    # folded units live at 1_000_000 * snapshot + 500_000 + seq: above any
    # delta's unit ids for the snapshot (deltas number from +0; >500k units
    # per delta snapshot is out of contract), below the next snapshot's —
    # so future deltas can never collide with a fold's unit id
    max_snap = max(int(rows[u]["input_snapshot_id"]) for u in units)
    new_unit = max(max(completed) + 1, 1_000_000 * max_snap + 500_000)

    seg_base, doc_base = segments_path(index_dir), docs_path(index_dir)
    seg_stage = os.path.join(seg_base, f".fold-unit={new_unit}")
    doc_stage = os.path.join(doc_base, f".fold-unit={new_unit}")
    seg_final = os.path.join(seg_base, f"unit={new_unit}")
    doc_final = os.path.join(doc_base, f"unit={new_unit}")

    phases: dict[str, float] = {}
    _t0 = _time.time()
    seg = spark.read.option("basePath", seg_base).parquet(
        *[os.path.join(seg_base, f"unit={u}") for u in units]
    )
    from pyspark.sql import Observation

    obs = Observation()
    folded = (
        seg.mapInArrow(make_rebase_fn(bases), schema=PARTIAL_FULL_SCHEMA)
        .repartition(partitions, "term", "salt")
        .sortWithinPartitions("term", "salt", "first_doc")
        .mapInArrow(_splice_merge_fn, schema=SEG_SCHEMA)
        .observe(
            obs,
            F.count(F.lit(1)).alias("terms"),
            F.sum(F.length("postings")).alias("bytes"),
        )
    )
    folded.write.mode("overwrite").option(
        "parquet.block.size", str(SEG_ROWGROUP_BYTES)
    ).parquet(seg_stage)
    phases["fold_segments"] = round(_time.time() - _t0, 2)

    _t0 = _time.time()
    base_df = F.broadcast(
        spark.createDataFrame(
            [(u, bases[u]) for u in units], "unit int, __base bigint"
        )
    )
    docs = spark.read.option("basePath", doc_base).parquet(
        *[os.path.join(doc_base, f"unit={u}") for u in units]
    )
    (
        docs.join(base_df, "unit")
        .select(
            (F.col("ord") + F.col("__base")).alias("ord"),
            "doc_id", "url", "doclen",
        )
        .write.mode("overwrite")
        .parquet(doc_stage)
    )
    phases["fold_docs"] = round(_time.time() - _t0, 2)

    # ---- cutover ----
    manifest.write_fold_journal(index_dir, new_unit, units)
    shutil.rmtree(seg_final, ignore_errors=True)
    shutil.rmtree(doc_final, ignore_errors=True)
    os.replace(seg_stage, seg_final)
    os.replace(doc_stage, doc_final)
    manifest.commit_unit(
        index_dir,
        {
            "segment_id": f"u{new_unit}",
            "unit": new_unit,
            "ord_partitions": offset,
            "input_snapshot_id": max(int(rows[u]["input_snapshot_id"]) for u in units),
            "row_count": sum(int(rows[u]["row_count"]) for u in units),
            "sum_doclen": sum(int(rows[u]["sum_doclen"]) for u in units),
            "term_count": int(obs.get["terms"] or 0),
            "bytes": int(obs.get["bytes"] or 0),
            "dropped_terms": sum(
                int(rows[u]["dropped_terms"] or 0) for u in units
            ),
            "quarantined_docs": sum(
                int(rows[u]["quarantined_docs"] or 0) for u in units
            ),
            "status": manifest.STATUS_COMPLETED,
        },
    )
    # queries cut over when merge_index publishes the new stats/lexicon;
    # until then they keep scanning the (still intact) source unit dirs
    merge.merge_index(spark, index_dir)
    for u in units:
        manifest.delete_unit_row(index_dir, u)
        shutil.rmtree(os.path.join(seg_base, f"unit={u}"), ignore_errors=True)
        shutil.rmtree(os.path.join(doc_base, f"unit={u}"), ignore_errors=True)
    manifest.clear_fold_journal(index_dir, new_unit)
    res = {
        "folded_units": units,
        "new_unit": new_unit,
        "ord_partitions": offset,
        "phase_secs": phases,
    }
    from .metrics import write_metrics

    write_metrics(
        index_dir, "merge-units",
        {**res, "term_rows": int(obs.get["terms"] or 0),
         "postings_bytes": int(obs.get["bytes"] or 0)},
    )
    return res


class _OrdSetFile:
    """Broadcast-equivalent handle to a unit's tombstoned-ordinal set.

    compact() writes the set DISTRIBUTEDLY to a small parquet under the
    index dir (shared storage by contract — the same place segments live)
    and ships only this path in task closures; each task reads + sorts the
    set on first use. A bulk delete covering half a unit therefore never
    stages millions of ordinals through the driver (the old collect() +
    broadcast ceiling)."""

    __slots__ = ("path", "_arr")

    def __init__(self, path: str):
        self.path = path
        self._arr = None

    def __getstate__(self):
        return self.path

    def __setstate__(self, path):
        self.path = path
        self._arr = None

    @property
    def value(self):
        if self._arr is None:
            import numpy as np
            import pyarrow.dataset as ds

            t = ds.dataset(self.path, format="parquet").to_table(columns=["ord"])
            self._arr = np.sort(
                t["ord"].to_numpy(zero_copy_only=False).astype(np.int64)
            )
        return self._arr


# postings per row window of compact's rewrite: bounds a Python worker's
# flat decode arrays (a few dozen bytes a posting at peak) and keeps each
# rewritten Binary column far below Arrow's int32 offsets. A single longer
# list is a window of its own.
_COMPACT_WINDOW_POSTINGS = 1 << 20


def _renumber(ords, tomb, below=None):
    """Closed-form compaction renumbering (see ``compact``): each surviving
    ordinal drops by the number of tombstoned ordinals below it in its
    stripe. ``tomb``: sorted tombstoned ordinals; ``below``:
    ``searchsorted(tomb, ords)`` when the caller already has it."""
    if below is None:
        below = np.searchsorted(tomb, ords)
    stripe_start = (ords >> ORD_SHIFT) << ORD_SHIFT
    return ords - (below - np.searchsorted(tomb, stripe_start))


def _survivors(ords, tomb):
    """One sorted-set membership test -> (keep mask of the ``ords`` not in
    the sorted tombstoned ordinals ``tomb``, ``searchsorted(tomb, ords)``
    for ``_renumber``)."""
    below = np.searchsorted(tomb, ords)
    keep = np.ones(ords.size, dtype=bool)
    inside = below < tomb.size
    keep[inside] = tomb[below[inside]] != ords[inside]
    return keep, below


def _row_windows(df, limit: int):
    """[a, b) row windows of a batch holding at most ``limit`` postings
    each (by the rows' df); a row over the limit is its own window."""
    cum = np.cumsum(df)
    a = 0
    while a < df.size:
        done = int(cum[a - 1]) if a else 0
        b = max(int(np.searchsorted(cum, done + limit, "right")), a + 1)
        yield a, b
        a = b


def _compact_batch(batch, tomb, dl_of, pid: int):
    """One record batch of segment rows -> its compacted rows, or None when
    the tombstones empty every list. One flat pass: decode all lists
    (codecs.decode_postings_flat), drop tombstoned ordinals (one sorted-set
    membership test), renumber survivors (``_renumber``), drop emptied
    lists and re-encode the rest with the build's flat group encoders.
    ``tomb``: sorted tombstoned ordinals of the unit; ``dl_of``: old
    ordinals -> doclens (exact block_min_dl); ``pid``: the rows' part_id."""
    df = batch.column("df").to_numpy(zero_copy_only=False).astype(np.int64)
    post_o, post_d = _binary_parts(batch.column("postings"))
    doc, tf, g = codecs.decode_postings_flat(post_d, post_o, df)
    keep, below = _survivors(doc, tomb)
    kept = np.zeros(doc.size + 1, dtype=np.int64)
    np.cumsum(keep, out=kept[1:])
    new_df = kept[g + df] - kept[g]
    live = np.flatnonzero(new_df)
    if live.size == 0:
        return None
    starts = np.zeros(live.size, dtype=np.int64)
    np.cumsum(new_df[live][:-1], out=starts[1:])
    old = doc[keep]
    enc = codecs.encode_groups_flat(
        starts, _renumber(old, tomb, below[keep]), tf[keep], dl_of(old)
    )

    # positions: decoded flat for the lists that carry them, masked per
    # posting with np.repeat(keep, tf); lists without positions stay empty
    pos_o, pos_d = _binary_parts(batch.column("positions"))
    has_pos = pos_o[1:] > pos_o[:-1]
    pos_off = np.zeros(live.size + 1, dtype=np.int64)
    pos_blob = b""
    if has_pos.any():
        pm = np.repeat(has_pos, df)
        pos = codecs.decode_positions(pos_d, tf[pm])
        pos_kept = pos[np.repeat(keep[pm], tf[pm])]
        live_pos = has_pos[live]
        pstarts = np.zeros(int(live_pos.sum()), dtype=np.int64)
        np.cumsum(new_df[live[live_pos]][:-1], out=pstarts[1:])
        pos_blob, offs = codecs.encode_position_groups_flat(
            pstarts, tf[keep & pm], pos_kept
        )
        lens = np.zeros(live.size, dtype=np.int64)
        lens[live_pos] = offs[1:] - offs[:-1]
        np.cumsum(lens, out=pos_off[1:])

    take = pa.array(live)
    blk = enc["blk_row_offsets"]
    return pa.RecordBatch.from_arrays(
        [
            batch.column("term").take(take),
            batch.column("salt").take(take),
            pa.array(np.full(live.size, pid, dtype=np.int32)),
            pa.array(enc["df"]),
            pa.array(enc["cf"]),
            _list_from_flat(blk, enc["blk_last_doc"], pa.int64()),
            _list_from_flat(blk, enc["blk_max_tf"], pa.int32()),
            _list_from_flat(blk, enc["blk_min_dl"], pa.int32()),
            _list_from_flat(blk, enc["blk_offset"], pa.int64()),
            _binary_from_flat(enc["blob"], enc["post_offsets"]),
            _binary_from_flat(pos_blob, pos_off),
        ],
        schema=_arrow_seg_schema(),
    )


def _compact_batches(batches, tomb, dl_of, pid: int, window: int | None = None):
    """``_compact_batch`` over every batch, cut into row windows of at most
    ``window`` postings (default ``_COMPACT_WINDOW_POSTINGS``)."""
    window = window or _COMPACT_WINDOW_POSTINGS
    for b in batches:
        df = b.column("df").to_numpy(zero_copy_only=False)
        for a, z in _row_windows(df, window):
            out = _compact_batch(b.slice(a, z - a), tomb, dl_of, pid)
            if out is not None:
                yield out


def _make_compact_fn(index_dir: str, unit: int, ord_set: _OrdSetFile):
    """mapInArrow function of compact's segment rewrite for one unit
    (``_compact_batches``). part_id is the task's partition id: every row
    of the file the task writes carries it, and the driver tier picks the
    file by its footer part_id range (termindex)."""

    def fn(batches):
        from pyspark import TaskContext

        from .query import _sidecar

        tomb = ord_set.value
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        # the PRE-compact docs sidecar supplies true doclens for exact
        # block_min_dl metadata (the rewrite lands in a tmp dir and swaps
        # in afterwards, so the old files are still in place)
        dl_of = _sidecar(index_dir, unit).dl_of
        yield from _compact_batches(batches, tomb, dl_of, pid)

    return fn


def _make_docs_compact_fn(ord_set: _OrdSetFile):
    """mapInArrow function of compact's docs rewrite: drops the rows whose
    ordinal is tombstoned and gives the rest the postings' closed-form
    renumbering."""

    def fn(batches):
        tomb = ord_set.value
        for b in batches:
            i = b.schema.get_field_index("ord")
            o = b.column(i).to_numpy(zero_copy_only=False).astype(np.int64)
            keep, below = _survivors(o, tomb)
            if not keep.any():
                continue
            b = b.filter(pa.array(keep))
            new = _renumber(o[keep], tomb, below[keep])
            yield b.set_column(i, b.schema.field(i), pa.array(new))

    return fn


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Physically expunge tombstoned docs from every unit, then clear
    tombstones and re-merge. Each unit with tombstones costs three Spark
    actions, all writes:

    1. ords: the unit's tombstoned doc_ids become ORDINALS (a broadcast
       semi-join against its docs table) in a small parquet set the tasks
       read (``_OrdSetFile``). A unit whose write observes 0 rows is
       skipped.
    2. segments: a mapInArrow rewrite in row windows of at most
       ``_COMPACT_WINDOW_POSTINGS`` postings. Each window is decoded flat,
       masked, renumbered and re-encoded in one vectorized pass
       (``_compact_batch``); lists left empty are dropped. Every list is
       rewritten, tombstone-free ones too: survivors shift down past the
       holes.
    3. docs: a mapInArrow pass drops the rows with tombstoned ordinals
       and renumbers the rest alike.

    The new row count and doclen sum (docs write) and term rows and
    postings bytes (segment write) come from ``.observe`` on the writes
    and refresh the unit's manifest row (same unit id) after the rewritten
    directories swap in.

    Renumbering (format v3): ordinals are dense ranks within hash stripes,
    so removing docs leaves holes; compact re-ranks the survivors exactly
    like Lucene's merge renumbers docIDs. Because pre-compact ordinals are
    dense, the new ordinal is CLOSED-FORM from the tombstone set alone:
    new = ord - (# tombstoned ordinals in the same stripe below ord) — no
    unit-sized mapping ships anywhere, and the result is bit-identical to
    a from-scratch build of the live corpus (asserted in tests)."""
    tombs = load_tombstones(index_dir)
    if tombs is None:
        return {"compacted_units": [], "removed_docs": 0}
    import shutil
    import time

    from pyspark.sql import Observation

    from .metrics import write_metrics

    _, tomb_snaps = tombs
    usnap = unit_snapshots(index_dir)
    m = manifest.read_manifest(index_dir)
    units = sorted(int(u) for u in m[m["status"] == manifest.STATUS_COMPLETED]["unit"])
    tomb_all = read_tombstones(spark, index_dir)
    phases = dict.fromkeys(("ords", "segments", "docs", "merge"), 0.0)
    compacted: list[int] = []
    removed_total = term_rows = postings_bytes = 0
    for u in units:
        # unit-scoped tombstones: only docs superseded by a LATER snapshot
        if not (tomb_snaps > usnap.get(u, 0)).any():
            continue
        seg_dir = os.path.join(segments_path(index_dir), f"unit={u}")
        doc_dir = os.path.join(docs_path(index_dir), f"unit={u}")
        docs = spark.read.schema(DOCS_SCHEMA).parquet(doc_dir)
        # tombstoned doc_ids -> ordinals by a broadcast semi-join on doc_id
        # (never a literal IN list in the plan — a million tombstones would
        # otherwise explode the plan tree)
        unit_tomb_df = F.broadcast(
            tomb_all.filter(F.col("snapshot") > F.lit(usnap.get(u, 0))).select("doc_id")
        )

        t0 = time.perf_counter()
        ords_dir = os.path.join(index_dir, f".compact-ords-unit={u}")
        ords_obs = Observation()
        (
            docs.join(unit_tomb_df, "doc_id", "left_semi")
            .select("ord")
            .observe(ords_obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(ords_dir)
        )
        removed = int(ords_obs.get["n"])
        phases["ords"] += time.perf_counter() - t0
        if removed == 0:
            shutil.rmtree(ords_dir, ignore_errors=True)
            continue  # unit untouched by tombstones
        ord_set = _OrdSetFile(ords_dir)

        t0 = time.perf_counter()
        tmp_seg, tmp_doc = seg_dir + ".compact", doc_dir + ".compact"
        seg_obs = Observation()
        (
            spark.read.schema(SEG_SCHEMA).parquet(seg_dir)
            .mapInArrow(_make_compact_fn(index_dir, u, ord_set), schema=SEG_SCHEMA)
            .observe(
                seg_obs,
                F.count(F.lit(1)).alias("terms"),
                F.sum(F.length("postings")).alias("bytes"),
            )
            .write.mode("overwrite")
            .option("parquet.block.size", str(SEG_ROWGROUP_BYTES))
            .parquet(tmp_seg)
        )
        phases["segments"] += time.perf_counter() - t0

        t0 = time.perf_counter()
        # compacted docs tables lead with doc_id
        docs_in = docs.select("doc_id", *[c for c in docs.columns if c != "doc_id"])
        docs_obs = Observation()
        (
            docs_in.mapInArrow(_make_docs_compact_fn(ord_set), schema=docs_in.schema)
            .observe(
                docs_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("doclen").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(tmp_doc)
        )
        phases["docs"] += time.perf_counter() - t0
        seg_stats, doc_stats = seg_obs.get, docs_obs.get

        shutil.rmtree(seg_dir)
        os.rename(tmp_seg, seg_dir)
        shutil.rmtree(doc_dir)
        os.rename(tmp_doc, doc_dir)
        shutil.rmtree(ords_dir, ignore_errors=True)

        old = m[m["unit"] == u].iloc[0]
        manifest.commit_unit(
            index_dir,
            {
                "segment_id": f"u{u}",
                "unit": u,
                # the closed-form renumbering keeps the per-partition ordinal
                # grid, so the unit's original layout value stays valid —
                # omitting it would null the column and crash search_ranged
                "ord_partitions": int(old["ord_partitions"]),
                "input_snapshot_id": int(old["input_snapshot_id"]),
                "row_count": int(doc_stats["n"]),
                "sum_doclen": int(doc_stats["sum_dl"] or 0),
                "term_count": int(seg_stats["terms"] or 0),
                "bytes": int(seg_stats["bytes"] or 0),
                "status": manifest.STATUS_COMPLETED,
            },
        )
        compacted.append(u)
        removed_total += removed
        term_rows += int(seg_stats["terms"] or 0)
        postings_bytes += int(seg_stats["bytes"] or 0)

    d = tombstones_path(index_dir)
    for f in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(f)
    for sub in glob.glob(os.path.join(d, "snapshot-*")) + glob.glob(
        os.path.join(d, ".staging-*")  # crashed-write leftovers
    ):
        shutil.rmtree(sub, ignore_errors=True)
    t0 = time.perf_counter()
    merge.merge_index(spark, index_dir)
    phases["merge"] = time.perf_counter() - t0

    res = {
        "compacted_units": compacted,
        "removed_docs": removed_total,
        "phase_secs": {k: round(v, 2) for k, v in phases.items()},
    }
    write_metrics(
        index_dir, "compact",
        {**res, "term_rows": term_rows, "postings_bytes": postings_bytes},
    )
    return res
