"""Merge pass: union per-unit segment directories into a global lexicon.

pgstream analog: the search store's index/mapping bookkeeping — one
authoritative view over per-batch writes, updated after data lands
(/root/reference/pkg/wal/processor/search/store/search_store.go:272-321);
column renames become aliases rather than rewrites, and likewise our merge
never rewrites postings — the lexicon is pure indirection
(term -> [(unit, salt, df)]) plus global df totals for IDF.

The merge is a single groupBy(term) over the (small) segment *directory*
rows — postings blobs are carried by reference in the same row here
because Parquet stores them column-separately; the lexicon parquet is
written WITHOUT the postings column, so its scan stays tiny. Global doc
stats (N, avgdl) come from manifest lineage, not a data pass.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import manifest
from .build import segments_path

LEXICON_COLS = ["term", "df_total", "cf_total", "entries"]
# rows per lexicon parquet row group. A term lookup (query._term_stats,
# through termindex) decodes the groups whose footer term range holds a
# query term, so a group is the unit of lookup cost: with Spark's default
# 128 MB groups each lexicon file was one group of 70-81k rows, and every
# lookup decoded whole files. Swept on the perfbench longtail seed 1 base
# index (288k terms, 4 files; 4-core host, 35-query top-k list x 2):
# lookup p50 1.9 / 2.4 / 3.0 / 19.3 ms and lexicon bytes +1.7 / +0.8 /
# +0.4 / 0 % at 2,048 / 4,096 / 8,192 rows / one group per file.
LEXICON_ROWGROUP_ROWS = 2048


def lexicon_path(index_dir: str) -> str:
    return os.path.join(index_dir, "lexicon")


def stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def read_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """Segment rows of COMMITTED units only (manifest-driven, fold-journal
    aware). A wholesale ``read.parquet(segments/)`` would also pick up
    orphan unit dirs — staged-but-uncommitted fold output, or retired
    source units whose physical cleanup hasn't run yet — so every reader
    goes through the manifest's view of which unit dirs are live."""
    import os as _os

    units = sorted(manifest.completed_units(index_dir))
    base = segments_path(index_dir)
    dirs = [_os.path.join(base, f"unit={u}") for u in units]
    return spark.read.option("basePath", base).parquet(*dirs)


def merge_index(spark: SparkSession, index_dir: str, lexicon_partitions: int | None = None) -> dict:
    """Build lexicon parquet + stats.json from committed segments.

    One shuffle on term; output range-partitioned and sorted by term, in
    row groups of ``LEXICON_ROWGROUP_ROWS``, so a query-time term lookup
    reads only the groups whose footer term range holds the term
    (``termindex``). Each row's ``entries`` are sorted by (unit, salt,
    part_id), so two merges of one index write the same rows."""
    seg = read_segments(spark, index_dir).select(
        "term", "unit", "salt", "part_id", "df", "cf"
    )
    parts = lexicon_partitions or max(
        1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 2
    )
    # ONE exchange: range-partitioning by term satisfies the aggregation's
    # clustered-distribution requirement (equal terms co-locate), so the
    # groupBy runs in place on the range layout instead of adding its own
    # hash exchange before a second range exchange for the output order.
    lex = (
        seg.repartitionByRange(parts, "term")
        .groupBy("term")
        .agg(
            F.sum("df").alias("df_total"),
            F.sum("cf").alias("cf_total"),
            F.array_sort(
                F.collect_list(F.struct("unit", "salt", "part_id", "df"))
            ).alias("entries"),
        )
        .sortWithinPartitions("term")
    )
    lex.write.mode("overwrite").option(
        "parquet.block.row.count.limit", str(LEXICON_ROWGROUP_ROWS)
    ).parquet(lexicon_path(index_dir))

    stats = manifest.global_stats(index_dir)
    adj = _tombstone_stat_adjustment(spark, index_dir)
    if adj is not None:
        stats["n_docs"] -= adj["n"]
        stats["sum_doclen"] -= adj["sum_dl"]
        stats["avgdl"] = (
            stats["sum_doclen"] / stats["n_docs"] if stats["n_docs"] else 0.0
        )
        stats["tombstoned_docs"] = adj["n"]
    # atomic publish: stats.json carries the committed-units view queries
    # filter their segment scans by, so it must never be torn mid-write
    # (it is the fold cutover point — see incremental.merge_units)
    tmp = stats_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, stats_path(index_dir))
    return stats


_ADJ_CACHE: dict = {}


def _tombstone_stat_adjustment(spark: SparkSession, index_dir: str) -> dict | None:
    """(count, doclen sum) of superseded doc versions still physically in
    the segments — subtracted from global stats so n_docs/avgdl between a
    delta and the next compaction EQUAL those of a from-scratch build of
    the live corpus (per-term df remains Lucene's deleted-docs-affect-
    docFreq-until-merge semantics until compaction expunges them).

    A docs-table row (unit u, doc d) is stale iff some tombstone (d, s) has
    s > u's input snapshot. Distributed: docs tables joined to the
    (broadcast) tombstone set — no driver-side doc collections.

    Cached per (tombstone-file, manifest-file) fingerprint: merge_index is
    called per micro-batch under merge_each_batch, and the two joins +
    docs-table scan here would otherwise re-run on EVERY batch while any
    tombstone exists; the inputs that determine the answer (tombstone set,
    committed units + snapshots — and with them the docs tables, which
    only change alongside a manifest commit) are exactly what the
    fingerprint covers."""
    import glob as _glob
    import os as _os

    from .build import docs_path

    files = sorted(
        _glob.glob(_os.path.join(index_dir, "tombstones", "snapshot-*", "*.parquet"))
        + _glob.glob(_os.path.join(index_dir, "tombstones", "*.parquet"))
    )
    if not files:
        return None

    def _stat(p):
        st = _os.stat(p)
        return (p, st.st_size, st.st_mtime_ns)

    manifest_files = sorted(
        _glob.glob(_os.path.join(index_dir, "manifest", "*.json"))
        + _glob.glob(_os.path.join(index_dir, "manifest", "*.parquet"))
    )
    fp = tuple(_stat(p) for p in files + manifest_files)
    cached = _ADJ_CACHE.get(index_dir)
    if cached is not None and cached[0] == fp:
        return cached[1]
    tomb = spark.read.parquet(*files)
    if tomb.isEmpty():
        _ADJ_CACHE[index_dir] = (fp, None)
        return None
    m = manifest.read_manifest(index_dir)
    m = m[m["status"] == manifest.STATUS_COMPLETED]
    usnap = spark.createDataFrame(
        [(int(u), int(s)) for u, s in zip(m["unit"], m["input_snapshot_id"])],
        "unit int, unit_snap bigint",
    )
    docs = spark.read.parquet(docs_path(index_dir)).select("unit", "doc_id", "doclen")
    stale = (
        docs.join(F.broadcast(usnap), "unit")
        .join(
            F.broadcast(tomb.groupBy("doc_id").agg(F.max("snapshot").alias("ts"))),
            "doc_id",
        )
        .filter(F.col("ts") > F.col("unit_snap"))
    )
    row = stale.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("sum_dl")
    ).collect()[0]
    n = int(row["n"] or 0)
    adj = {"n": n, "sum_dl": int(row["sum_dl"] or 0)} if n else None
    _ADJ_CACHE[index_dir] = (fp, adj)
    return adj


def load_stats(index_dir: str) -> dict:
    with open(stats_path(index_dir)) as f:
        return json.load(f)


def read_lexicon(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(lexicon_path(index_dir))
