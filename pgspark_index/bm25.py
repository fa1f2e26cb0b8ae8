"""BM25 scoring math — Lucene/OpenSearch-compatible (k1=1.2, b=0.75).

pgstream's search sink delegates scoring to OpenSearch/Elasticsearch
(/root/reference/internal/searchstore/) whose Lucene similarity is
BM25 with these defaults; we implement the same formula ourselves:

    idf(t)       = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(tf, dl)    = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q, d)  = sum over t in q of idf(t) * w(tf_{t,d}, dl_d)

All math in float64; per-document sums are accumulated in sorted term
order in every implementation (engine, numpy oracle, DuckDB SQL oracle)
so results are bit-reproducible and ranks deterministic with the
(score DESC, doc_id ASC) tie-break.
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75


def idf(n_docs: float, df) -> np.ndarray | float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    Non-negative while df <= N. Between an incremental delta and the next
    compaction, df still counts superseded versions while N does not, so
    a term in nearly every doc can get df > N and a negative idf; the
    pruning scorers in ``wand`` fall back to exact scoring then."""
    df = np.asarray(df, dtype=np.float64)
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_weight(tf, dl, avgdl: float) -> np.ndarray:
    """BM25 tf/length normalization. Increasing in tf, decreasing in dl."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def block_upper_bound(idf_t: float, max_tf, min_dl, avgdl: float) -> np.ndarray:
    """Safe per-block score upper bound from stored (max_tf, min_dl).

    Valid for any posting in the block because tf_weight is monotone
    increasing in tf and decreasing in dl: score <= idf * w(max_tf, min_dl).
    """
    return idf_t * tf_weight(max_tf, min_dl, avgdl)
