"""Top-k scorers over decoded/encoded posting lists (numpy, per index unit).

Three strategies, all returning identical results (property-tested):

- ``score_exhaustive`` — vectorized term-at-a-time: decode every list,
  accumulate, top-k. O(total postings) but fully numpy-vectorized; the
  baseline and the correctness oracle inside the engine.
- ``score_maxscore`` — TAAT MaxScore (Turtle & Flood 1995) with *block-max*
  skipping (Ding & Suel, SIGIR 2011): lists are processed in decreasing
  score-upper-bound order; once the remaining lists' upper bounds cannot
  lift an unseen document into the top-k, later lists are only probed for
  existing candidates, decoding just the blocks that can contain them
  (searchsorted over block_last_doc). The production path: vectorized,
  skips most of the head-term bytes on selective queries.
- ``score_bmw`` — classic document-at-a-time Block-Max WAND pivoting.
  Reference implementation for validation (Python pointer loop — correct
  but not vectorized; MaxScore is the default at scale).

Bit-exactness: every strategy computes each returned document's final
score by summing its per-term contributions in sorted term order (float64,
left to right) — the same accumulation order as the numpy oracle and the
DuckDB SQL oracle — so scores are reproducible and ranks deterministic
under the (score DESC, doc_id ASC) tie-break.

A "list" dict (one segment row; salted head terms contribute several
disjoint lists for the same term):
  {term, idf, df, postings(bytes), block_last_doc, block_max_tf,
   block_min_dl, block_offset}

``sc`` (every scorer's required argument): the unit's docs-sidecar view
with two vectorized gathers over the ordinal-sorted docs table —
``sc.dl_of(ords) -> doclens`` (format v2: doclen lives once per DOC in
the sidecar, not per posting — Lucene norms) and ``sc.doc_of(ords) ->
doc_ids`` (format v3: postings are keyed by dense segment-local ordinals;
results surface doc_ids). Every ordinal appearing in a unit's postings is
present in the sidecar by construction, so both gathers are total.
Scorers RETURN doc_ids: the final top-k tie-break runs on the mapped
doc_id (score DESC, doc_id ASC — the oracle's order), so ordinal order
never has to agree with doc_id order."""


from __future__ import annotations

import heapq

import numpy as np

from . import bm25, codecs


class SimpleSidecar:
    """Plain sc adapter (tests / callers whose keys already ARE doc_ids)."""

    __slots__ = ("dl_of", "doc_of")

    def __init__(self, dl_of, doc_of=None):
        self.dl_of = dl_of
        self.doc_of = doc_of if doc_of is not None else (lambda x: x)


def _decoded_contribs(
    lst: dict,
    avgdl: float,
    sc,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Full-decode one list -> (doc_ids, contribs). ``exclude`` is a sorted
    int64 array of tombstoned doc_ids (incremental deletes) masked out
    before scoring; ``include`` (sorted unique int64) restricts scoring to
    a metadata pre-filter's doc set — a doc's own score is unaffected by
    the restriction (its per-term sum doesn't involve other docs), so
    filtered results are bit-exact with post-hoc filtering."""
    doc, tf = codecs.decode_postings(lst["postings"], lst["df"])
    if exclude is not None and exclude.size and doc.size:
        keep = ~np.isin(doc, exclude, assume_unique=True)
        doc, tf = doc[keep], tf[keep]
    if include is not None and doc.size:
        keep = _member_mask(include, doc)
        doc, tf = doc[keep], tf[keep]
    return doc, lst["idf"] * bm25.tf_weight(tf, sc.dl_of(doc), avgdl)


def _term_ranks(lists: list[dict]) -> dict[str, int]:
    return {t: i for i, t in enumerate(sorted({l["term"] for l in lists}))}


def _exact_topk(all_docs, all_contribs, all_tranks, k: int, doc_of=None,
                after=None):
    """Sum contributions per doc key strictly in term order; top-k by
    (score DESC, doc_id ASC) — on the MAPPED doc_id when ``doc_of`` is
    given (ordinal-keyed lists), so the tie-break matches the oracle's
    regardless of ordinal order.

    ``after``: optional (score, doc_id) cursor — keep only docs ranking
    STRICTLY after it in (score DESC, doc_id ASC) order (search_after
    pagination). Applied to final scores, before top-k selection.

    Accumulates term-at-a-time with `+=` into a per-doc accumulator —
    bit-identical to the oracle's sequential loop. (np.add.reduceat is NOT
    left-to-right associative, so it cannot be used here.)"""
    if len(all_docs) == 0 or sum(d.size for d in all_docs) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    uniq_docs = np.unique(np.concatenate(all_docs))
    acc = np.zeros(uniq_docs.size, dtype=np.float64)
    order = sorted(range(len(all_docs)), key=lambda i: _trank_of(all_tranks[i]))
    for i in order:
        doc = all_docs[i]
        if doc.size == 0:
            continue
        idx = np.searchsorted(uniq_docs, doc)
        acc[idx] += all_contribs[i]  # unique idx per call (one list, unique docs)
    mapped = doc_of(uniq_docs) if doc_of is not None else uniq_docs
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        elig = (acc < s_a) | ((acc == s_a) & (mapped > d_a))
        mapped, acc = mapped[elig], acc[elig]
    # tie-safe top-k: lexsort by (score DESC, doc_id ASC). argpartition would
    # break ties at the k boundary arbitrarily.
    sel = np.lexsort((mapped, -acc))[:k]
    return mapped[sel], acc[sel]


def _trank_of(tranks) -> int:
    """tranks is a per-list constant array (or empty) — its term rank."""
    arr = np.asarray(tranks)
    return int(arr[0]) if arr.size else 0


def score_exhaustive(
    lists: list[dict], avgdl: float, k: int, sc,
    exclude: np.ndarray | None = None, include: np.ndarray | None = None,
    after=None,
):
    """Vectorized TAAT over fully decoded lists; ``after`` = (score,
    doc_id) keeps only docs ranking strictly after that cursor."""
    ranks = _term_ranks(lists)
    all_docs, all_contribs, all_tranks = [], [], []
    for lst in lists:
        doc, contrib = _decoded_contribs(lst, avgdl, sc, exclude, include)
        all_docs.append(doc)
        all_contribs.append(contrib)
        all_tranks.append(np.full(doc.size, ranks[lst["term"]], dtype=np.int32))
    return _exact_topk(
        all_docs, all_contribs, all_tranks, k, sc.doc_of, after=after
    )


def score_exhaustive_after(
    lists: list[dict], avgdl: float, k: int, sc, after,
    exclude: np.ndarray | None = None, include: np.ndarray | None = None,
):
    """search_after pagination scorer: top-k among docs ranking STRICTLY
    after the (score, doc_id) cursor in (score DESC, doc_id ASC) order.

    Rides the exhaustive TAAT path on purpose: no pruning threshold is
    sound when eligibility depends on the FINAL score vs the cursor — a
    doc whose partial score exceeds the cursor can still tie it finally,
    and MaxScore/BMW's unfiltered kth-partial threshold would prune
    after-cursor docs that rank below the unit's unfiltered top-k. Every
    matching doc's final score is computed (vectorized numpy), the cursor
    mask is applied, then top-k — exact at any page depth; the per-unit
    emission stays <= k."""
    return score_exhaustive(lists, avgdl, k, sc, exclude, include, after=after)


def _list_upper_bound(lst: dict, avgdl: float) -> float:
    if len(lst["block_max_tf"]) == 0:
        return 0.0
    return float(
        bm25.block_upper_bound(
            lst["idf"],
            int(np.max(lst["block_max_tf"])),
            int(np.min(lst["block_min_dl"])),
            avgdl,
        )
    )


def _member_mask(sorted_vals: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """probes ∈ sorted_vals membership via searchsorted — O(p log n), unlike
    np.isin which re-sorts the big array on EVERY call (pathological when
    probed once per block)."""
    if sorted_vals.size == 0 or probes.size == 0:
        return np.zeros(probes.size, dtype=bool)
    pos = np.searchsorted(sorted_vals, probes)
    pos = np.minimum(pos, sorted_vals.size - 1)
    return sorted_vals[pos] == probes


def _member_mask_sorted(sorted_vals: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """_member_mask for probes that are themselves SORTED and DUPLICATE-
    FREE (decoded posting doc arrays): probes the smaller array into the
    larger one, so a few pruned candidates checked against millions of
    postings cost O(cands log postings), not O(postings log cands)."""
    n, p = sorted_vals.size, probes.size
    if n == 0 or p == 0:
        return np.zeros(p, dtype=bool)
    if p <= n:
        pos = np.searchsorted(sorted_vals, probes)
        pos = np.minimum(pos, n - 1)
        return sorted_vals[pos] == probes
    pos = np.searchsorted(probes, sorted_vals)
    pos = np.minimum(pos, p - 1)
    hit = probes[pos] == sorted_vals
    mask = np.zeros(p, dtype=bool)
    mask[pos[hit]] = True
    return mask


def _probe_blocks(lst: dict, cand_docs: np.ndarray, avgdl: float, sc):
    """Decode only the blocks that can contain candidate docs; return
    (docs, contribs) restricted to candidates. Pure block-max skipping.
    ``cand_docs`` must be sorted (maxscore maintains that invariant).

    Contiguous runs of needed blocks decode as ONE varbyte pass each: gap
    chains continue across block boundaries (block b+1's first gap is
    relative to block b's last doc), so a run's byte slice decodes with a
    single cumsum based at the run predecessor's last doc. On dense
    candidate sets this turns thousands of per-block decode calls into a
    handful of vectorized passes — same docs, same contribs."""
    last = np.asarray(lst["block_last_doc"], dtype=np.int64)
    offs = np.asarray(lst["block_offset"], dtype=np.int64)
    # block b covers docs in (last[b-1], last[b]]: probe the FEW block
    # bounds into the (sorted) candidate array, not every candidate into
    # the bounds — O(blocks log cands) instead of O(cands log blocks) plus
    # a full unique-sort of the result (the former dominated head-term
    # queries: millions of candidates x one probe pass per salt list)
    pos = np.searchsorted(cand_docs, last, side="right")
    needed = np.flatnonzero(np.diff(pos, prepend=0) > 0)
    if needed.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    blob = lst["postings"]
    mv = memoryview(blob)
    run_starts = np.flatnonzero(np.diff(needed, prepend=needed[0] - 2) != 1)
    out_docs, out_contribs = [], []
    for ri in range(run_starts.size):
        i0 = int(run_starts[ri])
        i1 = int(run_starts[ri + 1]) if ri + 1 < run_starts.size else needed.size
        b0, b1 = int(needed[i0]), int(needed[i1 - 1])
        off = int(offs[b0])
        end = int(offs[b1 + 1]) if b1 + 1 < offs.size else len(blob)
        stream = codecs.varbyte_decode(mv[off:end])
        gaps = stream[0::2].copy()
        if b0 > 0:
            gaps[0] += np.uint64(int(last[b0 - 1]))
        doc = np.cumsum(gaps, dtype=np.uint64).view(np.int64)
        tf = stream[1::2].astype(np.int64)
        mask = _member_mask_sorted(cand_docs, doc)
        if mask.any():
            dsel = doc[mask]
            out_docs.append(dsel)
            out_contribs.append(
                lst["idf"] * bm25.tf_weight(tf[mask], sc.dl_of(dsel), avgdl)
            )
    if not out_docs:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    return np.concatenate(out_docs), np.concatenate(out_contribs)


# score_maxscore's dense fallback: when the query's total df rivals the
# unit's doc count, NO threshold can prune (nearly every doc is a
# candidate) and MaxScore degenerates into exhaustive scoring plus the
# overhead of its candidate merges/sorts. A flat per-row accumulator is
# then the optimal TAAT shape — but it allocates 9 bytes/row PER SCORING
# THREAD (the batch path scores several queries concurrently inside a
# task), so it only engages on units up to this many rows (36 MB of
# transient accumulator; at larger units the standard MaxScore path runs
# unchanged).
_DENSE_TAAT_MAX_ROWS = 4_000_000


def _dense_ok(sc) -> bool:
    """The unit's sidecar supports the flat accumulator at this size."""
    ords = getattr(sc, "ords", None)
    return (
        ords is not None
        and hasattr(sc, "_row_of")
        and 0 < ords.size <= _DENSE_TAAT_MAX_ROWS
    )


def _nonpositive_idf(lists) -> bool:
    """Some list has an idf <= 0: its upper bound is not an upper bound,
    so no threshold-pruning scorer is safe on this query."""
    return any(l["idf"] <= 0 for l in lists)


def _score_exact(lists, avgdl: float, k: int, sc, exclude, include):
    """Unpruned top-k: dense TAAT where the sidecar allows, else the
    exhaustive TAAT (identical results either way)."""
    if _dense_ok(sc):
        return _score_dense_taat(lists, avgdl, k, sc, exclude, include)
    return score_exhaustive(lists, avgdl, k, sc, exclude, include)


def _score_dense_taat(lists, avgdl: float, k: int, sc, exclude, include):
    """Flat-accumulator exhaustive TAAT over the unit's row space.

    Bit-identical to _exact_topk's answer: the same _decoded_contribs
    values are `+=`-ed per doc in the same term-rank order (stable within
    a term, where salt lists are doc-disjoint anyway), and the top-k
    tie-break is the same (score DESC, mapped doc_id ASC) selection."""
    ranks = _term_ranks(lists)
    n = sc.ords.size
    acc = np.zeros(n, dtype=np.float64)
    hit = np.zeros(n, dtype=bool)
    for lst in sorted(lists, key=lambda l: ranks[l["term"]]):
        doc, contrib = _decoded_contribs(lst, avgdl, sc, exclude, include)
        if doc.size == 0:
            continue
        idx = sc._row_of(doc)
        acc[idx] += contrib  # unique idx per list (unique docs per list)
        hit[idx] = True
    rows = np.flatnonzero(hit)
    if rows.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    scores = acc[rows]
    if rows.size > k:
        # cut to the >= kth-score candidates first (ties all kept), then
        # tie-break the small set exactly like _exact_topk's lexsort
        kth = np.partition(scores, scores.size - k)[scores.size - k]
        m = scores >= kth
        rows, scores = rows[m], scores[m]
    mapped = np.asarray(sc.doc_ids)[rows]
    sel = np.lexsort((mapped, -scores))[:k]
    return mapped[sel], scores[sel]


def score_maxscore(
    lists: list[dict], avgdl: float, k: int, sc,
    exclude: np.ndarray | None = None, include: np.ndarray | None = None,
):
    """TAAT MaxScore + block skipping. Identical output to exhaustive.

    Safety argument: T is the kth-best *partial* accumulated score, which
    is <= the kth-best final score; an unseen doc's best possible final
    score is the remaining upper-bound sum, so when that is < T the doc
    can never enter the top-k. Final scores for surviving candidates are
    re-summed in term order for bit-exactness. The argument needs every
    contribution to be non-negative: a query with an idf <= 0 (df > N
    between a delta and compaction, see ``bm25.idf``) is scored exactly."""
    if not lists:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    if _nonpositive_idf(lists) or (
        _dense_ok(sc) and sum(int(l["df"]) for l in lists) >= sc.ords.size
    ):
        return _score_exact(lists, avgdl, k, sc, exclude, include)
    ranks = _term_ranks(lists)
    # Salted lists of ONE term are doc-disjoint slices of that term's
    # postings — process them as one logical list: the per-doc upper
    # bound is max(salt ubs), not their sum (a doc lives in exactly one
    # salt list), which both TIGHTENS the pruning bound and makes the
    # candidate merge below run once per TERM instead of once per salt
    # list (the former per-list full re-sort was quadratic-ish on
    # 64-way-salted head terms).
    by_term: dict[str, list[dict]] = {}
    for lst in lists:
        by_term.setdefault(lst["term"], []).append(lst)
    groups = list(by_term.values())
    ubs = np.array(
        [max(_list_upper_bound(l, avgdl) for l in g) for g in groups]
    )
    order = np.argsort(-ubs, kind="stable")
    groups = [groups[i] for i in order]
    ubs = ubs[order]
    rem_after = np.concatenate((np.cumsum(ubs[::-1])[::-1][1:], [0.0]))

    def _group_decode(g, fn):
        """Concatenate per-salt-list (doc, contrib) into the term's one
        doc-sorted entry (docs unique across a term's salt lists)."""
        ds_, cs_ = [], []
        for lst in g:
            d_, c_ = fn(lst)
            ds_.append(d_)
            cs_.append(c_)
        doc = np.concatenate(ds_) if len(ds_) > 1 else ds_[0]
        contrib = np.concatenate(cs_) if len(cs_) > 1 else cs_[0]
        if len(ds_) > 1:
            srt = np.argsort(doc, kind="stable")
            doc, contrib = doc[srt], contrib[srt]
        return doc, contrib

    cand_docs = np.zeros(0, dtype=np.int64)
    cand_acc = np.zeros(0, dtype=np.float64)
    kept = []  # (doc_array, contrib_array, trank) pairs for exact re-sum
    admitting = True
    for i, g in enumerate(groups):
        if admitting:
            # include applies at admission only: probe-phase candidates are
            # already a subset of the admitted (included) docs
            doc, contrib = _group_decode(
                g, lambda l: _decoded_contribs(l, avgdl, sc, exclude, include)
            )
        else:
            doc, contrib = _group_decode(
                g, lambda l: _probe_blocks(l, cand_docs, avgdl, sc)
            )
        kept.append((doc, contrib, ranks[g[0]["term"]]))
        # merge into candidates (cand_docs kept sorted)
        if cand_docs.size:
            pos = np.searchsorted(cand_docs, doc)
            clipped = np.minimum(pos, cand_docs.size - 1)
            is_old = cand_docs[clipped] == doc
            # doc is unique-sorted within a term group and cand_docs is
            # unique, so the hit positions are unique — a plain fancy-index
            # add is exact and ~10x np.add.at's scatter loop
            cand_acc[pos[is_old]] += contrib[is_old]
        else:
            is_old = np.zeros(doc.size, dtype=bool)
        if admitting and (~is_old).any():
            new_docs = doc[~is_old]
            new_acc = contrib[~is_old]
            cand_docs = np.concatenate((cand_docs, new_docs))
            cand_acc = np.concatenate((cand_acc, new_acc))
            srt = np.argsort(cand_docs, kind="stable")
            cand_docs, cand_acc = cand_docs[srt], cand_acc[srt]
        # threshold: kth best possible-so-far
        if cand_docs.size >= k:
            T = np.partition(cand_acc, cand_acc.size - k)[cand_acc.size - k]
            # prune candidates that can never reach T
            alive = cand_acc + rem_after[i] >= T
            cand_docs, cand_acc = cand_docs[alive], cand_acc[alive]
            if admitting and rem_after[i] < T:
                admitting = False

    # exact re-sum over surviving candidates only, in term order (the
    # kept doc arrays are sorted-unique per term group, so the sorted
    # variant probes the few survivors into them, not vice versa)
    all_docs, all_contribs, all_tranks = [], [], []
    for doc, contrib, trank in kept:
        mask = _member_mask_sorted(cand_docs, doc)
        all_docs.append(doc[mask])
        all_contribs.append(contrib[mask])
        all_tranks.append(np.full(int(mask.sum()), trank, dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_bmw(
    lists: list[dict], avgdl: float, k: int, sc,
    exclude: np.ndarray | None = None, include: np.ndarray | None = None,
):
    """Document-at-a-time Block-Max WAND, block-window batched.

    Round-6 vectorization of the former per-document pivot loop: the WAND
    pivot (Broder et al.) and the block-max skip (Ding & Suel 2011) are
    kept, but they now gate WINDOWS of postings, not single documents.
    Each iteration sorts the live cursors by current doc, picks the WAND
    pivot from the list-level upper bounds, sets the window end W = min
    over live lists of their current block's last doc (so every list's
    window postings sit in its already-decoded current block), and either

    - skips the whole window when the summed current-block upper bounds
      fall strictly below the heap threshold (the block-max skip; == T
      still scores, doc-id tie-break), or
    - scores every candidate in [pivot_doc, W] EXACTLY with vectorized
      member masks over the decoded blocks, accumulating per-term
      contributions in sorted term order (bit-identical to the oracle's
      accumulation), then bulk-updates the top-k heap.

    Docs below the pivot are skipped by the standard WAND argument (they
    occur only in the prefix lists whose summed bounds < T). All cursors
    then advance past W, so every posting is visited at most once per
    list and no document can be scored twice. Python work per iteration
    is O(n_lists); numpy does the per-posting work."""
    if include is not None:
        # include-restricted scoring delegates to MaxScore (identical
        # output — property-tested); wiring an include set through the
        # DAAT pivot loop buys nothing for the validation-only path
        return score_maxscore(lists, avgdl, k, sc, exclude, include)
    if not lists:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    if _nonpositive_idf(lists):
        # the pivot and block-max skips rest on the same non-negative
        # contributions as MaxScore's threshold
        return _score_exact(lists, avgdl, k, sc, exclude, include)
    ranks = _term_ranks(lists)

    class _BCursor:
        __slots__ = ("lst", "ub", "trank", "idf", "last", "offs", "b",
                     "docs", "tfs", "i", "done")

        def __init__(self, lst):
            self.lst = lst
            self.ub = _list_upper_bound(lst, avgdl)
            self.trank = ranks[lst["term"]]
            self.idf = lst["idf"]
            self.last = np.asarray(lst["block_last_doc"], dtype=np.int64)
            self.offs = np.asarray(lst["block_offset"], dtype=np.int64)
            self.done = self.last.size == 0
            self.b = -1
            self.i = 0
            if not self.done:
                self._load(0)

        def _load(self, b):
            prev = int(self.last[b - 1]) if b > 0 else None
            self.docs, self.tfs = codecs.decode_block(
                self.lst["postings"], b, self.offs, prev
            )
            self.b = b
            self.i = 0

        def current(self) -> int:
            return int(self.docs[self.i])

        def block_ub(self) -> float:
            return float(
                bm25.block_upper_bound(
                    self.idf,
                    int(self.lst["block_max_tf"][self.b]),
                    int(self.lst["block_min_dl"][self.b]),
                    avgdl,
                )
            )

        def window_slice(self, lo: int, hi: int):
            """(docs, tfs) of this list's current block within [lo, hi]."""
            j0 = self.i + int(np.searchsorted(self.docs[self.i:], lo))
            j1 = int(np.searchsorted(self.docs, hi, side="right"))
            return self.docs[j0:j1], self.tfs[j0:j1]

        def seek(self, target: int):
            """Advance to first doc >= target (block-skipping)."""
            b = int(np.searchsorted(self.last, target))
            if b >= self.last.size:
                self.done = True
                return
            if b != self.b:
                self._load(b)
            j = self.i + int(np.searchsorted(self.docs[self.i:], target))
            if j >= self.docs.size:
                self.done = True
                return
            self.i = j

    cursors = [c for c in (_BCursor(l) for l in lists) if not c.done]
    heap: list[tuple[float, int]] = []  # (score, -mapped_doc) min-heap of k

    while True:
        live = [c for c in cursors if not c.done]
        if not live:
            break
        live.sort(key=lambda c: c.current())
        T = heap[0][0] if len(heap) >= k else 0.0
        # WAND pivot: first prefix whose ub sum REACHES T (== T scores —
        # the (score DESC, doc_id ASC) tie-break can still admit it)
        acc_ub = 0.0
        pivot_idx = None
        for idx, c in enumerate(live):
            acc_ub += c.ub
            if acc_ub >= T:
                pivot_idx = idx
                break
        if pivot_idx is None:
            break
        pivot_doc = live[pivot_idx].current()
        # window: every live list's current block covers doc ids up to at
        # least W, so window postings need no further decode
        W = min(int(c.last[c.b]) for c in live)
        if W >= pivot_doc:
            block_ub_sum = sum(c.block_ub() for c in live)
            if block_ub_sum >= T:  # block-max gate; == T scores
                parts = [
                    c.window_slice(pivot_doc, W)[0] for c in live
                ]
                cand = np.unique(np.concatenate(parts)) if parts else None
                if cand is not None and cand.size:
                    if exclude is not None and exclude.size:
                        cand = cand[~_member_mask(exclude, cand)]
                if cand is not None and cand.size:
                    acc = np.zeros(cand.size, dtype=np.float64)
                    for c in sorted(live, key=lambda c: c.trank):
                        d_, t_ = c.window_slice(pivot_doc, W)
                        m = _member_mask(cand, d_)
                        if m.any():
                            dsel = d_[m]
                            idxs = np.searchsorted(cand, dsel)
                            acc[idxs] += c.idf * bm25.tf_weight(
                                t_[m], sc.dl_of(dsel), avgdl
                            )
                    mapped = sc.doc_of(cand)
                    for s, md in zip(acc.tolist(), mapped.tolist()):
                        if len(heap) < k:
                            heapq.heappush(heap, (s, -md))
                        elif (s, -md) > heap[0]:
                            heapq.heapreplace(heap, (s, -md))
        # advance every cursor past the window: each posting is visited
        # at most once per list, and no doc can be scored twice
        for c in live:
            if not c.done and c.current() <= W:
                c.seek(W + 1)

    top = sorted(((-s, -nd) for s, nd in heap))[:k]
    doc_ids = np.array([int(d) for _, d in top], dtype=np.int64)
    scores = np.array([-s for s, _ in top], dtype=np.float64)
    return doc_ids, scores


def score_conjunctive(
    lists: list[dict], avgdl: float, k: int, sc,
    exclude: np.ndarray | None = None, include: np.ndarray | None = None,
    n_required: int = 0,
):
    """AND semantics: only docs containing EVERY distinct query term score.

    Candidate set = intersection of the per-term doc sets (salted lists of
    one term are doc-disjoint, so their concatenation sorts to the term's
    doc set); surviving docs are then scored exactly like the OR path —
    per-term contributions summed in sorted term order (bit-exact vs the
    SQL oracle's HAVING count(distinct term) = n form).

    ``n_required``: the query's distinct-term count. A unit's lists cover
    only the terms that unit holds, and a doc's postings all live in its
    own unit, so a unit holding fewer distinct terms matches nothing."""
    if not lists or len({l["term"] for l in lists}) < n_required:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    ranks = _term_ranks(lists)
    decoded = []
    term_docs: dict[str, list] = {}
    for lst in lists:
        doc, contrib = _decoded_contribs(lst, avgdl, sc, exclude, include)
        decoded.append((doc, contrib, ranks[lst["term"]]))
        term_docs.setdefault(lst["term"], []).append(doc)
    cand = None
    for docs in term_docs.values():
        u = np.sort(np.concatenate(docs)) if len(docs) > 1 else docs[0]
        cand = u if cand is None else cand[_member_mask(u, cand)]
        if cand.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    all_docs, all_contribs, all_tranks = [], [], []
    for doc, contrib, trank in decoded:
        mask = _member_mask(cand, doc)
        all_docs.append(doc[mask])
        all_contribs.append(contrib[mask])
        all_tranks.append(np.full(int(mask.sum()), trank, dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_phrase(
    slot_lists: list[list[dict]], avgdl: float, k: int, sc,
    exclude: np.ndarray | None = None,
):
    """Exact-phrase top-k over positional lists (one slot per phrase word).

    Match = docs where slot i+1 has a position exactly one past some slot-i
    position (chained vectorized membership over doc-indexed position
    keys). Matching docs are BM25-scored over the phrase's DISTINCT terms
    in sorted term order (bit-exact vs the SQL n-gram oracle)."""
    from . import codecs

    if not slot_lists or any(not ls for ls in slot_lists):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    def slot_doc_pos(lists):
        docs_l, pos_l = [], []
        for lst in lists:
            doc, tf = codecs.decode_postings(lst["postings"], lst["df"])
            pos = codecs.decode_positions(lst["positions"], tf)
            docs_l.append(np.repeat(doc, tf))
            pos_l.append(pos)
        d = np.concatenate(docs_l)
        p = np.concatenate(pos_l)
        return d, p

    slots = [slot_doc_pos(ls) for ls in slot_lists]
    # candidate docs: in every slot's doc set (and not tombstoned)
    cand = None
    for d, _ in slots:
        u = np.unique(d)
        cand = u if cand is None else cand[_member_mask(u, cand)]
        if cand.size == 0:
            break
    if exclude is not None and cand is not None and cand.size and exclude.size:
        cand = cand[~_member_mask(exclude, cand)]
    if cand is None or cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    # chain: survivors are (doc_index, position) keys; slot i+1 must contain
    # key+1. doc_index (not raw 64-bit doc id) keeps the packing exact.
    def keys_of(d, p):
        idx = np.searchsorted(cand, d)
        idx = np.minimum(idx, cand.size - 1)
        m = cand[idx] == d
        return np.sort(idx[m].astype(np.int64) * (np.int64(1) << np.int64(32)) + p[m])

    survivors = keys_of(*slots[0])
    for d, p in slots[1:]:
        nxt = keys_of(d, p)
        survivors = survivors + 1
        survivors = survivors[_member_mask(nxt, survivors)]
        if survivors.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    matched = cand[np.unique(survivors >> np.int64(32))]

    # score matched docs over the phrase's DISTINCT lists (repeated phrase
    # words share the same row objects — dedup by identity)
    seen_ids, uniq = set(), []
    for ls in slot_lists:
        for lst in ls:
            if id(lst) not in seen_ids:
                seen_ids.add(id(lst))
                uniq.append(lst)
    ranks = _term_ranks(uniq)
    all_docs, all_contribs, all_tranks = [], [], []
    for lst in uniq:
        doc, contrib = _decoded_contribs(lst, avgdl, sc, None)
        mask = _member_mask(matched, doc)
        all_docs.append(doc[mask])
        all_contribs.append(contrib[mask])
        all_tranks.append(np.full(int(mask.sum()), ranks[lst["term"]], dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_min_should(
    lists: list[dict],
    avgdl: float,
    k: int,
    min_should_match: int,
    sc,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
):
    """OR with a should-count threshold: docs matching at least
    ``min_should_match`` DISTINCT query terms score (the OpenSearch
    bool/should + minimum_should_match shape — between pure OR (m=1) and
    AND (m = n_terms)). Scoring is bit-exact with the other strategies:
    per-term contributions summed in sorted term order."""
    if not lists:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    ranks = _term_ranks(lists)
    m = max(1, int(min_should_match))
    decoded = []
    term_docs: dict[str, list] = {}
    for lst in lists:
        doc, contrib = _decoded_contribs(lst, avgdl, sc, exclude, include)
        decoded.append((doc, contrib, ranks[lst["term"]]))
        term_docs.setdefault(lst["term"], []).append(doc)
    # distinct-term match count per doc: one sorted concat of per-term doc
    # sets (salted lists of one term are doc-disjoint, so each term
    # contributes each doc at most once)
    per_term_sets = [
        np.sort(np.concatenate(d)) if len(d) > 1 else d[0]
        for d in term_docs.values()
    ]
    allv = np.sort(np.concatenate(per_term_sets)) if per_term_sets else np.zeros(0, np.int64)
    if allv.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    starts = np.concatenate(([0], np.flatnonzero(allv[1:] != allv[:-1]) + 1))
    counts = np.diff(np.append(starts, allv.size))
    cand = allv[starts][counts >= m]
    if cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    all_docs, all_contribs, all_tranks = [], [], []
    for doc, contrib, trank in decoded:
        mask = _member_mask(cand, doc)
        all_docs.append(doc[mask])
        all_contribs.append(contrib[mask])
        all_tranks.append(np.full(int(mask.sum()), trank, dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_proximity(
    slot_lists: list[list[dict]],
    avgdl: float,
    k: int,
    sc,
    slop: int = 0,
    exclude: np.ndarray | None = None,
):
    """Ordered-window proximity over positional lists: slot i+1 must occur
    at a position in (p_i, p_i + 1 + slop] — ``slop = 0`` is the exact
    phrase; larger slop allows up to ``slop`` intervening tokens per gap
    (an ordered variant of Lucene's sloppy phrase, semantics pinned so the
    SQL oracle can replicate it with position joins). Matching docs are
    BM25-scored over the query's distinct terms, bit-exact with the other
    entry points."""
    from . import codecs

    if not slot_lists or any(not ls for ls in slot_lists):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    span = np.int64(1 + max(0, int(slop)))

    def slot_doc_pos(lists):
        docs_l, pos_l = [], []
        for lst in lists:
            doc, tf = codecs.decode_postings(lst["postings"], lst["df"])
            pos = codecs.decode_positions(lst["positions"], tf)
            docs_l.append(np.repeat(doc, tf))
            pos_l.append(pos)
        return np.concatenate(docs_l), np.concatenate(pos_l)

    slots = [slot_doc_pos(ls) for ls in slot_lists]
    cand = None
    for d, _ in slots:
        u = np.unique(d)
        cand = u if cand is None else cand[_member_mask(u, cand)]
        if cand.size == 0:
            break
    if exclude is not None and cand is not None and cand.size and exclude.size:
        cand = cand[~_member_mask(exclude, cand)]
    if cand is None or cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    def keys_of(d, p):
        idx = np.searchsorted(cand, d)
        idx = np.minimum(idx, cand.size - 1)
        m = cand[idx] == d
        return np.sort(idx[m].astype(np.int64) * (np.int64(1) << np.int64(32)) + p[m])

    survivors = keys_of(*slots[0])
    for d, p in slots[1:]:
        nxt = keys_of(d, p)
        # EVERY match in the window continues the chain (earliest-only is
        # incomplete: a later in-window match can enable the next gap)
        lo = np.searchsorted(nxt, survivors + 1, side="left")
        hi = np.searchsorted(nxt, survivors + span, side="right")
        lens = hi - lo
        keep = lens > 0
        lo, lens = lo[keep], lens[keep]
        if lo.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
        out_starts = np.zeros(lens.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=out_starts[1:])
        total = int(lens.sum())
        take = np.repeat(lo, lens) + np.arange(total, dtype=np.int64) - np.repeat(out_starts, lens)
        survivors = np.unique(nxt[take])
    matched = cand[np.unique(survivors >> np.int64(32))]

    seen_ids, uniq = set(), []
    for ls in slot_lists:
        for lst in ls:
            if id(lst) not in seen_ids:
                seen_ids.add(id(lst))
                uniq.append(lst)
    ranks = _term_ranks(uniq)
    all_docs, all_contribs, all_tranks = [], [], []
    for lst in uniq:
        doc, contrib = _decoded_contribs(lst, avgdl, sc, None)
        mask = _member_mask(matched, doc)
        all_docs.append(doc[mask])
        all_contribs.append(contrib[mask])
        all_tranks.append(np.full(int(mask.sum()), ranks[lst["term"]], dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_range_sliced(
    lists: list[dict],
    avgdl: float,
    k: int,
    lo: int,
    hi: int,
    sc,
    exclude: np.ndarray | None = None,
):
    """Exhaustive TAAT over BYTE-SLICED lists restricted to doc range
    [lo, hi) — the per-range scorer of the doc-range-parallel query path.

    Each list dict: {term, idf, postings: bytes (contiguous block window
    sliced JVM-side), prev_last: int | None (block_last_doc of the block
    before the window — gap base for the window's first posting)}.
    One vectorized varbyte pass per list; docs outside [lo, hi) (window
    boundary blocks straddle ranges) are masked before scoring, so every
    doc scores in EXACTLY one range group and per-doc term sums are
    complete. Scores are bit-exact with the unsliced strategies (same
    sorted-term-order float64 accumulation)."""
    from . import codecs

    ranks = _term_ranks(lists)
    all_docs, all_contribs, all_tranks = [], [], []
    for lst in lists:
        blob = lst["postings"]
        if not blob:
            continue
        stream = codecs.varbyte_decode(memoryview(bytes(blob)))
        gaps = stream[0::2].copy()
        if lst.get("prev_last") is not None:
            gaps[0] += np.uint64(lst["prev_last"])
        doc = np.cumsum(gaps, dtype=np.uint64).view(np.int64)
        tf = stream[1::2].astype(np.int64)
        keep = (doc >= lo) & (doc < hi)
        if exclude is not None and exclude.size:
            keep &= ~np.isin(doc, exclude, assume_unique=True)
        doc, tf = doc[keep], tf[keep]
        all_docs.append(doc)
        all_contribs.append(lst["idf"] * bm25.tf_weight(tf, sc.dl_of(doc), avgdl))
        all_tranks.append(np.full(doc.size, ranks[lst["term"]], dtype=np.int32))
    return _exact_topk(all_docs, all_contribs, all_tranks, k, sc.doc_of)


def score_multifield(
    field_lists: dict[str, list[dict]],
    avgdls: dict[str, float],
    boosts: dict[str, float],
    k: int,
    sidecars: dict[str, object],
    exclude: np.ndarray | None = None,
):
    """Weighted multi-field BM25 (the OpenSearch multi-field bool/should
    shape; reference: per-column typed mappings in
    search_pg_mapper.go:137-183 — each text column is its own scored
    field): score(d) = sum over fields f of boost_f * BM25_f(d, q), where
    BM25_f uses the FIELD's own df, doclen, and avgdl (its index's stats).

    ``field_lists``: field -> list dicts (idf already per-field);
    ``sidecars``: field -> that field index's unit sidecar (dl_of for the
    doclen gather, doc_of to map the field's segment-local ordinals into
    the shared doc_id space where cross-field sums happen). ``exclude``
    is in doc_id space. Exact and bit-reproducible: contributions
    accumulate per doc in sorted (field, term) order, float64
    left-to-right, like the single-field scorers."""
    keys = sorted(
        (f, l["term"]) for f, ls in field_lists.items() for l in ls
    )
    ranks = {ft: i for i, ft in enumerate(dict.fromkeys(keys))}
    all_docs, all_contribs, all_tranks = [], [], []
    for field in sorted(field_lists):
        sc = sidecars[field]
        avgdl = avgdls[field]
        boost = float(boosts.get(field, 1.0))
        for lst in field_lists[field]:
            ords, tf = codecs.decode_postings(lst["postings"], lst["df"])
            contrib = boost * lst["idf"] * bm25.tf_weight(tf, sc.dl_of(ords), avgdl)
            doc = sc.doc_of(ords)  # unique within a list (order irrelevant)
            if exclude is not None and exclude.size and doc.size:
                keep = ~np.isin(doc, exclude, assume_unique=True)
                doc, contrib = doc[keep], contrib[keep]
            all_docs.append(doc)
            all_contribs.append(contrib)
            all_tranks.append(
                np.full(doc.size, ranks[(field, lst["term"])], dtype=np.int32)
            )
    # keys are already doc_ids here (mapped per field above) — no remap
    return _exact_topk(all_docs, all_contribs, all_tranks, k)


def match_doc_counts(lists: list[dict], exclude: np.ndarray | None = None):
    """-> (doc_ids, distinct-term match counts) for boolean matching /
    faceting — no scoring, decode of doc ids only."""
    term_docs: dict[str, list] = {}
    for lst in lists:
        doc, _tf = codecs.decode_postings(lst["postings"], lst["df"])
        if exclude is not None and exclude.size and doc.size:
            doc = doc[~np.isin(doc, exclude, assume_unique=True)]
        term_docs.setdefault(lst["term"], []).append(doc)
    sets = [
        np.sort(np.concatenate(d)) if len(d) > 1 else d[0]
        for d in term_docs.values()
    ]
    if not sets:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    allv = np.sort(np.concatenate(sets))
    if allv.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    starts = np.concatenate(([0], np.flatnonzero(allv[1:] != allv[:-1]) + 1))
    counts = np.diff(np.append(starts, allv.size))
    return allv[starts], counts


# OR-semantics strategies (all return identical results — property-tested);
# score_conjunctive/score_phrase are separate entry points with different
# match semantics.
STRATEGIES = {
    "exhaustive": score_exhaustive,
    "maxscore": score_maxscore,
    "bmw": score_bmw,
}
