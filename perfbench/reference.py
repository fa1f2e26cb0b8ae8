"""Independent BM25 reference and the result comparison.

The reference is computed from the generated rows alone. It shares with the
engine only ``textnorm.extract_text`` / ``textnorm.tokenize`` (the
byte-identical extraction invariant) and the doc identity
``xxhash64(url)``, which the caller supplies as a url -> doc_id map.

Model
-----
- Every snapshot's rows are deduplicated last-writer-wins per url on
  ``warc_ts``; those versions are what a build or a delta physically
  indexes. The live corpus is last-writer-wins over all snapshots so far.
- Lucene BM25: k1 = 1.2, b = 0.75,
  idf = ln(1 + (N - df + 0.5) / (df + 0.5)).
- N and avgdl are always the live corpus's. Between a delta and
  compaction, df counts every physically present version, superseded ones
  included; after compaction df is the live corpus's.
- Families: OR; AND (a term absent from the lexicon empties the result);
  ``exclude`` removes pages containing any excluded term and adds no
  score; min-should-match keeps pages with at least m distinct query terms;
  a phrase needs consecutive token positions and is scored over its
  distinct terms; a batch query is an OR query.

Comparison: scores agree within ``REL_TOL`` relative, and the returned doc
set equals the reference's except for docs tied (within that tolerance)
with the k-th score. Exact float equality is not required: the engine
and this reference may sum the same terms in another order. Each problem
found carries a kind (``ROWS``, ``NONMATCHING``, ...), so that a caller
can tell the symptom of a known engine defect from any other error.

``python3 perfbench/reference.py --selftest`` feeds the comparison
deliberately perturbed results and exits non-zero unless each is flagged.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class Version:
    __slots__ = ("url", "ts", "toks", "counts", "dl")

    def __init__(self, url: str, ts: int, toks: list[str]):
        self.url, self.ts, self.toks = url, ts, toks
        self.counts = Counter(toks)
        self.dl = len(toks)


def lww(rows) -> dict[str, Version]:
    """(url, ts, toks) rows -> url -> latest version."""
    out: dict[str, Version] = {}
    for url, ts, toks in rows:
        cur = out.get(url)
        if cur is None or ts > cur.ts:
            out[url] = Version(url, ts, toks)
    return out


def read_snapshots(table_dir: str) -> list[dict[str, Version]]:
    """Per-snapshot last-writer-wins versions of a ``snapshot=<id>`` table,
    in snapshot order."""
    import pyarrow.parquet as pq

    from pgspark_index import textnorm

    snaps = sorted(
        (int(d.split("=", 1)[1]), os.path.join(table_dir, d))
        for d in os.listdir(table_dir)
        if d.startswith("snapshot=")
    )
    out = []
    for _sid, d in snaps:
        t = pq.read_table(d, columns=["url", "warc_ts", "html", "text"])
        ts = t["warc_ts"].cast("int64").to_pylist()
        rows = (
            (u, s, textnorm.tokenize(textnorm.extract_text(h, x)))
            for u, s, h, x in zip(
                t["url"].to_pylist(), ts, t["html"].to_pylist(), t["text"].to_pylist()
            )
        )
        out.append(lww(rows))
    return out


class State:
    """The corpus as the index holds it after snapshots ``1..upto``:
    ``compacted`` drops superseded versions from the statistics."""

    def __init__(self, snaps: list[dict[str, Version]], upto: int, compacted: bool,
                 doc_id: dict[str, int]):
        present: list[Version] = []
        live: dict[str, Version] = {}
        for snap in snaps[:upto]:
            for url, v in snap.items():
                present.append(v)
                cur = live.get(url)
                if cur is None or v.ts > cur.ts:
                    live[url] = v
        self.live = {doc_id[u]: v for u, v in live.items()}
        self.present = list(self.live.values()) if compacted else present
        self.n_docs = len(self.live)
        self.sum_dl = sum(v.dl for v in self.live.values())
        self.avgdl = self.sum_dl / self.n_docs if self.n_docs else 0.0
        self._df: dict[str, int] = {}
        self._post: dict[str, list[int]] = {}

    def lexicon_terms(self) -> int:
        terms: set[str] = set()
        for v in self.present:
            terms.update(v.counts)
        return len(terms)

    def prepare(self, terms) -> None:
        """df over present versions and live postings for ``terms``."""
        need = set(terms) - self._df.keys()
        if not need:
            return
        for t in need:
            self._df[t] = 0
            self._post[t] = []
        for v in self.present:
            for t in need.intersection(v.counts):
                self._df[t] += 1
        for d, v in self.live.items():
            for t in need.intersection(v.counts):
                self._post[t].append(d)

    def _bm25(self, d: int, terms) -> float:
        return self.score_version(self.live[d], terms)

    def idf(self, t: str) -> float:
        df = self._df[t]
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def score_version(self, v: Version, terms) -> float:
        s = 0.0
        for t in sorted(terms):
            tf = v.counts.get(t, 0)
            if tf:
                s += self.idf(t) * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * v.dl / self.avgdl)
                )
        return s

    def matches(self, family: str, q: dict) -> dict[int, float]:
        """doc_id -> score of every live page the query matches."""
        if family == "phrase":
            phrase = q["phrase"]
            terms = sorted(set(phrase))
            self.prepare(terms)
            if any(self._df[t] == 0 for t in terms):
                return {}
            cand = set(self._post[terms[0]]).intersection(*(self._post[t] for t in terms[1:]))
            n = len(phrase)
            out = {}
            for d in cand:
                toks = self.live[d].toks
                if any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1)):
                    out[d] = self._bm25(d, terms)
            return out
        terms = sorted(set(q["terms"]))
        excl = sorted(set(q.get("exclude") or []))
        self.prepare(terms + excl)
        present = [t for t in terms if self._df[t] > 0]
        mode = "msm" if family == "msm" else q.get("mode", "or")
        if not present or (mode == "and" and len(present) < len(terms)):
            return {}
        counts: Counter = Counter()
        for t in present:
            counts.update(self._post[t])
        need = {"and": len(present), "msm": int(q.get("m", 1))}.get(mode, 1)
        banned = {d for t in excl for d in self._post[t]}
        return {
            d: self._bm25(d, present)
            for d, c in counts.items()
            if c >= need and d not in banned
        }


# kinds of problem ``compare`` reports
ROWS_FEW, ROWS_MANY = "rows_few", "rows_many"  # row count != min(k, matches)
DUPLICATE, ORDER = "duplicate", "order"
NONMATCHING = "nonmatching"  # a returned doc does not match the query
SCORE = "score"  # a matching doc's score differs from the reference's
MISSING = "missing"  # a doc above the k-th reference score is not returned
BELOW = "below"  # a returned doc scores below the k-th reference score


def compare(got: list[tuple[int, float]], ref: dict[int, float], k: int
            ) -> list[tuple[str, str]]:
    """Problems of an engine result against the reference match scores, as
    (kind, message) pairs (empty list = correct)."""
    errs = []
    want = min(k, len(ref))
    if len(got) != want:
        errs.append((ROWS_FEW if len(got) < want else ROWS_MANY,
                     f"{len(got)} rows, expected {want}"))
    docs = [d for d, _ in got]
    if len(set(docs)) != len(docs):
        errs.append((DUPLICATE, "duplicate doc_id in result"))
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if s1 < s2 or (s1 == s2 and d1 >= d2):
            errs.append((ORDER, f"order: ({d1}, {s1!r}) before ({d2}, {s2!r})"))
            break
    for d, s in got:
        r = ref.get(d)
        if r is None:
            errs.append((NONMATCHING, f"doc {d} does not match the query"))
        elif abs(s - r) > REL_TOL * max(abs(r), 1e-300):
            errs.append((SCORE, f"doc {d}: score {s!r}, reference {r!r}"))
    if len(ref) > k:
        kth = sorted(ref.values(), reverse=True)[k - 1]
        tol = REL_TOL * abs(kth)
        got_set = set(docs)
        missing = [d for d, s in ref.items() if s > kth + tol and d not in got_set]
        if missing:
            errs.append((MISSING, f"{len(missing)} docs above the k-th score missing,"
                                  f" e.g. {missing[0]}"))
        low = [d for d in docs if d in ref and ref[d] < kth - tol]
        if low:
            errs.append((BELOW, f"doc {low[0]} scores below the k-th reference score"))
    return errs


def selftest() -> list[str]:
    """Perturbed results that ``compare`` must flag; returns the names of
    perturbations it missed (empty = every one flagged)."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(12)]
    base = [(f"u{i}", 1, [rng.choice(words) for _ in range(rng.randint(4, 12))])
            for i in range(40)]
    # u0's second crawl drops "w0"; its first version must not answer w0
    base[0] = ("u0", 1, ["w0", "w0", "w0", "w1"])
    recrawl = [("u0", 2, ["w5", "w6", "w1"])]
    snaps = [lww(base), lww(recrawl)]
    ids = {f"u{i}": 1000 + i for i in range(40)}
    st = State(snaps, 2, False, ids)
    q = {"terms": ["w0", "w1"], "mode": "or"}
    ref = st.matches("or", q)
    k = 5
    good = sorted(ref.items(), key=lambda x: (-x[1], x[0]))[:k]
    missed = []
    if compare(good, ref, k):
        missed.append("unperturbed result was flagged")
    outside = [d for d in ids.values() if d not in ref]
    below = sorted(ref.items(), key=lambda x: (-x[1], x[0]))[k:]
    # a result that scored u0's superseded first crawl instead of its live one
    stale = dict(ref)
    stale[ids["u0"]] = st.score_version(Version("u0", 1, base[0][2]), ["w0", "w1"])
    cases = {
        "swapped doc (non-matching)": [(outside[0], good[0][1])] + good[1:],
        "swapped doc (below k-th)": good[:-1] + [below[-1]],
        "score off by 1e-6 relative": [(good[0][0], good[0][1] * (1 + 1e-6))] + good[1:],
        "superseded page version": sorted(stale.items(), key=lambda x: (-x[1], x[0]))[:k],
        "missing row": good[:-1],
    }
    for name, res in cases.items():
        if not compare(res, ref, k):
            missed.append(name)
    return missed


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if sys.argv[1:] == ["--selftest"]:
        bad = selftest()
        print("selftest:", "every perturbation flagged" if not bad else f"missed {bad}")
        sys.exit(1 if bad else 0)
    print("usage: reference.py --selftest", file=sys.stderr)
    sys.exit(2)
