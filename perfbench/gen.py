"""Seeded crawl-snapshot generator for the layered benchmark.

Writes a ``snapshot=<id>`` parquet table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)`` -- the layout
``pgspark_index.sources.read_snapshot`` / ``incremental_read`` read -- plus
the query mix of each family as JSON. It does not use
``pgspark_index.fixtures``: the inputs of the benchmark are its own, and
everything derives from ``--seed`` through numpy's PCG64.

Run as a child process (``python3 perfbench/gen.py <workload> <seed> <dir>
[<scale>]``, scale multiplying the page counts)
so that the driver process's peak RSS covers the engine only.

Vocabulary:
- head words ``v<base36>``, Zipf(s=1) over the workload's ``vocab`` ranks;
  the top ranks occur in nearly every page;
- tail tokens ``x`` + ``tail_chars`` base-36 digits, drawn uniformly, so
  almost every one is distinct (the long tail of real crawl text: ids,
  hashes, misspellings).
The two prefixes never collide, and the generated token stream is exactly
what ``textnorm.tokenize`` recovers (casing and punctuation noise only).
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.0
DAY_US = 86_400 * 1_000_000
EPOCH_US = 1_735_689_600 * 1_000_000  # 2025-01-01T00:00:00Z

# Per-workload input make-up. ``pages``: base snapshot pages; ``vocab``:
# head vocabulary size; ``tail``: share of tokens drawn from the tail space,
# ``tail_chars`` long; the one delta snapshot holds ``recrawl`` x pages
# re-fetched base urls (later warc_ts, each url re-fetched once) and
# ``new`` x pages new urls. The long-tail lexicon must stay well above the
# engine's in-memory term-dictionary gate (8 MiB of lexicon parquet at the
# default driver budget): 48-character tail tokens (ids, hashes) put it at
# about 1.65 times the gate. The build sizes a unit's segment files from a
# sampled postings estimate (``build._seg_shuffle_width``: one file per
# 4 MiB at 8 B a posting); 2,400 long-tail pages keep that estimate about
# 20% under the one-to-two-file step on every seed (3,200 pages straddled
# it, and seeds with one file served top-k a fifth slower).
WORKLOADS = {
    "longtail": dict(pages=2_400, vocab=30_000, tail=0.8, tail_chars=48,
                     recrawl=0.0, new=0.02),
    "head_ingest": dict(pages=3_000, vocab=8_000, tail=0.0, tail_chars=16,
                        recrawl=0.04, new=0.02),
}
DUP = 0.01  # base urls crawled twice inside the base snapshot (last writer wins)
TOKENS_MIN, TOKENS_MAX = 60, 240
TOPK_QUERIES = 35  # one round of the top-k list each index state streams
BATCH_CHUNK = 16  # queries per search_batch call; two chunks are generated
MID_RANKS = range(50, 3_000, 47)  # the ranks mid-frequency query words cycle through
HTML_ONLY = 0.02  # pages whose text column is NULL (html extraction path)
FILES_PER_SNAPSHOT = 8


def _b36(ids: np.ndarray, prefix: str) -> np.ndarray:
    digits = np.array(list("0123456789abcdefghijklmnopqrstuvwxyz"))
    ids = np.asarray(ids, dtype=np.int64)
    out = np.full(ids.shape, prefix, dtype=object)
    width = max(1, int(np.ceil(np.log(max(2, int(ids.max(initial=1)) + 1)) / np.log(36))))
    parts = []
    v = ids.copy()
    for _ in range(width):
        parts.append(digits[v % 36])
        v //= 36
    for p in reversed(parts):
        out = out + p
    return out


class Corpus:
    """Token-id streams of every generated page version, by snapshot."""

    def __init__(self, seed: int, spec: dict):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.spec = spec
        self.vocab = spec["vocab"]
        ranks = np.arange(1, self.vocab + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.head_cdf = np.cumsum(p / p.sum())
        self.head_words = _b36(np.arange(self.vocab), "v")
        self.snapshots: list[dict] = []

    def _tokens(self, n_pages: int) -> tuple[np.ndarray, np.ndarray]:
        rng = self.rng
        lens = rng.integers(TOKENS_MIN, TOKENS_MAX + 1, size=n_pages)
        total = int(lens.sum())
        head = np.searchsorted(self.head_cdf, rng.random(total), side="right")
        head = np.minimum(head, self.vocab - 1)
        toks = self.head_words[head]
        if self.spec["tail"] > 0:
            is_tail = rng.random(total) < self.spec["tail"]
            toks[is_tail] = self.tail_tokens(int(is_tail.sum()))
        offs = np.zeros(n_pages + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        return toks, offs

    def tail_tokens(self, n: int) -> np.ndarray:
        """``n`` uniform tail tokens of ``tail_chars`` base-36 digits."""
        w = self.spec["tail_chars"]
        digits = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
        chars = digits[self.rng.integers(0, 36, size=(n, w))]
        return np.char.add("x", chars.view(f"S{w}").ravel().astype(f"U{w}")).astype(object)

    def _render(self, toks: np.ndarray, offs: np.ndarray):
        """Token streams -> (html, text) columns with casing/punctuation
        noise that normalization removes; HTML_ONLY of pages carry html
        alone (script block included, which extraction drops)."""
        rng = self.rng
        n = len(offs) - 1
        noisy = toks.copy()
        up = rng.random(len(toks)) < 0.05
        noisy[up] = np.char.upper(noisy[up].astype(str)).astype(object)
        comma = rng.random(len(toks)) < 0.08
        noisy[comma] = noisy[comma] + ","
        html_only = rng.random(n) < HTML_ONLY
        texts, htmls = [], []
        for i in range(n):
            t = " ".join(noisy[offs[i]:offs[i + 1]].tolist())
            if html_only[i]:
                texts.append(None)
                htmls.append(
                    ("<html><head><script>var seen = 1;</script></head><body><p>"
                     + t + "</p></body></html>").encode()
                )
            else:
                texts.append(t)
                htmls.append(None)
        return htmls, texts

    def add_snapshot(self, urls: list[str], ts: np.ndarray) -> None:
        toks, offs = self._tokens(len(urls))
        htmls, texts = self._render(toks, offs)
        self.snapshots.append(
            dict(urls=list(urls), ts=ts, toks=toks, offs=offs,
                 htmls=htmls, texts=texts)
        )


def generate(workload: str, seed: int, scale: float = 1.0) -> Corpus:
    spec = WORKLOADS[workload]
    c = Corpus(seed, spec)
    rng = c.rng
    n = int(spec["pages"] * scale)
    sites = rng.integers(0, 2_000, size=n)
    urls = [f"https://site{s:04d}.example/{workload}/{seed}/p{i:07d}"
            for i, s in enumerate(sites)]
    ts = EPOCH_US + rng.integers(0, DAY_US // 2, size=n)
    dup = rng.choice(n, size=int(n * DUP), replace=False)
    # in-snapshot recrawl: a second version of the url, strictly later
    base_urls = urls + [urls[i] for i in dup]
    base_ts = np.concatenate([ts, ts[dup] + DAY_US // 2 + 1])
    c.add_snapshot(base_urls, base_ts)
    recrawls = rng.permutation(n)[: int(n * spec["recrawl"])]
    new_urls = [f"https://site{int(s):04d}.example/{workload}/{seed}/p{n + j:07d}"
                for j, s in enumerate(rng.integers(0, 2_000, size=int(n * spec["new"])))]
    d_urls = [urls[i] for i in recrawls] + new_urls
    d_ts = EPOCH_US + DAY_US + rng.integers(0, DAY_US // 2, size=len(d_urls))
    c.add_snapshot(d_urls, d_ts)
    return c


def write_table(c: Corpus, table_dir: str) -> None:
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    for sid, snap in enumerate(c.snapshots, start=1):
        d = os.path.join(table_dir, f"snapshot={sid}")
        os.makedirs(d, exist_ok=True)
        n = len(snap["urls"])
        order = c.rng.permutation(n)  # rows arrive in crawl order, not url order
        files = FILES_PER_SNAPSHOT if sid == 1 else 2
        for f, part in enumerate(np.array_split(order, files)):
            t = pa.table([
                pa.array([snap["urls"][i] for i in part], pa.string()),
                pa.array(snap["ts"][part], pa.timestamp("us")),
                pa.array([snap["htmls"][i] for i in part], pa.binary()),
                pa.array([snap["texts"][i] for i in part], pa.string()),
                pa.array(["en"] * len(part), pa.string()),
            ], schema=schema)
            pq.write_table(t, os.path.join(d, f"part-{f:05d}.parquet"))


def _base_live(c: Corpus) -> dict[str, np.ndarray]:
    """url -> token stream of its live version in the base snapshot."""
    snap = c.snapshots[0]
    best: dict[str, tuple[int, int]] = {}
    for i, (u, t) in enumerate(zip(snap["urls"], snap["ts"])):
        if u not in best or t > best[u][0]:
            best[u] = (int(t), i)
    return {u: snap["toks"][snap["offs"][i]:snap["offs"][i + 1]] for u, (_, i) in best.items()}


def make_queries(c: Corpus, workload: str) -> dict:
    """Query mix per family, drawn from the base snapshot's live pages.

    Families: ``topk`` (OR / AND / exclude), ``batch`` (search_batch
    chunks), ``phrase`` and ``msm``. Terms are chosen from the head, mid
    and tail ranks the workload is about; ``absent`` tail-shaped terms are
    checked not to occur anywhere in the table."""
    rng = c.rng
    live = _base_live(c)
    streams = list(live.values())
    present = set()
    for snap in c.snapshots:
        present.update(snap["toks"].tolist())
    words = c.head_words

    rank = {w: r for r, w in enumerate(words.tolist())}

    # head and mid words cycle through fixed ranks, so every seed asks for
    # words of the same frequencies and the query cost does not vary by seed
    head_ranks = itertools.cycle(range(20))
    mid_ranks = itertools.cycle(MID_RANKS)

    def mid():
        return str(words[next(mid_ranks)])

    def head():
        return str(words[next(head_ranks)])

    tail_pool = sorted({t for s in streams[:500] for t in s.tolist()
                        if t.startswith("x")})

    def tail():
        return tail_pool[int(rng.integers(0, len(tail_pool)))] if tail_pool else mid()

    def absent():
        while True:
            t = str(c.tail_tokens(1)[0])
            if t not in present:
                return t

    def phrase(n):
        while True:
            s = streams[int(rng.integers(0, len(streams)))]
            i = int(rng.integers(0, len(s) - n))
            p = [str(x) for x in s[i:i + n]]
            if len(set(p)) == n:
                return p

    recrawled = [u for s in c.snapshots[1:] for u in s["urls"] if u in live]

    def probe():
        # the two rarest words of a recrawled page's superseded version: a
        # result that kept that version would rank it first
        if not recrawled:
            return [mid(), mid()]
        s = live[recrawled[int(rng.integers(0, len(recrawled)))]]
        return sorted(set(s.tolist()), key=lambda t: rank.get(t, -1))[-2:]

    if workload == "longtail":
        kinds = [
            lambda: ([tail(), tail()], "or", []),
            lambda: ([tail(), mid()], "or", []),
            lambda: ([tail(), absent(), mid()], "or", []),
            lambda: ([mid(), mid(), tail()], "or", []),
        ]
        batch_terms = [lambda: [tail(), mid()]] * 2
    else:
        kinds = [
            lambda: ([head(), mid(), mid()], "or", []),
            lambda: ([head(), head(), mid()], "or", []),
            lambda: ([head(), mid()], "and", []),
            lambda: ([mid(), mid()], "or", [head()]),
            lambda: (probe(), "or", []),
        ]
        batch_terms = [lambda: [head(), mid(), mid()], lambda: [mid(), mid(), mid()]]
    topk = []
    for i in range(TOPK_QUERIES):
        terms, mode, exclude = kinds[i % len(kinds)]()
        topk.append(dict(terms=terms, mode=mode, exclude=exclude, k=10))
    batch = []
    for i in range(2 * BATCH_CHUNK):
        terms = batch_terms[i // BATCH_CHUNK]()
        batch.append(dict(query_id=i, terms=terms, k=10))
    phrases = [dict(phrase=phrase(2 + (i % 2)), k=10) for i in range(6)]
    msm = [dict(terms=[head(), mid(), mid(), mid()], m=2, k=10) for _ in range(6)]
    return dict(topk=topk, batch=batch, phrase=phrases, msm=msm)


def main(argv: list[str]) -> int:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    scale = float(argv[3]) if len(argv) > 3 else 1.0
    c = generate(workload, seed, scale)
    write_table(c, os.path.join(out, "table"))
    q = make_queries(c, workload)
    q["base_rows"], q["delta_rows"] = (len(s["urls"]) for s in c.snapshots)
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(q, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
