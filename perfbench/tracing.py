"""Per-layer tracing from outside the engine.

``Tracer.install()`` wraps the engine functions each layer is reached
through, *where the caller looks them up*: a function imported by name
(``incremental`` does ``from .build import build_unit``) is wrapped in the
importing module too, and ``query`` reaches its scorers through
``wand.STRATEGIES``, so that dict is patched along with the module
attributes. Wrappers copy the wrapped function's module and qualified name
(``functools.wraps``), so a closure that Spark ships to its Python workers
pickles them by reference and the workers run the unwrapped engine: scoring
on the distributed path shows only as Spark jobs and collect time.

The wrappers are thread-safe (the driver tier scores units on a thread
pool). Time is attributed to the query family the benchmark is running
(``Tracer.family``); a seam that no longer exists is recorded in
``missing`` and its metrics are reported as missing, never as zero.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

# (module, attribute, layer) -- every place a layer's entry point is looked up
SEAMS = [
    ("session", "get_spark", "session.start"),
    ("build", "plan_salts_source", "build.plan_salts"),
    ("incremental", "plan_salts_source", "build.plan_salts"),
    ("build", "build_unit", "build.unit"),
    ("incremental", "build_unit", "incremental.delta_unit"),
    ("merge", "merge_index", "merge.merge_index"),
    ("incremental", "build_delta", "incremental.build_delta"),
    ("incremental", "compact", "incremental.compact_call"),
    ("merge", "load_stats", "query.load_stats"),
    ("query", "_term_stats", "query.lexicon"),
    ("query", "_unit_seg_pdf", "query.segment_read"),
    ("query", "_sidecar", "query.sidecar"),
    ("query", "_tombstone_excluder_bounded", "query.tombstone"),
    ("wand", "score_maxscore", "wand.score"),
    ("wand", "score_conjunctive", "wand.score"),
    ("wand", "score_min_should", "wand.score"),
    ("wand", "score_phrase", "wand.score"),
    ("codecs", "decode_postings", "codecs.decode"),
    ("codecs", "varbyte_decode", "codecs.decode"),
]
# layers whose Spark jobs are counted per call
JOB_LAYERS = {"merge.merge_index", "incremental.build_delta", "incremental.compact_call"}


class Tracer:
    def __init__(self):
        self.lock = threading.Lock()
        self.family = "setup"
        self.acc: dict = defaultdict(float)
        self.missing: set[str] = set()
        self.spark = None
        self._groups: set[str] = set()
        self._depth = threading.local()

    # ---- accounting -------------------------------------------------------
    def add(self, name: str, value: float) -> None:
        with self.lock:
            self.acc[(self.family, name)] += value

    def total(self, name: str, family: str | None = None) -> float:
        with self.lock:
            return sum(v for (f, n), v in self.acc.items()
                       if n == name and (family is None or f == family))

    # ---- Spark jobs -------------------------------------------------------
    def job_ids(self) -> set[int]:
        """Every job the application has run so far. Jobs submitted from the
        calling thread carry the verb's job group; jobs the engine submits
        from its own thread pools carry none."""
        if self.spark is None:
            return set()
        st = self.spark.sparkContext.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for g in list(self._groups):
            ids.update(st.getJobIdsForGroup(g))
        return ids

    def set_group(self, label: str) -> None:
        if self.spark is not None:
            self._groups.add(label)
            self.spark.sparkContext.setJobGroup(label, label)

    # ---- wrappers ---------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tr = self
        if layer == "codecs.decode":
            depth = self._depth

            @functools.wraps(fn)
            def decode(*a, **kw):
                d = getattr(depth, "n", 0)
                depth.n = d + 1
                t0 = time.perf_counter()
                try:
                    out = fn(*a, **kw)
                finally:
                    depth.n = d
                if d == 0:  # nested decodes are inside the outer call's time
                    tr.add("codecs.decode_s", time.perf_counter() - t0)
                    n = len(out[0]) if isinstance(out, tuple) else len(out) // 2
                    tr.add("codecs.postings_decoded", n)
                return out

            return decode

        @functools.wraps(fn)
        def timed(*a, **kw):
            jobs0 = tr.job_ids() if layer in JOB_LAYERS else None
            t0 = time.perf_counter()
            out = fn(*a, **kw)
            tr.add(layer + "_s", time.perf_counter() - t0)
            if jobs0 is not None:
                tr.add(layer + "_jobs", len(tr.job_ids() - jobs0))
            if layer == "query.segment_read":
                tr.add("query.segment_rows", len(out))
            elif layer == "incremental.build_delta":
                tr.add("incremental.tombstones", int(out.get("tombstones", 0)))
            return out

        return timed

    def install(self) -> None:
        import importlib

        wrapped: dict = {}
        for mod_name, attr, layer in SEAMS:
            mod = importlib.import_module(f"pgspark_index.{mod_name}")
            fn = getattr(mod, attr, None)
            if fn is None:
                self.missing.add(layer)
                continue
            w = wrapped.get((id(fn), layer))
            if w is None:
                w = wrapped[(id(fn), layer)] = self._wrap(fn, layer)
            setattr(mod, attr, w)
        from pgspark_index import wand

        strategies = getattr(wand, "STRATEGIES", None)
        if strategies is None:
            self.missing.add("wand.score")
            return
        for name, fn in list(strategies.items()):
            w = wrapped.get((id(fn), "wand.score"))
            if w is not None:
                strategies[name] = w
