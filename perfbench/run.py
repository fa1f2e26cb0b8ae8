"""Layered benchmark of pgspark_index: build -> merge -> BM25 top-k -> incremental.

    python3 perfbench/run.py --workload {longtail,head_ingest} \
        --seed N --seconds S --trace {0,1}

One process, one closed-loop client, ``local[nproc]``. Every workload runs
the whole pipeline through the public API (``sources``, ``build``,
``merge``, ``query``, ``incremental``) on its own generated snapshot table:

    base build + merge -> base state -> the delta snapshot:
    incremental_read + build_delta -> pending state -> compact +
    merge_index -> compacted state

with each state serving the same query calls: a top-k stream, search_batch
chunks and phrase / min-should-match calls. Every end-to-end metric is
measured on every workload; the workloads differ in their input's shape
(see README.md). Outputs of every state are checked against the
independent reference in ``reference.py`` after the timed phase. The last
stdout line is the JSON result: end-to-end metrics with ``--trace 0``,
per-layer metrics (from ``tracing.py``'s wrappers) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from gen import BATCH_CHUNK

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# The index states every workload passes through; each serves the same
# query calls: a closed-loop top-k stream for a third of ``--seconds`` and
# at least a third of MIN_STREAM calls, ``batch_chunks`` search_batch chunks
# and ``family_calls`` phrase / min-should-match calls (phrase needs the
# positional index). Every call is a sample of the query metrics, so their
# samples span the whole run rather than one short window, and one burst of
# load on the host moves them less. ``compactions``: compact + merge_index
# calls whose median is compact_s. On longtail the delta tombstones nothing,
# so each call does the same work (a no-op compact and a re-merge of the
# same index), and a median of three is steadier than one 1.5 s call.
STATES = ("base", "pending", "compacted")
PLANS = {
    "longtail": dict(positions=False, base_in_setup=False, families=["msm"],
                     batch_chunks=4, family_calls=3, compactions=3),
    "head_ingest": dict(positions=True, base_in_setup=True, families=["phrase", "msm"],
                        batch_chunks=6, family_calls=4, compactions=1),
}
MIN_STREAM = 200  # top-k samples: >= 10 lie beyond p95
NUM_UNITS = 1

# Engine faults that the check tells apart by their symptom (CHANGES.md,
# FOUND). Their wrong results are reported on stderr and in the per-layer
# metrics ``query.wrong_results.<name>``, not in ``correct``: whether they
# show depends on the seed's pages, so they cannot be counted as a fixed
# share of failed operations either. Any other wrong result is an error.
#  - and_partial_match: on an index of more than one unit, each unit scores
#    an AND query over only the lists it holds, so pages holding some of
#    the words are returned as matches.
#  - negative_idf_maxscore: between a delta and compaction, df counts
#    superseded versions; a word in nearly every page gets df > N and a
#    negative idf, and MaxScore's pruning then drops docs of the true top-k.
KNOWN_DEFECTS = ("and_partial_match", "negative_idf_maxscore")


def known_defect(ref, state: str, units: int, mode: str, q: dict, problems) -> str | None:
    """The known engine defect whose symptom ``problems`` show, if any."""
    import reference as r

    kinds = {k for k, _ in problems}
    if (mode == "and" and units > 1 and r.NONMATCHING in kinds
            and kinds <= {r.NONMATCHING, r.ROWS_MANY, r.MISSING, r.BELOW}):
        return "and_partial_match"
    if (state == "pending" and mode == "or" and kinds <= {r.MISSING, r.BELOW, r.ROWS_FEW}
            and any(ref.idf(t) < 0 for t in set(q["terms"]))):
        return "negative_idf_maxscore"
    return None


def host_heap() -> str:
    """Driver heap sized to this host: a fifth of RAM, 1-6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(1024, min(6144, kb // 1024 // 5))}m"


def configure_env(work: str) -> None:
    """Spark's Python workers must import pgspark_index from this checkout,
    whatever the working directory; scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024.0


def jvm_pid() -> int:
    """The JVM that py4j launched for the session (Spark's launcher script
    execs ``java``, so the process it started is the JVM)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def lexicon_gate() -> int | None:
    """Lexicon parquet bytes up to which the engine holds the term
    dictionary in memory (None if the engine no longer has that gate)."""
    from pgspark_index import query

    cap = getattr(query, "_driver_tier_cap", None)
    return cap() // 8 if cap is not None else None


class Bench:
    def __init__(self, args, work: str, tracer):
        self.args = args
        self.plan = PLANS[args.workload]
        self.table = os.path.join(work, "table")
        self.idx = os.path.join(work, "index")
        self.tr = tracer
        with open(os.path.join(work, "queries.json")) as f:
            self.q = json.load(f)
        self.n_chunks = len(self.q["batch"]) // BATCH_CHUNK
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.topk_s: list[float] = []
        self.family_s: list[float] = []
        self.family_n = 0
        self.batch_s = 0.0
        self.batch_n = 0
        self.build_res: dict = {}
        self.results: dict = {}
        self.known: dict[str, list[str]] = {k: [] for k in KNOWN_DEFECTS}
        self.nondeterministic: list[str] = []
        self.states: dict[str, dict] = {}
        self.m: dict[str, float] = {}
        self.space_amp = 0.0
        self.jvm_rss_mb = self.py_rss_mb = 0.0
        self.t_start = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {what}", file=sys.stderr)

    # ---- operations -----------------------------------------------------
    def op(self, fn):
        """One engine operation: counted and timed; an exception counts as
        a failed operation and the run goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failure is a measured outcome
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def verb(self, family: str, fn):
        """A mutating verb; traced runs attribute its Spark jobs by job
        group."""
        if self.tr is not None:
            self.tr.family = family
            self.tr.set_group(family)
        return self.op(fn)

    def query(self, state: str, family: str, key, call) -> float:
        """Run one query verb, collect it, keep its rows for the check, and
        return its latency from call to ``collect()`` returning."""
        tr = self.tr
        if tr is not None:
            tr.family = family
            tr.set_group(f"query.{family}")
            jobs0 = tr.job_ids()
        collect_s = [0.0]

        def run():
            df = call()
            t0 = time.perf_counter()
            rows = df.collect()
            collect_s[0] = time.perf_counter() - t0
            return rows

        rows, dt = self.op(run)
        if tr is not None:
            jobs = len(tr.job_ids() - jobs0)
            tr.add("calls", 1)
            tr.add("collect_s", collect_s[0])
            tr.add("jobs", jobs)
            tr.add("no_job_calls", 1 if jobs == 0 else 0)
            tr.add("rows", len(rows or []))
            tr.family = "check"
        if rows is not None:
            got = [tuple(r) for r in rows]
            rk = (state, family, key)
            if self.results.setdefault(rk, got) != got:
                self.nondeterministic.append(repr(rk))
        return dt

    def topk(self, state: str, i: int) -> float:
        from pgspark_index import query

        x = self.q["topk"][i]
        return self.query(state, "topk", i, lambda: query.search(
            self.spark, self.idx, x["terms"], x["k"], mode=x["mode"],
            exclude_terms=x["exclude"] or None,
        ))

    def batch(self, state: str, c: int) -> None:
        from pgspark_index import query

        key = c % self.n_chunks
        qs = self.q["batch"][key * BATCH_CHUNK:(key + 1) * BATCH_CHUNK]
        self.batch_s += self.query(
            state, "batch", key, lambda: query.search_batch(self.spark, self.idx, qs))
        self.batch_n += len(qs)

    def family(self, state: str) -> None:
        """The next phrase / min-should-match call; the families alternate."""
        from pgspark_index import query

        fams = self.plan["families"]
        kind = fams[self.family_n % len(fams)]
        key = (self.family_n // len(fams)) % len(self.q[kind])
        self.family_n += 1
        x = self.q[kind][key]
        if kind == "phrase":
            call = lambda: query.search_phrase(self.spark, self.idx, x["phrase"], x["k"])  # noqa: E731
        else:
            call = lambda: query.search_min_should_match(  # noqa: E731
                self.spark, self.idx, x["terms"], x["m"], x["k"])
        self.family_s.append(self.query(state, kind, key, call))

    def serve(self, state: str) -> None:
        """The query calls of one index state: whole rounds of the top-k
        list for a third of ``--seconds`` and at least a third of
        MIN_STREAM calls, then the batch chunks and the family calls."""
        t_end = time.perf_counter() + self.args.seconds / len(STATES)
        done = 0
        while time.perf_counter() < t_end or done < -(-MIN_STREAM // len(STATES)):
            self.topk_s += [self.topk(state, i) for i in range(len(self.q["topk"]))]
            done += len(self.q["topk"])
        for c in range(self.plan["batch_chunks"]):
            self.batch(state, c)
        for _ in range(self.plan["family_calls"]):
            self.family(state)

    def capture(self, state: str, tombstones: int = 0) -> None:
        """Global statistics of an index state, read between timed calls."""
        import pyarrow.parquet as pq

        from pgspark_index import merge

        if self.tr is not None:
            self.tr.family = "check"
        st = merge.load_stats(self.idx)
        lex = merge.lexicon_path(self.idx)
        files = [os.path.join(lex, f) for f in os.listdir(lex) if f.endswith(".parquet")]
        self.states[state] = dict(
            n_docs=st["n_docs"], avgdl=st["avgdl"], units=len(st["units"]),
            lexicon_terms=sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            lexicon_bytes=sum(os.path.getsize(f) for f in files),
            tombstones=tombstones,
        )

    # ---- the pipeline ---------------------------------------------------
    def build_base(self) -> float:
        from pgspark_index import build, merge, sources

        t0 = time.perf_counter()
        jobs0 = self.tr.job_ids() if self.tr is not None else None
        res, _ = self.verb("build", lambda: build.build_index(
            self.spark, sources.read_snapshot(self.spark, self.table, 1), self.idx,
            num_units=NUM_UNITS, input_snapshot_id=1,
            with_positions=self.plan["positions"],
        ))
        if jobs0 is not None:
            self.tr.add("build.spark_jobs", len(self.tr.job_ids() - jobs0))
        self.verb("build", lambda: merge.merge_index(self.spark, self.idx))
        self.build_res = res or {}
        return time.perf_counter() - t0

    def run(self) -> None:
        from pgspark_index import incremental, merge, session, sources

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app="perfbench", cores=len(os.sched_getaffinity(0)),
            driver_memory=host_heap(),
        )
        if self.tr is not None:
            self.tr.spark = self.spark
        self.log("session started")
        if self.plan["base_in_setup"]:
            build_s = self.build_base()
        setup_s = time.perf_counter() - t0
        if not self.plan["base_in_setup"]:
            build_s = self.build_base()
        if self.tr is not None:
            self.record_build()
        self.capture("base")
        self.log("base index built")
        self.serve("base")

        res, delta_s = self.verb("delta", lambda: incremental.build_delta(
            self.spark, sources.incremental_read(self.spark, self.table, 1, 2),
            self.idx, 2, with_positions=self.plan["positions"],
        ))
        self.capture("pending", int((res or {}).get("tombstones", 0)))
        self.log("delta built")
        self.serve("pending")

        bytes_before = dir_bytes(self.idx)
        compact_s = []
        for _ in range(self.plan["compactions"]):
            t1 = time.perf_counter()
            self.verb("compact", lambda: incremental.compact(self.spark, self.idx))
            self.verb("compact", lambda: merge.merge_index(self.spark, self.idx))
            compact_s.append(time.perf_counter() - t1)
        bytes_after = dir_bytes(self.idx)
        self.capture("compacted")
        self.log("compacted")
        self.serve("compacted")
        # the PySpark driver program (where the engine's driver tier, lexicon
        # reads and collected results live) and the JVM py4j launched for it
        self.py_rss_mb = peak_rss_mb()
        self.jvm_rss_mb = peak_rss_mb(jvm_pid())
        self.log("timed phase done")

        self.m = {
            "setup_s": setup_s,
            "build_docs_per_s": self.q["base_rows"] / build_s,
            "index_bytes_per_doc": bytes_after / self.states["compacted"]["n_docs"],
            "query_p50_ms": 1000 * statistics.median(self.topk_s),
            "query_p95_ms": 1000 * statistics.quantiles(
                self.topk_s, n=100, method="inclusive")[94],
            "batch_queries_per_s": self.batch_n / self.batch_s,
            "family_p50_ms": 1000 * statistics.median(self.family_s),
            "delta_docs_per_s": self.q["delta_rows"] / delta_s,
            "compact_s": statistics.median(compact_s),
            "driver_peak_rss_mb": self.py_rss_mb,
        }
        self.space_amp = bytes_before / bytes_after

    def record_build(self) -> None:
        from pgspark_index import metrics

        tr = self.tr
        phases = [p or {} for p in self.build_res.get("phase_secs", [])]
        tr.add("build.tokenize_segments_s", sum(p.get("tokenize_segments", 0) for p in phases))
        tr.add("build.docs_s", sum(p.get("docs", 0) for p in phases))
        rec = [r for r in metrics.read_metrics(self.idx) if r.get("verb") == "build"]
        if rec:
            tr.add("build.postings_bytes", rec[-1].get("postings_bytes", 0))

    # ---- the check ------------------------------------------------------
    def check(self) -> list[str]:
        """Every recorded result and index state against the reference.
        Returns the errors; wrong results that show a known engine defect's
        symptom are collected in ``self.known`` instead."""
        from pyspark.sql import functions as F

        import reference

        snaps = reference.read_snapshots(self.table)
        urls = sorted({u for s in snaps for u in s})
        ids = dict(
            self.spark.createDataFrame([(u,) for u in urls], "url string")
            .select("url", F.xxhash64("url")).collect()
        )
        errs = [f"nondeterministic repeat {k}" for k in self.nondeterministic]
        errs += [f"selftest missed: {b}" for b in reference.selftest()]
        terms = self.query_terms()
        for state, got in self.states.items():
            ref = reference.State(snaps, 1 if state == "base" else 2, state == "compacted", ids)
            ref.prepare(terms)
            want = dict(n_docs=ref.n_docs, avgdl=ref.avgdl, lexicon_terms=ref.lexicon_terms())
            errs += [f"{state}: {k} {got[k]!r}, reference {v!r}"
                     for k, v in want.items() if got[k] != v]
            for (st, fam, key), rows in self.results.items():
                if st != state:
                    continue
                for label, mode, x, problems in self.check_one(ref, fam, key, rows):
                    if not problems:
                        continue
                    msg = f"{state} {label}: " + "; ".join(m for _, m in problems)
                    defect = known_defect(ref, state, got["units"], mode, x, problems)
                    (self.known[defect] if defect else errs).append(msg)
        return errs

    def query_terms(self) -> set[str]:
        q = self.q
        terms = {t for x in q["topk"] for t in x["terms"] + x["exclude"]}
        terms |= {t for fam in ("batch", "msm") for x in q[fam] for t in x["terms"]}
        return terms | {t for x in q["phrase"] for t in x["phrase"]}

    def check_one(self, ref, fam: str, key, rows):
        """(label, mode, query, problems) of each query in one result."""
        import reference

        if fam == "topk":
            x = self.q["topk"][key]
            return [(f"topk {key}", x["mode"], x,
                     reference.compare(rows, ref.matches(x["mode"], x), x["k"]))]
        if fam in ("phrase", "msm"):
            x = self.q[fam][key]
            return [(f"{fam} {key}", fam, x, reference.compare(rows, ref.matches(fam, x), x["k"]))]
        out = []
        for x in self.q["batch"][key * BATCH_CHUNK:(key + 1) * BATCH_CHUNK]:
            got = sorted((r for r in rows if r[0] == x["query_id"]), key=lambda r: r[1])
            problems = reference.compare(
                [(r[2], r[3]) for r in got], ref.matches("or", x), x["k"])
            if [r[1] for r in got] != list(range(1, len(got) + 1)):
                problems.append(("ranks", "ranks not 1..n"))
            out.append((f"batch {key} query {x['query_id']}", "or", x, problems))
        return out

    def regime(self) -> dict:
        """The regime the run exercised (recorded in README.md)."""
        s = self.states
        gate = lexicon_gate()
        return dict(
            lexicon_bytes_base=s["base"]["lexicon_bytes"],
            lexicon_terms_base=s["base"]["lexicon_terms"],
            lexicon_gate_ratio=s["base"]["lexicon_bytes"] / gate if gate else None,
            base_units=s["base"]["units"],
            pending=dict(tombstones=s["pending"]["tombstones"], units=s["pending"]["units"]),
            topk_samples=len(self.topk_s), family_samples=len(self.family_s),
            jvm_peak_rss_mb=round(self.jvm_rss_mb, 1), py_peak_rss_mb=round(self.py_rss_mb, 1),
            known_defects={k: len(v) for k, v in self.known.items()},
        )


def per_layer(b: Bench, tr) -> dict[str, float]:
    """Per-layer metrics of a traced run. Query-side layer figures are per
    top-k ``search`` call, the calls query_p50_ms measures."""
    t = tr.total
    n_topk = max(1.0, t("calls", "topk"))
    ms = 1000.0
    out = {
        "session.start_s": t("session.start_s"),
        "build.plan_salts_s": t("build.plan_salts_s"),
        "build.unit_s": t("build.unit_s"),
        "build.tokenize_segments_s": t("build.tokenize_segments_s"),
        "build.docs_s": t("build.docs_s"),
        "build.spark_jobs": t("build.spark_jobs"),
        "build.postings_bytes": t("build.postings_bytes"),
        "merge.merge_index_s": t("merge.merge_index_s"),
        "merge.spark_jobs": t("merge.merge_index_jobs"),
        "merge.lexicon_terms": b.states["base"]["lexicon_terms"],
        "merge.lexicon_bytes": b.states["base"]["lexicon_bytes"],
        "incremental.build_delta_s": t("incremental.build_delta_s"),
        "incremental.delta_unit_s": t("incremental.delta_unit_s"),
        "incremental.tombstones": t("incremental.tombstones"),
        "incremental.delta_spark_jobs": t("incremental.build_delta_jobs"),
        "incremental.compact_call_s": t("incremental.compact_call_s"),
        "incremental.compact_spark_jobs": t("incremental.compact_call_jobs"),
        "incremental.space_amplification": b.space_amp,
        "query.load_stats_ms": ms * t("query.load_stats_s", "topk") / n_topk,
        "query.lexicon_ms": ms * t("query.lexicon_s", "topk") / n_topk,
        "query.segment_read_ms": ms * t("query.segment_read_s", "topk") / n_topk,
        "query.segment_rows": t("query.segment_rows", "topk") / n_topk,
        "query.sidecar_ms": ms * t("query.sidecar_s", "topk") / n_topk,
        "query.tombstone_ms": ms * t("query.tombstone_s", "topk") / n_topk,
        "wand.score_ms": ms * t("wand.score_s", "topk") / n_topk,
        "codecs.decode_ms": ms * t("codecs.decode_s", "topk") / n_topk,
        "codecs.postings_decoded": t("codecs.postings_decoded", "topk") / n_topk,
        "codecs.postings_per_result": t("codecs.postings_decoded", "topk")
        / max(1.0, t("rows", "topk")),
    }
    for fam, names in (("topk", ["topk"]), ("batch", ["batch"]), ("family", ["phrase", "msm"])):
        calls = sum(t("calls", f) for f in names) or 1.0
        out[f"query.collect_ms.{fam}"] = ms * sum(t("collect_s", f) for f in names) / calls
        out[f"query.spark_jobs_per_query.{fam}"] = sum(t("jobs", f) for f in names) / calls
        out[f"query.no_job_share.{fam}"] = sum(t("no_job_calls", f) for f in names) / calls
    out["session.jvm_peak_rss_mb"] = b.jvm_rss_mb
    for k, v in b.known.items():
        out[f"query.wrong_results.{k}"] = len(v)
    gate = lexicon_gate()
    if gate:
        out["merge.lexicon_gate_ratio"] = b.states["base"]["lexicon_bytes"] / gate
    for k, v in b.m.items():
        out[f"traced.{k}"] = v
    return out


# per-layer metrics that depend on each seam (reported missing if it is gone)
SEAM_METRICS = {
    "session.start": ["session.start_s"],
    "build.plan_salts": ["build.plan_salts_s"],
    "build.unit": ["build.unit_s"],
    "incremental.delta_unit": ["incremental.delta_unit_s"],
    "merge.merge_index": ["merge.merge_index_s", "merge.spark_jobs"],
    "incremental.build_delta": ["incremental.build_delta_s", "incremental.tombstones",
                                "incremental.delta_spark_jobs"],
    "incremental.compact_call": ["incremental.compact_call_s", "incremental.compact_spark_jobs"],
    "query.load_stats": ["query.load_stats_ms"],
    "query.lexicon": ["query.lexicon_ms"],
    "query.segment_read": ["query.segment_read_ms", "query.segment_rows"],
    "query.sidecar": ["query.sidecar_ms"],
    "query.tombstone": ["query.tombstone_ms"],
    "wand.score": ["wand.score_ms"],
    "codecs.decode": ["codecs.decode_ms", "codecs.postings_decoded", "codecs.postings_per_result"],
}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input's page counts (report.py fit)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pgspark_index  # noqa: F401 - the engine must be in this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed),
             work, str(args.scale)],
            check=True, timeout=150,
        )
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install()
        b = Bench(args, work, tracer)
        try:
            b.run()
            errs = b.check()
            b.log("checked")
        finally:
            if b.spark is not None:
                stop_spark(b.spark)
        for e in errs[:20]:
            print(f"CHECK: {e}", file=sys.stderr)
        for name, msgs in b.known.items():
            for e in msgs[:5]:
                print(f"KNOWN DEFECT {name}: {e}", file=sys.stderr)
        regime = b.regime()
        print(f"regime: {json.dumps(regime)}", file=sys.stderr)
        ratio = regime["lexicon_gate_ratio"]
        if args.workload == "longtail" and (ratio is None or ratio <= 1.0):
            print("REGIME: the longtail base lexicon is not above the in-memory "
                  f"dictionary gate (lexicon/gate = {ratio}); its lookups no longer "
                  "take the filtered-parquet path", file=sys.stderr)
        if args.trace:
            values = per_layer(b, tracer)
            missing = {m for seam in tracer.missing for m in SEAM_METRICS.get(seam, [])}
            wanted = spec["per_layer"]
        else:
            values, missing, wanted = b.m, set(), spec["end_to_end"]
        missing |= {m["name"] for m in wanted} - values.keys()
        if missing:
            print(f"missing metrics (seam gone): {sorted(missing)}", file=sys.stderr)
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
            if m["name"] not in missing
        }
        print(json.dumps({
            "correct": not errs,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
