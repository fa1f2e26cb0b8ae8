"""Regenerate the figures in perfbench/README.md.

    python3 perfbench/report.py spread   --workload W --seeds 1 2 ... [--seconds S]
    python3 perfbench/report.py overhead --workload W --seeds 1 2 ... [--seconds S]
    python3 perfbench/report.py fit      --workload W --seed N --scales 0.5 1 2

``spread``: untraced runs, one per seed; prints each end-to-end metric's
median and quartile spread (IQR / median, as the acceptance rule takes it).
``overhead``: an untraced and a traced run per seed; prints the traced
run's end-to-end numbers minus the untraced ones (the tracing overhead).
``fit``: traced runs at several input scales; fits each layer's time as
``a + b * x`` by least squares and prints the fixed cost ``a`` and the
slope ``b`` per page (build side) or per decoded posting (query side).
Every run is a child ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int, scale: float = 1.0) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--scale", str(scale)],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect or failed run: {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def cmd_spread(a) -> None:
    runs = [run(a.workload, s, a.seconds, 0) for s in a.seeds]
    print(f"| metric | median | IQR/median | ({a.workload}, {len(runs)} seeds) |")
    print("|---|---|---|---|")
    for k in runs[0]:
        med, sp = spread([r[k] for r in runs])
        print(f"| {k} | {med:.4g} | {sp:.3f} | |")


def cmd_overhead(a) -> None:
    plain = [run(a.workload, s, a.seconds, 0) for s in a.seeds]
    traced = [run(a.workload, s, a.seconds, 1) for s in a.seeds]
    print(f"| metric | untraced median | traced median | traced - untraced | ({a.workload}) |")
    print("|---|---|---|---|---|")
    for k in plain[0]:
        u = statistics.median(r[k] for r in plain)
        t = statistics.median(r[f"traced.{k}"] for r in traced)
        print(f"| {k} | {u:.4g} | {t:.4g} | {t - u:+.4g} ({(t - u) / u:+.1%}) | |")


# layer time -> the work measure it is fitted against
FITS = {
    "build.plan_salts_s": "pages",
    "build.tokenize_segments_s": "pages",
    "build.docs_s": "pages",
    "build.unit_s": "pages",
    "merge.merge_index_s": "pages",
    "incremental.build_delta_s": "pages",
    "incremental.delta_unit_s": "pages",
    "incremental.compact_call_s": "pages",
    "query.lexicon_ms": "merge.lexicon_bytes",
    "query.segment_read_ms": "codecs.postings_decoded",
    "wand.score_ms": "codecs.postings_decoded",
    "codecs.decode_ms": "codecs.postings_decoded",
    "query.collect_ms.family": "pages",
}


def cmd_fit(a) -> None:
    sys.path.insert(0, HERE)
    import gen

    base_pages = gen.WORKLOADS[a.workload]["pages"]
    pts = []
    for sc in a.scales:
        m = run(a.workload, a.seed, a.seconds, 1, sc)
        m["pages"] = int(base_pages * sc)
        pts.append(m)
    print(f"| layer | per | fixed a | slope b | points (x: y) | ({a.workload}) |")
    print("|---|---|---|---|---|---|")
    for y, x in FITS.items():
        xs = [p[x] for p in pts]
        ys = [p[y] for p in pts]
        mx, my = statistics.fmean(xs), statistics.fmean(ys)
        sxx = sum((v - mx) ** 2 for v in xs)
        b = sum((u - mx) * (v - my) for u, v in zip(xs, ys)) / sxx if sxx else 0.0
        pts_s = ", ".join(f"{u:.4g}: {v:.4g}" for u, v in zip(xs, ys))
        print(f"| {y} | {x} | {my - b * mx:.4g} | {b:.4g} | {pts_s} | |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("what", choices=("spread", "overhead", "fit"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--scales", type=float, nargs="+", default=[0.5, 1.0, 2.0])
    a = ap.parse_args()
    {"spread": cmd_spread, "overhead": cmd_overhead, "fit": cmd_fit}[a.what](a)


if __name__ == "__main__":
    main()
