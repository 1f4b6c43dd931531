#!/usr/bin/env python3
"""Parent-vs-change comparison and steadiness report for the graft benchmark.

Each side is a checkout (a directory holding BENCHMARK.json, perfbench/ and
src/). Runs go through perfbench/run.py in that checkout with --trace 0.

  # >= 10 alternating pairs; claim = the workload:metric the change targets
  python3 perfbench/compare.py pairs PARENT_DIR CHANGE_DIR --pairs 10 \
      --claim query_board:query_p50_ms

  # N repeats of one checkout, spread of each metric against its bound
  python3 perfbench/compare.py steady DIR --repeats 10 \
      [--baseline perfbench/BASELINE.json]

Both run every workload of BENCHMARK.json, with seeds 1000, 1001, ...

Rules (pairs): the claim holds when the change wins at least 9 in 10 of the
pairs (ties count for neither side), the medians differ by more than the
parent's own interquartile range, and no workload's failed_ratio is worse
than the parent's. Every other metric is "ok" when the change's median is
no worse than the parent's by more than the metric's bound, "regressed"
when it is, and "unresolved" when the parent's own spread exceeds the
bound, unless every change run beats every parent run. failed_ratio is
compared as it stands: it regresses when the change's median or maximum is
above the parent's.

Rules (steady): every end-to-end metric, setup_s included, is "steady" when
its interquartile range over its median is within a third of its bound,
"within bound" when within the bound, and "TOO NOISY" otherwise; the
command exits 1 if any metric is too noisy. failed_ratio is reported.
Raw results are appended as JSON lines to --log (default
.bench_build/compare-log.jsonl under the current directory).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


DEFAULT_LOG = os.path.join(".bench_build", "compare-log.jsonl")
# first seed of every series; perfbench/BASELINE.json was recorded with it
SEED = 1000


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, spec, workload, seed, log):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{root}: {workload} seed {seed} printed no result (exit {r.returncode})")
    if not res["correct"]:
        raise SystemExit(f"{root}: {workload} seed {seed} failed its correctness check")
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    vals["failed_ratio"] = res["failed"] / max(1, res["attempted"])
    log.write(json.dumps({"root": root, "workload": workload, "seed": seed, **vals}) + "\n")
    log.flush()
    return vals


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(q):
    """Interquartile range over the median of quartiles (q1, median, q3)."""
    q1, med, q3 = q
    return (q3 - q1) / med if med else (0.0 if q3 == q1 else math.inf)


def better(a, b, direction):
    """1 if a is better than b, -1 if worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a < b) == (direction == "lower") else -1


def relative(x, base):
    """(x - base) / base; a change away from a zero base is infinite."""
    if base:
        return (x - base) / base
    return 0.0 if x == base else math.copysign(math.inf, x - base)


def pairs(a):
    spec = load_spec(a.change)
    if load_spec(a.parent) != spec:
        print("warning: BENCHMARK.json differs between the two sides", file=sys.stderr)
    workloads = [w["name"] for w in spec["workloads"]]
    claim = tuple(a.claim.split(":")) if a.claim else None
    ms = {m["name"]: m for m in spec["end_to_end"]}
    runs = {side: {w: [] for w in workloads} for side in ("parent", "change")}
    with open(a.log, "a") as log:
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    root = a.parent if side == "parent" else a.change
                    runs[side][w].append(run_once(root, spec, w, SEED + i, log))
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{'workload':<12} {'metric':<18} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'delta':>8}  verdict")
    more_failures = False
    for w in workloads:
        p = [r["failed_ratio"] for r in runs["parent"][w]]
        c = [r["failed_ratio"] for r in runs["change"][w]]
        pq, cq = quartiles(p), quartiles(c)
        worse = cq[1] > pq[1] or max(c) > max(p)
        more_failures |= worse
        verdict = (f"regressed (max {max(c):.4g} vs parent {max(p):.4g})" if worse
                   else "ok")
        print(f"{w:<12} {'failed_ratio':<18} {fmt(pq):>28} {fmt(cq):>28} "
              f"{cq[1] - pq[1]:>+8.3f}  {verdict}")
    for w in workloads:
        for name, m in ms.items():
            p = [r[name] for r in runs["parent"][w]]
            c = [r[name] for r in runs["change"][w]]
            pq, cq = quartiles(p), quartiles(c)
            delta = relative(cq[1], pq[1])
            spread = iqr_share(pq)
            wins = sum(1 for x, y in zip(c, p) if better(x, y, m["better"]) > 0)
            worse = -delta if m["better"] == "higher" else delta
            if claim == (w, name):
                ok = (wins >= 0.9 * len(p) and abs(cq[1] - pq[1]) > pq[2] - pq[0]
                      and not more_failures)
                verdict = (f"claim {'MET' if ok else 'NOT MET'} (wins {wins}/{len(p)}"
                           f"{', more failures' if more_failures else ''})")
            elif spread > m["bound"] and not all(better(x, y, m["better"]) > 0
                                                 for x in c for y in p):
                verdict = f"unresolved (parent spread {spread:.1%} > bound {m['bound']:.0%})"
            elif worse > m["bound"]:
                verdict = f"regressed (> bound {m['bound']:.0%})"
            else:
                verdict = "ok"
            print(f"{w:<12} {name:<18} {fmt(pq):>28} {fmt(cq):>28} {delta:>+8.1%}  {verdict}")


def steady(a):
    spec = load_spec(a.root)
    ms = {m["name"]: m for m in spec["end_to_end"]}
    ms["failed_ratio"] = {"unit": "ratio"}
    bad = 0
    baseline = {}
    with open(a.log, "a") as log:
        for w in (w["name"] for w in spec["workloads"]):
            rs = [run_once(a.root, spec, w, SEED + i, log) for i in range(a.repeats)]
            for name, m in ms.items():
                xs = [r[name] for r in rs]
                q1, med, q3 = quartiles(xs)
                baseline.setdefault(w, {})[name] = {"q1": q1, "median": med, "q3": q3,
                                                    "unit": m["unit"]}
                if name == "failed_ratio":
                    print(f"{w:<12} {name:<18} median {med:<12.5g} max {max(xs):.5g}")
                    continue
                spread = iqr_share((q1, med, q3))
                if spread <= m["bound"] / 3:
                    verdict = "steady"
                elif spread <= m["bound"]:
                    verdict = "within bound"
                else:
                    verdict = "TOO NOISY"
                    bad += 1
                print(f"{w:<12} {name:<18} median {med:<12.5g} spread {spread:7.2%} "
                      f"bound {m['bound']:.0%}  {verdict}")
    if a.baseline:
        with open(a.baseline, "w") as f:
            json.dump({"repeats": a.repeats, "first_seed": SEED, "workloads": baseline},
                      f, indent=1, sort_keys=True)
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--claim")
    p.add_argument("--log", default=DEFAULT_LOG)
    s = sub.add_parser("steady")
    s.add_argument("root")
    s.add_argument("--repeats", type=int, default=10)
    s.add_argument("--log", default=DEFAULT_LOG)
    s.add_argument("--baseline", help="write per-workload quartiles of every metric here")
    a = ap.parse_args()
    if a.cmd == "pairs" and a.pairs < 10:
        ap.error("at least 10 pairs")
    os.makedirs(os.path.dirname(os.path.abspath(a.log)), exist_ok=True)
    (pairs if a.cmd == "pairs" else steady)(a)


if __name__ == "__main__":
    main()
