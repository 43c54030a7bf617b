#!/usr/bin/env python3
"""Steadiness and A/B checks over sets of graft benchmark results.

Collect a result set (one full result JSON per workload and seed):

    python3 perfbench/compare.py run --out A                 # tuning seeds 1-10
    python3 perfbench/compare.py run --out H --holdout       # held-out seeds
    python3 perfbench/compare.py run --out T --trace 1       # traced run

Summarise one set, or compare two sets of the same or different code:

    python3 perfbench/compare.py report A          # median, quartiles, spread
    python3 perfbench/compare.py report A B        # do A and B agree within bounds?
    python3 perfbench/compare.py overhead A T      # tracing overhead, T minus A

A metric's spread is (q3 - q1) / median over the set's seeds, with the
quartiles of statistics.quantiles(values, n=4). `report A B` says, per
workload and end-to-end metric, whether B's median is worse than A's by
more than the metric's bound in BENCHMARK.json, and prints both sets'
spreads. Where either set's spread is wider than the bound, the
comparison is unresolved, unless the two sets do not overlap at all
(every B run worse, or every B run better, than every A run). It exits
1 when any metric is worse.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TUNING_SEEDS = list(range(1, 11))
HOLDOUT_SEEDS = list(range(9001, 9011))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load(d):
    """{workload: [result, ...]} for every result JSON in directory d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["workload"], []).append(r)
    return out


def stats(values):
    v = [x for x in values if x is not None]
    if len(v) < 2:
        m = v[0] if v else float("nan")
        return m, m, m, 0.0
    q1, med, q3 = statistics.quantiles(v, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def separated(a_vals, b_vals, better):
    """"worse" when every B run is worse than every A run, "better" when
    every B run beats every A run, else None."""
    a = [x for x in a_vals if x is not None]
    b = [x for x in b_vals if x is not None]
    if not a or not b:
        return None
    if better == "lower":
        return "worse" if min(b) > max(a) else "better" if max(b) < min(a) else None
    return "worse" if max(b) < min(a) else "better" if min(b) > max(a) else None


def cmd_run(a):
    s = spec()
    seeds = HOLDOUT_SEEDS if a.holdout else TUNING_SEEDS
    if a.seeds:
        lo, _, hi = a.seeds.partition("-")
        seeds = list(range(int(lo), int(hi or lo) + 1))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    seconds = a.seconds or s["run_seconds"]
    bad = 0
    for w in names:
        for seed in seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(a.trace), "--save", a.out],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            bad += p.returncode != 0
            print(f"{w} seed {seed}: exit {p.returncode} {last[:160]}", flush=True)
    return 1 if bad else 0


def cmd_report(a):
    s = spec()
    A = load(a.a)
    B = load(a.b) if a.b else None
    traced = any(r["trace"] for rs in A.values() for r in rs)
    metrics = s["per_layer"] if traced and not B else s["end_to_end"]
    worse = 0
    for w, rs in sorted(A.items()):
        print(f"\n== {w}  ({len(rs)} runs; seeds {sorted(r['seed'] for r in rs)})")
        fails = sum(r["failed"] for r in rs)
        print(f"   failed/attempted: {fails}/{sum(r['attempted'] for r in rs)}")
        for m in metrics:
            key = "layers" if metrics is s["per_layer"] else "e2e"
            med, q1, q3, spread = stats([r[key].get(m["name"]) for r in rs])
            line = f"   {m['name']:34s} median {med:12.6g} q1 {q1:12.6g} q3 {q3:12.6g}"
            if "bound" in m:
                flag = "steady" if spread <= m["bound"] / 3 else (
                    "ok" if spread <= m["bound"] else "SPREAD>BOUND")
                line += f"  spread {spread:6.3f} / bound {m['bound']} {flag}"
            if B is not None and w in B:
                a_vals = [r["e2e"].get(m["name"]) for r in rs]
                b_vals = [r["e2e"].get(m["name"]) for r in B[w]]
                bmed, _, _, bspread = stats(b_vals)
                rel = (bmed - med) / abs(med) if med else float("inf")
                loss = rel if m["better"] == "lower" else -rel
                sep = separated(a_vals, b_vals, m["better"])
                if sep == "worse" and loss > m["bound"]:
                    verdict = "WORSE"
                elif sep == "better" and loss < -m["bound"]:
                    verdict = "better"
                elif spread > m["bound"] or bspread > m["bound"]:
                    verdict = "unresolved"
                elif loss > m["bound"]:
                    verdict = "WORSE"
                elif loss < -m["bound"]:
                    verdict = "better"
                else:
                    verdict = "agree"
                worse += verdict == "WORSE"
                line += (f"  | B median {bmed:12.6g} ({rel:+.1%}) spread {bspread:6.3f}"
                         f" {verdict}")
            print(line)
    return 1 if worse else 0


def cmd_overhead(a):
    s = spec()
    U, T = load(a.untraced), load(a.traced)
    for w in sorted(set(U) & set(T)):
        print(f"\n== {w}: tracing overhead (traced minus untraced medians)")
        for m in s["end_to_end"]:
            u = stats([r["e2e"].get(m["name"]) for r in U[w]])[0]
            t = stats([r["e2e"].get(m["name"]) for r in T[w]])[0]
            rel = (t - u) / abs(u) if u else float("nan")
            print(f"   {m['name']:20s} untraced {u:12.6g} traced {t:12.6g} "
                  f"diff {t - u:+12.6g} ({rel:+.1%}) {m['unit']}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect a result set")
    r.add_argument("--out", required=True)
    r.add_argument("--holdout", action="store_true", help="use the held-out seeds")
    r.add_argument("--seeds", help="seed range lo-hi instead of the default set")
    r.add_argument("--workloads", help="comma-separated subset")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--seconds", type=int)
    p = sub.add_parser("report", help="summarise a set, or compare two")
    p.add_argument("a")
    p.add_argument("b", nargs="?")
    o = sub.add_parser("overhead", help="tracing overhead between two sets")
    o.add_argument("untraced")
    o.add_argument("traced")
    a = ap.parse_args()
    sys.exit({"run": cmd_run, "report": cmd_report, "overhead": cmd_overhead}[a.cmd](a))


if __name__ == "__main__":
    main()
