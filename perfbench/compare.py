#!/usr/bin/env python3
"""A/B comparison of two graft checkouts on the benchmark.

    compare.py run --base DIR --change DIR --workload W --out FILE [--trace 0]
    compare.py report FILE

`run` alternates the two checkouts' `perfbench/run.py` for ten pairs, with
the side that goes first swapped on every pair; both sides of a pair use
the same seed, and every run measures BENCHMARK.json's `run_seconds`.
Each result line is appended to FILE with its side, pair
and seed, so an interrupted comparison can be reported as it stands.

`report` applies the rule for claiming a gain: for each workload and
metric it prints each side's median and quartiles and the share of pairs
the change won (ties count for neither). A gain needs at least 90 % of
pairs won and a median difference larger than the distance between the
base's quartiles. A regression is a change median worse than the base
median by more than the metric's bound; when the base's own quartile
spread is wider than the bound the metric is unresolved, unless every
change run beats every base run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
# The rule for claiming a gain needs at least ten pairs; pair k runs both
# sides on seed SEED0 + k.
PAIRS = 10
SEED0 = 1000


def run(a):
    with open(BENCH) as f:
        seconds = json.load(f)["run_seconds"]
    for pair in range(PAIRS):
        seed = SEED0 + pair
        sides = [("base", a.base), ("change", a.change)]
        for side, root in (sides if pair % 2 == 0 else sides[::-1]):
            cmd = ["python3", os.path.join(root, "perfbench", "run.py"), "--workload", a.workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{side} run failed (rc={p.returncode}): {' '.join(cmd)}")
            rec = json.loads(lines[-1])
            rec.update(side=side, pair=pair, seed=seed, workload=a.workload, trace=a.trace)
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"pair {pair} {side}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items()), file=sys.stderr)


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def report(a):
    with open(BENCH) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    recs = [json.loads(x) for x in open(a.file) if x.strip()]
    print(f"{'workload':14s} {'metric':40s} {'base p50':>11s} {'base q1..q3':>23s} "
          f"{'change p50':>11s} {'change q1..q3':>23s} {'won':>7s}  verdict")
    for wl in sorted({r["workload"] for r in recs}):
        rs = [r for r in recs if r["workload"] == wl]
        fails = {s: sum(r["failed"] for r in rs if r["side"] == s) for s in ("base", "change")}
        metrics = sorted({k for r in rs for k in r["metrics"]})
        for m in metrics:
            lower = spec.get(m, {}).get("better", "lower") == "lower"
            by_pair = {}
            for r in rs:
                if m in r["metrics"]:
                    by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"][m]["value"]
            pairs = [p for p in by_pair.values() if len(p) == 2]
            if not pairs:
                continue
            base = [p["base"] for p in pairs]
            change = [p["change"] for p in pairs]
            won = sum((p["change"] < p["base"]) if lower else (p["change"] > p["base"]) for p in pairs)
            mb, mc = statistics.median(base), statistics.median(change)
            bq, cq = quartiles(base), quartiles(change)
            worse = (mc - mb) if lower else (mb - mc)
            bound = spec.get(m, {}).get("bound")
            better_all = (max(change) < min(base)) if lower else (min(change) > max(base))
            if won >= 0.9 * len(pairs) and -worse > bq[1] - bq[0] and fails["change"] <= fails["base"]:
                verdict = "gain"
            elif bound is None:
                verdict = "-"
            elif mb and (bq[1] - bq[0]) / mb > bound and not better_all:
                verdict = "unresolved"
            elif mb and worse / mb > bound:
                verdict = "REGRESSION"
            else:
                verdict = "within bound"
            print(f"{wl:14s} {m:40s} {mb:11.5g} {bq[0]:11.5g}..{bq[1]:<11.5g} {mc:11.5g} "
                  f"{cq[0]:11.5g}..{cq[1]:<11.5g} {won:3d}/{len(pairs):<3d}  {verdict}")
        print(f"{wl:14s} failed executions: base {fails['base']}, change {fails['change']}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--base", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("report")
    p.add_argument("file")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
