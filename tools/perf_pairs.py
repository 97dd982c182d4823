#!/usr/bin/env python3
"""Paired parent/change benchmark runs of one workload, summarized.

    python3 tools/perf_pairs.py --parent <checkout> --change <checkout> \
        --workload serve_mix --pairs 10 --seed 801 [--detail route_ms]

Runs `python3 perfbench/run.py` from each checkout for `run_seconds` of the
change's BENCHMARK.json, alternating which side goes first in each pair;
pair i uses seed `--seed + i` on both sides. Each side builds into its own
checkout's `.bench_build` as CARGO_TARGET_DIR (an inherited
CARGO_TARGET_DIR is overridden).

For every end-to-end metric of the change's BENCHMARK.json it prints, per
side, the median and quartiles (`statistics.quantiles(n=4)`), the number of
pairs the change won (ties count for neither side), the parent's IQR, and two
verdicts:
  - gain: the change won at least nine tenths of the pairs and the medians
    differ by more than the parent's IQR;
  - within bound: the change's median is no worse than the parent's by more
    than the metric's bound. It reads "unresolved" when either side's
    spread (IQR over median) exceeds the bound and not every change run
    beats every parent run.
Failed operations are summed per side. `--detail KEY` also prints per-side
medians of a dict-valued field of the untraced run record, such as
`serve_mix`'s per-route HTTP `route_ms`. Each run's result line is printed as
it completes, so the output is also the raw data.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def run_once(checkout, build_dir, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, capture_output=True, text=True)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"perf_pairs: run failed in {checkout} (seed {seed}, "
                         f"exit {proc.returncode})")
    result = json.loads(lines[-1])
    record_path = os.path.join(build_dir, "results", f"{workload}-s{seed}-t0.json")
    with open(record_path) as fh:
        record = json.load(fh).get("record", {})
    return {"metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "failed": result["failed"], "attempted": result["attempted"], "record": record}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(spec, runs, detail):
    n = len(runs["parent"])
    print(f"\n{n} pairs; failed ops: parent {sum(r['failed'] for r in runs['parent'])} of "
          f"{sum(r['attempted'] for r in runs['parent'])}, change "
          f"{sum(r['failed'] for r in runs['change'])} of "
          f"{sum(r['attempted'] for r in runs['change'])}")
    head = (f"{'metric':<18}{'parent med [q1, q3]':>30}{'change med [q1, q3]':>30}"
            f"{'ratio':>8}{'wins':>7}{'parent IQR':>12}  gain  within bound")
    print(head)
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
        wins = sum(better(cv, pv) for pv, cv in zip(p, c))
        iqr = pq[2] - pq[0]
        gain = wins >= 0.9 * n and better(cq[1], pq[1]) and abs(cq[1] - pq[1]) > iqr
        worse = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1)
        spread = max((q[2] - q[0]) / q[1] for q in (pq, cq))
        dominates = all(better(cv, pv) for cv in c for pv in p)
        if worse <= m["bound"] and (spread <= m["bound"] or dominates):
            within = f"yes ({worse:+.1%} vs {m['bound']:.0%})"
        elif spread > m["bound"] and not dominates:
            within = f"unresolved (spread {spread:.2f} > {m['bound']})"
        else:
            within = f"NO ({worse:+.1%} vs {m['bound']:.0%})"
        fmt = lambda q: f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]"
        print(f"{name:<18}{fmt(pq):>30}{fmt(cq):>30}{cq[1] / pq[1]:>8.3f}"
              f"{f'{wins}/{n}':>7}{iqr:>12.3f}  {'yes' if gain else 'no':<5} {within}")
    for key in detail:
        print(f"\nmedian {key} (parent -> change)")
        names = sorted({k for side in SIDES for r in runs[side] for k in r["record"].get(key, {})})
        for k in names:
            med = [statistics.median([r["record"][key][k] for r in runs[side]
                                      if k in r["record"].get(key, {})] or [float("nan")])
                   for side in SIDES]
            print(f"  {k:<40}{med[0]:>12.1f}{med[1]:>12.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--detail", action="append", default=[],
                    help="dict-valued record field to summarize per key, e.g. route_ms")
    args = ap.parse_args()

    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    builds = {s: os.path.join(checkouts[s], ".bench_build") for s in SIDES}
    runs = {s: [] for s in SIDES}
    for i in range(args.pairs):
        seed = args.seed + i
        for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
            r = run_once(checkouts[side], builds[side], args.workload, seed, seconds)
            runs[side].append(r)
            print(json.dumps({"pair": i, "side": side, "seed": seed, "failed": r["failed"],
                              "metrics": r["metrics"]}), flush=True)
    summarize(spec, runs, args.detail)


if __name__ == "__main__":
    main()
