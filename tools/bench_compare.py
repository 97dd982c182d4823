#!/usr/bin/env python3
"""Equal-posture comparison of two bench artifacts (the BASELINE.md rule,
mechanized): refuses to compare artifacts whose `cpus` or `heap_gb`
differ or whose reps are storm-stamped, then reports total/median ratios
and every per-query regression above the threshold.

When both artifacts carry a per-query `profile`, it also lists the queries
whose `jobs` or `stages` changed, and flags `cpu` and `cpu_rdd` ratios
above the threshold like wall-time ones. Artifacts without `profile` are
compared on wall time only.

Usage: python3 tools/bench_compare.py OLD.json NEW.json [--threshold 2.0]

Exit code 1 if any query regressed beyond the threshold (tripwire use),
2 if the artifacts are not comparable.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    thr = 2.0
    if "--threshold" in argv:
        i = argv.index("--threshold")
        thr = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    old, new = load(argv[0]), load(argv[1])

    problems = []
    for field in ("cpus", "heap_gb"):
        if old.get(field) != new.get(field):
            problems.append(f"{field}: {old.get(field)} vs {new.get(field)}")
    for name, art in (("old", old), ("new", new)):
        storms = art.get("rep_storm", [])
        if any(storms):
            problems.append(f"{name} artifact is storm-stamped: {storms}")
    if problems:
        print("NOT COMPARABLE (BASELINE.md rule):")
        for p in problems:
            print(f"  - {p}")
        return 2

    # Artifacts missing the contract fields (a truncated tail capture, a
    # summary-only line) and artifact pairs with no positive-timed common
    # query are "nothing comparable", not a traceback (round-10 advice).
    qo, qn = old.get("queries"), new.get("queries")
    if not isinstance(qo, dict) or not isinstance(qn, dict):
        print("NOT COMPARABLE: artifact missing a 'queries' map "
              f"(old: {type(qo).__name__}, new: {type(qn).__name__})")
        return 2
    common = sorted(k for k in qo if k in qn and qo[k] > 0 and qn[k] > 0)
    if not common:
        print("NOT COMPARABLE: no positive-timed queries in common "
              f"(old has {len(qo)}, new has {len(qn)})")
        return 2
    ratios = {k: qn[k] / qo[k] for k in common}
    med = statistics.median(ratios.values())
    tot_o = old.get("value")
    tot_n = new.get("value")
    tot = (f"old total {tot_o:.1f}s  new total {tot_n:.1f}s"
           if isinstance(tot_o, (int, float)) and isinstance(tot_n, (int, float))
           else "totals unavailable (missing 'value' field)")
    print(f"common queries: {len(common)}  {tot}  "
          f"median per-query ratio {med:.3f}")
    only_new = sorted(set(qn) - set(qo))
    if only_new:
        print(f"new-only queries ({len(only_new)}): "
              + ", ".join(f"{k}={qn[k]:.2f}s" for k in only_new))

    regressed = report("", qo, qn, thr)
    po, pn = old.get("profile"), new.get("profile")
    if isinstance(po, dict) and isinstance(pn, dict):
        changed = [(k, po[k], pn[k]) for k in sorted(po)
                   if isinstance(po[k], dict) and isinstance(pn.get(k), dict)
                   and any(po[k].get(f) != pn[k].get(f) for f in ("jobs", "stages"))]
        if changed:
            print(f"jobs/stages changed ({len(changed)}):")
            for k, a, b in changed:
                print(f"  {k}: jobs {a.get('jobs')} -> {b.get('jobs')}, "
                      f"stages {a.get('stages')} -> {b.get('stages')}")
        for field in ("cpu", "cpu_rdd"):
            regressed |= report(f"{field} ", old.get(field) or {},
                                new.get(field) or {}, thr)
    return 1 if regressed else 0


def report(label, qo, qn, thr):
    """Prints the queries whose `label` value grew beyond `thr`x; True if any."""
    ratios = {k: qn[k] / qo[k] for k in qo if k in qn and qo[k] > 0 and qn[k] > 0}
    regressions = sorted(
        ((r, k) for k, r in ratios.items() if r > thr), reverse=True)
    if regressions:
        print(f"{label.upper()}REGRESSIONS above {thr}x:")
        for r, k in regressions:
            print(f"  {k}: {qo[k]:.2f}s -> {qn[k]:.2f}s ({r:.2f}x)")
        return True
    print(f"no query {label}regressed beyond {thr}x")
    return False


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
