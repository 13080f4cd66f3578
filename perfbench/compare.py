#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BEFORE.jsonl AFTER.jsonl

Each file holds runs recorded with `run.py --record FILE` (one JSON
line per run). For every (workload, metric) of BENCHMARK.json's
end_to_end list this prints both medians, both quartile ranges and a
verdict:

  improved     AFTER's run beats BEFORE's in at least nine tenths of
               all (before, after) pairs (ties count for neither), and
               the medians differ by more than BEFORE's own spread (the
               distance between its quartiles)
  regressed    AFTER's median is worse than BEFORE's by more than the
               metric's bound
  unresolved   not regressed, but BEFORE's spread is wider than the
               bound, and not every AFTER run beats every BEFORE run
  within bound otherwise

The workloads' own figures (search_p50_ms, edit_p50_ms, operators_s,
...) are compared the same way without a bound: improved, worse (the
same rule the other way round) or no clear change. trace_overhead_frac
is reported per workload when AFTER holds traced runs.
"""
import json
import os
import statistics
import sys


def load(path):
    """(workload, trace) -> list of {metric: {"value", "unit"}} per run"""
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(
                    {**r.get("details", {}), **r["result"]["metrics"]})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(before, after, better, bound):
    b1, bm, b3 = quartiles(before)
    _, am, _ = quartiles(after)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x in before for y in after if sign * (y - x) > 0)
    if wins >= 0.9 * len(before) * len(after) and abs(am - bm) > (b3 - b1):
        return "improved"
    if sign * (bm - am) / bm > bound:
        return "regressed"
    if (b3 - b1) / bm > bound and wins < len(before) * len(after):
        return "unresolved"
    return "within bound"


def row(w, name, b, a, verdict_text):
    cols = []
    for xs in (b, a):
        q1, med, q3 = quartiles(xs)
        cols.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}")
    print(f"{w:<10} {name:<26} {cols[0]:<34} {cols[1]:<34} {verdict_text}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<10} {'metric':<26} {'before median [q1, q3]':<34} "
          f"{'after median [q1, q3]':<34} verdict")
    gated = {m["name"] for m in bench["end_to_end"]}
    for w in [x["name"] for x in bench["workloads"]]:
        def values(runs, name):
            return [r[name]["value"] for r in runs.get((w, 0), []) if name in r]
        for m in bench["end_to_end"]:
            b, a = values(before, m["name"]), values(after, m["name"])
            if b and a:
                row(w, m["name"], b, a, verdict(b, a, m["better"], m["bound"]))
        names = sorted({k for r in before.get((w, 0), []) for k in r} - gated)
        for name in names:
            b, a = values(before, name), values(after, name)
            if not (b and a):
                continue
            unit = before[(w, 0)][0][name]["unit"]
            better = "higher" if unit.endswith("/s") else "lower"
            v = verdict(b, a, better, float("inf"))
            if v != "improved":
                v = "worse" if verdict(a, b, better, float("inf")) == "improved" else "no clear change"
            row(w, name, b, a, v)
        traced = [r["trace_overhead_frac"]["value"] for r in after.get((w, 1), [])
                  if "trace_overhead_frac" in r]
        if traced:
            print(f"{w:<10} {'trace_overhead_frac':<14} {statistics.median(traced):+.3f} "
                  f"(median of {len(traced)} traced runs)")


if __name__ == "__main__":
    main()
