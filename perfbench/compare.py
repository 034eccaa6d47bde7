#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

Usage: python3 perfbench/compare.py <base_dir> <change_dir>

Each directory holds run records as perfbench/run.py writes them into
.bench_build/results/ (copy them aside between the two commits). For each
workload and end-to-end metric of BENCHMARK.json it prints both sides'
median and quartiles, the fraction of seed-matched pairs the change wins,
and a verdict:

  improved      the change wins at least 9 in 10 pairs and the medians
                differ by more than the base's own quartile spread;
  regressed     the change's median is worse than the base's by more than
                the metric's bound;
  unresolved    the base's quartile spread is wider than the bound, so a
                worsening within it cannot be ruled out (unless every
                change run beats every base run, which reads as improved);
  within bound  otherwise;
  failed        the change's runs failed more calls or checks than the
                base's (each side's failed/attempted count is printed);
                a change that breaks outputs is never "improved".

From traced runs it then prints each layer's counter medians side by side,
labelled "work changed" when a work counter moved (jobs, tasks, shuffle,
spill or write bytes) and "wall only" when only times moved.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ["jobs", "tasks", "shuffle_bytes", "spill_bytes", "write_bytes"]


def load(d):
    """{(workload, trace): [record, ...]} sorted by seed."""
    out = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if "metrics" in r and "stamp" in r and "failed" in r:
            out.setdefault((r["workload"], r["stamp"]["trace"]), []).append(r)
    for v in out.values():
        v.sort(key=lambda r: r["stamp"]["seed"])
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def verdict(base, change, better, bound, pairs):
    sign = 1 if better == "lower" else -1
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    spread = q3 - q1
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    gain = sign * (mb - mc)
    if all(sign * (b - c) > 0 for b in base for c in change):
        return "improved", win_frac
    if win_frac >= 0.9 and gain > spread:
        return "improved", win_frac
    if -gain > bound * abs(mb):
        return "regressed", win_frac
    if spread > bound * abs(mb):
        return "unresolved", win_frac
    return "within bound", win_frac


def pair(base, change):
    """Pairs matched by seed; unmatched runs are paired in order."""
    bs = {r["stamp"]["seed"]: r for r in base}
    cs = {r["stamp"]["seed"]: r for r in change}
    common = sorted(set(bs) & set(cs))
    if common:
        return [(bs[s], cs[s]) for s in common]
    return list(zip(base, change))


def main(base_dir, change_dir):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    base, change = load(base_dir), load(change_dir)
    print(f"{'workload':<10} {'metric':<14} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins':>6}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        b, c = base.get((w, 0), []), change.get((w, 0), [])
        if not b or not c:
            print(f"{w:<10} (no untraced runs on {'both sides' if not b and not c else 'one side'})")
            continue
        pairs = pair(b, c)
        fails = [(sum(r["failed"] for r in x), sum(r["attempted"] for r in x))
                 for x in (b, c)]
        print(f"{w:<10} {'failed':<14} {'%d of %d' % fails[0]:>30} "
              f"{'%d of %d' % fails[1]:>30}")
        broken = fails[1][0] > fails[0][0]
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["metrics"][name] for r in b]
            cv = [r["metrics"][name] for r in c]
            pv = [(x["metrics"][name], y["metrics"][name]) for x, y in pairs]
            v, wf = verdict(bv, cv, m["better"], m["bound"], pv)
            if broken:
                v = "failed"
            bq, cq = quartiles(bv), quartiles(cv)
            print(f"{w:<10} {name:<14} "
                  f"{statistics.median(bv):>12.4g} [{bq[0]:.4g}, {bq[1]:.4g}]"
                  f"{statistics.median(cv):>12.4g} [{cq[0]:.4g}, {cq[1]:.4g}]"
                  f" {wf:>6.2f}  {v}  (n={len(bv)}/{len(cv)})")
    layers = sorted({k.rsplit(".", 1)[0] for x in spec["per_layer"]
                     for k in [x["name"]] if k.endswith(".wall_s")} - {"plan"})
    print()
    for w in [x["name"] for x in spec["workloads"]]:
        b, c = base.get((w, 1), []), change.get((w, 1), [])
        if not b or not c:
            continue
        for L in layers:
            def med(rs, k):
                return statistics.median(r["layer_metrics"].get(f"{L}.{k}", 0) for r in rs)
            if med(b, "wall_s") == 0 and med(c, "wall_s") == 0:
                continue
            moved = [k for k in WORK
                     if abs(med(c, k) - med(b, k)) > 0.01 * max(abs(med(b, k)), 1)]
            label = "work changed" if moved else "wall only"
            cols = " ".join(f"{k}={med(b, k):.4g}->{med(c, k):.4g}"
                            for k in ["wall_s", "self_s", "gap_s"] + WORK)
            print(f"{w:<10} {L:<16} {label:<13} {cols}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
