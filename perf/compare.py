#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perf/compare.py BASE CHANGE

BASE and CHANGE are directories holding the result files `perf/run.py`
writes (`perf/results/<workload>/*.json`, searched recursively), for the
parent commit and the change. For every workload and metric it prints
each side's median and quartiles, the share of paired runs the change
won, and a verdict:

  improved    the change won at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the base's own
              quartile distance;
  worse       the change's median is worse than the base's by more than the
              metric's bound in BENCHMARK.json;
  unresolved  the run-to-run spread (quartile distance over median) of
              either side exceeds the bound, so neither of the above can
              be told from noise, unless every change run beats every base
              run;
  unchanged   otherwise.

An "improved" verdict becomes "unresolved (more failures)" when the change
failed more query executions than the base.

Runs pair by seed when both sides ran the same seeds (repeats of one seed
pair by position), and by position in seed order otherwise; only runs that
report the metric take part. Per-layer metrics (from `--trace 1` runs) have no
bound: they are listed with medians and pair wins only.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(root):
    """{(workload, trace): [record, ...]} from every result file under root."""
    runs = {}
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if not f.endswith(".json"):
                continue
            rec = json.load(open(os.path.join(d, f)))
            if "metrics" in rec and "workload" in rec:
                key = (rec["workload"], rec["trace"])
                runs.setdefault(key, []).append(rec)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(base, change):
    """Runs paired by seed when both sides ran the same seeds (repeats of a
    seed pair by position within it), otherwise by position in seed order."""
    bs = sorted(base, key=lambda r: r["seed"])
    cs = sorted(change, key=lambda r: r["seed"])
    if {r["seed"] for r in bs} == {r["seed"] for r in cs}:
        by_seed = {}
        for r in cs:
            by_seed.setdefault(r["seed"], []).append(r)
        seen = {}
        out = []
        for b in bs:
            i = seen[b["seed"]] = seen.get(b["seed"], -1) + 1
            if i < len(by_seed[b["seed"]]):
                out.append((b, by_seed[b["seed"]][i]))
        return out
    return list(zip(bs, cs))


def verdict(b, c, won, n_pairs, bound, lower_better, all_better):
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    if bound is None:
        return "-"
    spread = max((bq3 - bq1) / bmed if bmed else 0.0,
                 (cq3 - cq1) / cmed if cmed else 0.0)
    worse_by = (cmed - bmed) if lower_better else (bmed - cmed)
    if n_pairs and won >= 0.9 * n_pairs and abs(cmed - bmed) > bq3 - bq1 \
            and worse_by < 0:
        return "improved"
    if spread > bound:
        return "unchanged (every run better)" if all_better else "unresolved"
    if bmed and worse_by > bound * abs(bmed):
        return "worse"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])

    def cell(q):
        return f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]"

    print(f"{'workload/metric':40} {'base median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} {'won':>7}  verdict")
    for key in sorted(set(base) & set(change)):
        wl, _ = key
        ps = pairs(base[key], change[key])
        if len(ps) < 10:
            print(f"# {wl}: only {len(ps)} pairs; a claim needs at least 10")
        fb = sum(r["failed"] for r in base[key])
        fc = sum(r["failed"] for r in change[key])
        names = base[key][0]["metrics"].keys()
        for name in names:
            m = spec.get(name, {})
            lower = m.get("better", "lower") == "lower"
            bs = [r for r in base[key] if name in r["metrics"]]
            cs = [r for r in change[key] if name in r["metrics"]]
            if not cs:
                continue
            ps = pairs(bs, cs)
            b = [r["metrics"][name]["value"] for r in bs]
            c = [r["metrics"][name]["value"] for r in cs]
            won = sum(1 for x, y in ps
                      if (y["metrics"][name]["value"] < x["metrics"][name]["value"])
                      == lower and y["metrics"][name]["value"]
                      != x["metrics"][name]["value"])
            all_better = (max(c) < min(b)) if lower else (min(c) > max(b))
            v = verdict(b, c, won, len(ps), m.get("bound"), lower, all_better)
            if v == "improved" and fc > fb:
                v = "unresolved (more failures)"
            print(f"{wl + '/' + name:40} {cell(quartiles(b)):34} "
                  f"{cell(quartiles(c)):34} {won:>3}/{len(ps):<3}  {v}")
        print(f"{wl + '/failed':40} {fb} of {sum(r['attempted'] for r in base[key])}"
              f" vs {fc} of {sum(r['attempted'] for r in change[key])}"
              + ("  (more failures: no gain counts)" if fc > fb else ""))


if __name__ == "__main__":
    main()
