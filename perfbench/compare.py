#!/usr/bin/env python3
"""Compare two sets of benchmark runs (stdlib only).

    python3 perfbench/compare.py <parent_results> <change_results>

Each argument is a results directory that run.py wrote (--results):
`summary-<workload>-seed<n>-trace<t>.json` files and, from traced runs,
`trace-<workload>-seed<n>.json` span files. For every workload and
end-to-end metric it prints each side's median and quartiles, and how
many seed-matched pairs the change wins. Under the nine-in-ten rule a
side wins only if it takes at least 90% of the pairs. A metric whose
spread (inter-quartile distance over median) exceeds its bound in
BENCHMARK.json on either side is marked "unresolved". Then it prints
the per-layer self-time deltas from the two sets of traces.
"""
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

NAME = re.compile(r"summary-(?P<w>.+)-seed(?P<s>\d+)-trace(?P<t>[01])\.json$")
TRACE = re.compile(r"trace-(?P<w>.+)-seed(?P<s>\d+)\.json$")


def load_runs(results_dir):
    """{workload: {seed: end-to-end metrics}} from the untraced summaries."""
    runs = {}
    for path in glob.glob(os.path.join(results_dir, "summary-*.json")):
        m = NAME.search(os.path.basename(path))
        if m and m["t"] == "0":
            runs.setdefault(m["w"], {})[int(m["s"])] = json.load(open(path))["end_to_end"]
    return runs


def load_self_times(results_dir):
    """{workload: {layer: self seconds per traced pass}}, averaged over trace files."""
    acc = {}
    for path in glob.glob(os.path.join(results_dir, "trace-*.json")):
        m = TRACE.search(os.path.basename(path))
        spans = json.load(open(path))
        roots = [s["label"] for s in spans if s["name"] == "query"]
        if not m or not roots:
            continue
        n_passes = len(roots) / len(set(roots))
        by_layer = stats.self_time_by_layer(spans)
        acc.setdefault(m["w"], []).append({k: v / n_passes for k, v in by_layer.items()})
    return {w: {k: sum(t.get(k, 0.0) for t in ts) / len(ts) for k in set().union(*ts)}
            for w, ts in acc.items()}


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    parent, change = load_runs(argv[0]), load_runs(argv[1])
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        print(f"== {w}: {len(parent[w])} parent runs, {len(change[w])} change runs, "
              f"{len(seeds)} seed-matched pairs")
        print(f"  {'metric':<14} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
              f"{'delta':>8} {'wins':>7}  verdict")
        for name, m in metrics.items():
            a = [r[name] for r in parent[w].values() if name in r]
            b = [r[name] for r in change[w].values() if name in r]
            if not a or not b:
                continue
            qa, qb = stats.quartiles(a), stats.quartiles(b)
            wins, n = stats.pair_wins([parent[w][s][name] for s in seeds],
                                      [change[w][s][name] for s in seeds], m["better"])
            if max(stats.spread(a), stats.spread(b)) > m["bound"]:
                verdict = "unresolved"
            elif stats.nine_in_ten(wins, n):
                verdict = "change wins"
            elif stats.nine_in_ten(n - wins, n):
                verdict = "parent wins"
            else:
                verdict = "no winner"
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"  {name:<14} {fmt.format(*qa):>28} {fmt.format(*qb):>28} "
                  f"{(qb[1] / qa[1] - 1) * 100 if qa[1] else 0:+7.1f}% {wins:>3}/{n:<3}  {verdict}")
    sa, sb = load_self_times(argv[0]), load_self_times(argv[1])
    for w in sorted(set(sa) & set(sb)):
        print(f"== {w}: self time per traced pass, by layer")
        for layer in sorted(set(sa[w]) | set(sb[w])):
            x, y = sa[w].get(layer, 0.0), sb[w].get(layer, 0.0)
            print(f"  {layer:<18} {x:10.4f} s -> {y:10.4f} s  {y - x:+10.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
