#!/usr/bin/env python3
"""Compare two sets of benchmark results, parent against change.

    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds the result files that perfbench/run.py leaves under
.bench_build/results. For every workload it prints each side's incorrect
runs and failed ops, then for every end-to-end metric of BENCHMARK.json each
side's median and quartiles over its correct runs, the share of (parent,
change) run pairs the change wins, and a verdict: improved, no worse, worse,
or unresolved when the run-to-run spread is wider than the metric's bound.
A change that fails a larger share of its runs or of its ops than the parent
is worse on every metric of that workload, whatever its timings. Runs are
paired in seed order. It also prints the op tail of the pooled op samples of
each side, with the percentile used.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def load(d):
    """The untraced runs of a result directory by workload, in seed order."""
    runs = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["seed"])
    return runs


def failures(runs):
    """(incorrect runs, runs, failed ops, attempted ops) of one side."""
    return (sum(1 for r in runs if not r["correct"]), len(runs),
            sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs))


def fails_more(parent, change):
    """Whether the change fails a larger share of its runs or of its ops."""
    pi, pn, pf, pa = failures(parent)
    ci, cn, cf, ca = failures(change)
    return ci / cn > pi / pn or cf / ca > pf / pa


def compare(bench, p, c):
    """Rows for one workload from its parent runs `p` and change runs `c`:
    first (None, parent failures, change failures, None, verdict), then per
    end-to-end metric (metric, parent values, change values, win share,
    verdict). Metric values come from the correct runs only."""
    worse = fails_more(p, c)
    rows = [(None, failures(p), failures(c), None, "worse" if worse else "no worse")]
    pc = [r for r in p if r["correct"]]
    cc = [r for r in c if r["correct"]]
    for m in bench["end_to_end"]:
        pv = [r["metrics"][m["name"]]["value"] for r in pc]
        cv = [r["metrics"][m["name"]]["value"] for r in cc]
        if pv and cv:
            v, wins = stats.verdict(pv, cv, m["bound"], m["better"])
        else:
            v, wins = "unresolved", 0.0
        rows.append((m["name"], pv, cv, wins, "worse" if worse else v))
    return rows


def tail(runs):
    t = stats.tail_percentile([s for r in runs if r["correct"] for s in r["op_samples"]])
    return f"p{t[0]:g} {t[1]:.4f}" if t else "n/a"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    parent, change = load(argv[1]), load(argv[2])
    fmt = lambda xs: "/".join(f"{q:.4g}" for q in stats.quartiles(xs)) if xs else "n/a"
    fails = lambda f: f"{f[0]}/{f[1]} runs, {f[2]}/{f[3]} ops"
    print(f"{'workload':<11} {'metric':<17} {'parent q1/med/q3':>26} "
          f"{'change q1/med/q3':>26} {'wins':>5}  verdict")
    for w in [w["name"] for w in bench["workloads"]]:
        if not parent.get(w) or not change.get(w):
            print(f"{w:<11} (no runs on one side)")
            continue
        for m, pv, cv, wins, v in compare(bench, parent[w], change[w]):
            if m is None:
                print(f"{w:<11} {'failed':<17} {fails(pv):>26} {fails(cv):>26} {'':>5}  {v}")
            else:
                print(f"{w:<11} {m:<17} {fmt(pv):>26} {fmt(cv):>26} {wins:>5.0%}  {v}")
        print(f"{w:<11} {'op tail (pooled)':<17} {tail(parent[w]):>26} "
              f"{tail(change[w]):>26}")


if __name__ == "__main__":
    main(sys.argv)
