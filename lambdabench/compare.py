#!/usr/bin/env python3
"""Compare two sets of lambda-benchmark runs (parent vs change).

    python3 lambdabench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a results directory that run.py filled (one JSON record
per run, `<build dir>/results/` by default). For every workload and
metric it prints each side's median and quartiles
(`statistics.quantiles(n=4)`), the change's relative move, and the
pairwise win fraction: runs are paired by seed when both sides ran the
same seeds, otherwise in run order, and a pair is a win when the change
is better (ties count for neither). Untraced runs compare the end-to-end
metrics and the workload's own table; traced runs compare the per-layer
rollup, and any per-layer count (jobs, stages, tasks, files, bytes,
shuffle or output bytes, exchanges) whose median rose is flagged.

Verdicts follow the benchmark's rules: `gain` needs >= 9/10 pair wins
and a median move larger than the parent's own quartile spread;
`worse` is a move past the metric's bound (end-to-end metrics only);
`unresolved` is a parent spread wider than the bound.
"""
import glob
import json
import os
import statistics
import sys

# per-call counts flagged when they rise (`calls` counts the window's
# calls, so it follows speed and has no better side)
COUNTS = ("jobs", "stages", "tasks", "files", "bytes", "shuffle_bytes", "output_bytes",
          "exchanges")


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        try:
            recs.append(json.load(open(p)))
        except ValueError:
            continue
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def direction(name, unit, spec):
    """+1 when higher is better, -1 when lower is, 0 when neither."""
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        if m["name"] == name:
            return 1 if m["better"] == "higher" else -1
    leaf = name.rsplit(".", 1)[-1]
    if unit in ("1/s", "ratio") or leaf in ("useful_ratio", "route_local"):
        return 1
    if unit in ("s", "ms", "MB") or leaf.endswith(("_s", "_ms", "_bytes")) or leaf in COUNTS \
            or leaf == "runs":
        return -1
    return 0


def metrics_of(rec):
    """name -> (value, unit) for one run record."""
    if rec["trace"]:
        return {k: (v, "") for k, v in rec.get("rollup", {}).items()}
    out = {k: (v["value"], v["unit"]) for k, v in rec["e2e"].items()}
    out.update({f"table.{k}": (v["value"], v["unit"]) for k, v in rec.get("table", {}).items()})
    return out


def pairs(a, b):
    seeds = sorted({r["seed"] for r in a} & {r["seed"] for r in b})
    if seeds:
        by = lambda rs: {r["seed"]: r for r in rs}  # noqa: E731
        pa, pb = by(a), by(b)
        return [(pa[s], pb[s]) for s in seeds]
    return list(zip(sorted(a, key=lambda r: r["time"]), sorted(b, key=lambda r: r["time"])))


def main(parent_dir, change_dir, spec_path):
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else {}
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    parent, change = load(parent_dir), load(change_dir)
    groups = sorted({(r["workload"], r["trace"]) for r in parent + change})
    for wl, tr in groups:
        a = [r for r in parent if (r["workload"], r["trace"]) == (wl, tr)]
        b = [r for r in change if (r["workload"], r["trace"]) == (wl, tr)]
        if not a or not b:
            print(f"\n== {wl} trace={tr}: only one side ran ({len(a)} vs {len(b)})")
            continue
        print(f"\n== {wl} trace={tr}: {len(a)} parent runs, {len(b)} change runs")
        print(f"{'metric':<58} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
              f" {'move':>8} {'wins':>6}  verdict")
        names = sorted(set().union(*[metrics_of(r) for r in a + b]))
        for n in names:
            va = [metrics_of(r)[n][0] for r in a if n in metrics_of(r)]
            vb = [metrics_of(r)[n][0] for r in b if n in metrics_of(r)]
            va = [v for v in va if isinstance(v, (int, float))]
            vb = [v for v in vb if isinstance(v, (int, float))]
            if not va or not vb:
                continue
            unit = next((metrics_of(r)[n][1] for r in a if n in metrics_of(r)), "")
            d = direction(n, unit, spec)
            qa, qb = quartiles(va), quartiles(vb)
            move = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            wins = total = 0
            for ra, rb in pairs(a, b):
                x, y = metrics_of(ra).get(n, (None,))[0], metrics_of(rb).get(n, (None,))[0]
                if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                    total += 1
                    wins += d != 0 and (y - x) * d > 0
            verdict = ""
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            if n in bounds and spread > bounds[n]:
                verdict = "unresolved"
            elif d and total and wins >= 0.9 * total and abs(qb[1] - qa[1]) > qa[2] - qa[0] \
                    and (qb[1] - qa[1]) * d > 0:
                verdict = "gain"
            elif n in bounds and d and -move * d > bounds[n]:
                verdict = "worse"
            if tr and n.rsplit(".", 1)[-1] in COUNTS and qb[1] > qa[1]:
                verdict = (verdict + " ROSE").strip()
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"  # noqa: E731
            print(f"{n:<58} {fmt(qa):>30} {fmt(qb):>30} {move:>+8.1%} "
                  f"{(f'{wins}/{total}' if d else '-'):>6}  {verdict}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2],
         os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "BENCHMARK.json"))
