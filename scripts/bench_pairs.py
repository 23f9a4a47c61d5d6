"""Compare two checkouts on the benchmark as interleaved pairs of runs.

    python scripts/bench_pairs.py --parent ../parent --change . \\
        --workload serve_and_publish --pairs 10 --first-seed 31

Pair ``i`` runs ``perfbench/run.py --workload W --seed first_seed+i
--seconds S --trace 0`` once in each checkout, the parent first on even
pairs and the change first on odd ones, with the same ``--seconds`` on
both sides (default: ``run_seconds`` of the change's BENCHMARK.json).
It prints every metric of each run as JSON, each pair's end-to-end
metrics (those BENCHMARK.json names, plus ``fail_frac``), then per
metric each side's median and quartiles, the change's wins, how much
worse its median is than the parent's against the metric's bound, and
whether a gain may be claimed: the change wins at least nine tenths of
the pairs (ties count for neither) and its median is better than the
parent's by more than the parent's interquartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs) -> tuple[float, float, float]:
    """(Q1, median, Q3) of the values, by `statistics.quantiles`' default
    (exclusive) method; one value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def summarize(pairs, metrics) -> list[dict]:
    """Per metric, the comparison of ``pairs``, a list of (parent run,
    change run) dicts of metric values. ``metrics`` lists (name, better,
    bound): better is "lower" or "higher", bound the fraction by which
    the change's median may be worse than the parent's (None: unbounded)."""
    rows = []
    for name, better, bound in metrics:
        sign = 1.0 if better == "lower" else -1.0  # sign * value: lower is better
        parent = [p[name] for p, _ in pairs]
        change = [c[name] for _, c in pairs]
        wins = sum(sign * c < sign * p for p, c in zip(parent, change))
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(parent), quartiles(change)
        worse = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
        rows.append(
            {
                "metric": name,
                "parent": (pq1, pmed, pq3),
                "change": (cq1, cmed, cq3),
                "wins": wins,
                "pairs": len(pairs),
                "worse_frac": worse,
                "within_bound": bound is None or worse <= bound,
                "claim": 10 * wins >= 9 * len(pairs) and sign * (pmed - cmed) > pq3 - pq1,
            }
        )
    return rows


def run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``: its `metric` lines as a dict."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]  # fmt: skip
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if out.returncode:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return {
        parts[1]: float(parts[2])
        for parts in (line.split() for line in out.stdout.splitlines())
        if len(parts) == 4 and parts[0] == "metric"
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]] + [("fail_frac", "lower", None)]

    pairs = []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run(getattr(args, side), args.workload, seed, seconds)
            print(f"run {side} seed {seed} {json.dumps(got[side])}", flush=True)
        pairs.append((got["parent"], got["change"]))
        cells = "  ".join(f"{n} {got['parent'][n]:.4g}/{got['change'][n]:.4g}" for n, _, _ in metrics)
        print(f"pair {i + 1} seed {seed} {order[0]} first  parent/change: {cells}", flush=True)

    print(f"\n{args.workload}, {len(pairs)} pairs, --seconds {seconds:g}")
    for r in summarize(pairs, metrics):
        (pq1, pmed, pq3), (cq1, cmed, cq3) = r["parent"], r["change"]
        print(
            f"{r['metric']:<20} parent {pmed:.4g} (Q1 {pq1:.4g}, Q3 {pq3:.4g})  change {cmed:.4g} "
            f"(Q1 {cq1:.4g}, Q3 {cq3:.4g})  wins {r['wins']}/{r['pairs']}  worse {100 * r['worse_frac']:+.1f}% "
            f"{'within' if r['within_bound'] else 'OUTSIDE'} bound  claim {'holds' if r['claim'] else 'fails'}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
