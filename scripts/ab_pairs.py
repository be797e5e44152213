"""Interleaved A/B pairs of the benchmark of record between two checkouts.

    python scripts/ab_pairs.py PARENT CHANGE --workload geo_query_mix \
        --pairs 10 --seconds 6 [--seed0 N] [--out runs.json]

Runs `perfbench/run.py` from each checkout in turn, one pair per fresh
seed (both sides get the same seed), alternating which side runs first,
and parses each run's last JSON line.  For every end-to-end metric of
BENCHMARK.json (read, never written) it prints each side's median and
quartiles, the pairs each side won, whether a claimed gain would hold
(the change wins at least 9/10 of the pairs and the medians differ by
more than the parent's interquartile range) and whether the change stays
within the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import numpy as np


def summarize(parent, change, better: str, bound: float) -> dict:
    """Statistics of one metric over paired runs (parent[i] and change[i]
    ran on the same seed).  `better` is "lower" or "higher"; `bound` is
    the relative worsening BENCHMARK.json allows.

    claim: the change won >= 9/10 of the pairs (ties count for neither)
    and its median beats the parent's by more than the parent's IQR.
    within_bound: True when every change run beats every parent run;
    else None (unresolved) when the parent's IQR is wider than `bound`
    relative to its median; else whether the change's median is worse
    than the parent's by at most `bound`."""
    p = np.asarray(parent, dtype=np.float64)
    c = np.asarray(change, dtype=np.float64)
    sign = -1.0 if better == "lower" else 1.0
    gain = sign * (c - p)
    p_q = np.percentile(p, [25, 50, 75])
    c_q = np.percentile(c, [25, 50, 75])
    iqr = p_q[2] - p_q[0]
    gap = sign * (c_q[1] - p_q[1])        # > 0: the change is better
    scale = abs(p_q[1]) or 1.0
    wins_change = int((gain > 0).sum())
    if (sign * c).min() > (sign * p).max():
        within = True
    elif iqr / scale > bound:
        within = None
    else:
        within = bool(-gap / scale <= bound)
    return {"n": len(p),
            "parent": [float(x) for x in p_q],
            "change": [float(x) for x in c_q],
            "wins_change": wins_change,
            "wins_parent": int((gain < 0).sum()),
            "claim": bool(wins_change >= 0.9 * len(p) and gap > iqr),
            "within_bound": within,
            "rel_change": float((c_q[1] - p_q[1]) / scale)}


def run_once(checkout: str, workload: str, seed: int, seconds: float):
    """One benchmark run from `checkout`: the parsed last JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"perfbench failed in {checkout} (seed {seed})")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--seed0", type=int, default=None,
                    help="first seed (default: fresh, from the clock)")
    ap.add_argument("--out", default=None, help="write every run here")
    args = ap.parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    seed0 = args.seed0 if args.seed0 is not None else int(time.time()) % 90000
    runs = {"parent": [], "change": [], "seeds": []}
    for i in range(args.pairs):
        seed = seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            path = args.parent if side == "parent" else args.change
            runs[side].append(run_once(path, args.workload, seed,
                                       args.seconds))
        runs["seeds"].append(seed)
        print(f"pair {i + 1}/{args.pairs} seed {seed} done", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    print(f"{args.workload}: {args.pairs} pairs, seeds {seed0}.."
          f"{seed0 + args.pairs - 1}, --seconds {args.seconds}")
    print(f"{'metric':15} {'parent q1/med/q3':>32} {'change q1/med/q3':>32}"
          f" {'wins c:p':>8} {'rel':>7} claim bound")
    for m in metrics:
        name = m["name"]
        s = summarize([r["metrics"][name]["value"] for r in runs["parent"]],
                      [r["metrics"][name]["value"] for r in runs["change"]],
                      m["better"], m["bound"])
        fmt = " / ".join(f"{x:.4g}" for x in s["parent"])
        fmt_c = " / ".join(f"{x:.4g}" for x in s["change"])
        bound = {True: "ok", False: "WORSE", None: "unresolved"}[
            s["within_bound"]]
        print(f"{name:15} {fmt:>32} {fmt_c:>32} "
              f"{s['wins_change']:>3}:{s['wins_parent']:<4} "
              f"{s['rel_change']:+7.1%} {'yes' if s['claim'] else 'no':5} "
              f"{bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
