"""Steadiness and A/B helper: run one workload k times and summarise.

    python3 perfbench/steady.py --workload pipeline-schedule --runs 10
    python3 perfbench/steady.py --workload query-mix --runs 10 --ab ../parent-checkout

Each run is ``perfbench/run.py`` with its own seed (``--seed0``,
``--seed0 + 1``, ...). For every metric, and for the latencies
``op_p50_s`` and ``wall_s`` and the CPU figures ``cpu_s`` and ``jit_s``
of the configuration record, it
prints the median, the first and third quartile
(``statistics.quantiles(n=4)``), the spread ``(q3 - q1) / median`` and,
for end-to-end metrics, that spread against the metric's bound in
``BENCHMARK.json``.

With ``--ab DIR`` every seed runs on both checkouts, ``DIR`` (the parent)
and this one (the change), alternating which goes first, and the summary
adds each side's medians and how many pairs the change won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Recorded in every configuration record, not bounded.
LATENCIES = ("op_p50_s", "wall_s", "cpu_s", "jit_s")


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    config, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    for k in LATENCIES:
        result["metrics"][k] = {"value": config[k], "unit": "s"}
    return result


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--ab", metavar="DIR", help="parent checkout to pair each run with")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    better.update(dict.fromkeys(LATENCIES, "lower"))

    sides = {"change": ROOT} if not args.ab else {"parent": os.path.abspath(args.ab), "change": ROOT}
    runs: dict[str, list[dict]] = {k: [] for k in sides}
    for i in range(args.runs):
        seed = args.seed0 + i
        order = list(sides) if i % 2 == 0 else list(reversed(sides))
        for side in order:
            res = run_once(sides[side], args.workload, seed, seconds, args.trace)
            runs[side].append(res)
            print(f"# {side} seed={seed} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)

    report: dict = {"workload": args.workload, "runs": args.runs, "metrics": {}}
    for name in runs["change"][0]["metrics"]:
        row = {}
        for side, rs in runs.items():
            row[side] = summarise([r["metrics"][name]["value"] for r in rs])
        if name in bounds:
            row["bound"] = bounds[name]["bound"]
            row["spread_vs_bound"] = row["change"]["spread"] / row["bound"]
        if args.ab and name in better:
            sign = 1 if better[name] == "lower" else -1
            pairs = zip(runs["parent"], runs["change"])
            row["change_wins"] = sum(
                sign * (pa["metrics"][name]["value"] - ch["metrics"][name]["value"]) > 0
                for pa, ch in pairs
            )
        report["metrics"][name] = row
        line = f"{name:48s}"
        for side in runs:
            s = row[side]
            line += (f" {side}: median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                     f"spread={s['spread']:.3f}")
        if "bound" in row:
            line += f" bound={row['bound']} spread/bound={row['spread_vs_bound']:.2f}"
        if "change_wins" in row:
            line += f" wins={row['change_wins']}/{args.runs}"
        print(line)
    report["all_correct"] = all(r["correct"] for rs in runs.values() for r in rs)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
