"""Steadiness report: run workloads repeatedly and compare each
end-to-end metric's spread with its bound from ``BENCHMARK.json``.

    python3 perfbench/steady.py                       # every workload, seeds 1..10
    python3 perfbench/steady.py --workloads query_mix --seeds 1 2 3 4 5
    python3 perfbench/steady.py --overhead            # also traced runs: tracing overhead

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. The
benchmark is steady when every spread stays under a third of its
bound. With ``--overhead`` every seed also runs traced,
and the report gives the traced median minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if trace:
        # the traced run's own end-to-end numbers
        with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace1.json")) as f:
            result["e2e"] = json.load(f)["e2e"]
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    steady = True
    for wl in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(wl, seed, args.seconds, 0)
            runs.append(r)
            print(f"{wl} seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        rows = {}
        print(f"\n{wl}: {len(runs)} runs")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            ok = sp < bound / 3
            steady &= ok
            rows[name] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound}
            print(f"  {name:16s} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.2%} {bound:6.2f}"
                  + ("" if ok else "  <- above a third of the bound"))
        report[wl] = {"e2e": rows, "failed": sum(r["failed"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs)}
        if args.overhead:
            traced = [run_once(wl, seed, args.seconds, 1)["e2e"] for seed in args.seeds]
            print("  tracing overhead (traced median - untraced median):")
            report[wl]["overhead"] = {}
            for name in bounds:
                diff = statistics.median(t[name] for t in traced) - rows[name]["median"]
                report[wl]["overhead"][name] = diff
                print(f"    {name:16s} {diff:+.5g} ({diff / rows[name]['median']:+.1%})")
        print()
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("steady" if steady else "NOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
