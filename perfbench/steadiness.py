"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --seeds 10 --out perfbench/results/set1.json
    python3 perfbench/steadiness.py --seeds 1 --trace --out perfbench/results/trace.json

Each run is a separate ``run.py`` process with its own seed.  For every
workload and end-to-end metric the output holds the ten values, their
median and quartiles (``statistics.quantiles(values, n=4)``) and the
spread: the interquartile distance as a share of the median, the figure
a metric's bound in BENCHMARK.json is checked against.  With
``--trace`` the runs are traced and the output holds the per-layer
metrics instead; given ``--baseline`` (an untraced output) it also
reports the tracing overhead, traced ``trace.pass_s`` minus the
untraced median ``pass_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS, spec  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    detail = next(
        (json.loads(ln.split(" ", 1)[1]) for ln in lines if ln.startswith("perfbench-detail ")), {}
    )
    return {"seed": seed, "run_wall_s": wall, "result": json.loads(lines[-1]), "detail": detail}


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "values": values, "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--baseline", help="untraced output to compute the tracing overhead against")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    report = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r = run_once(wl, seed, args.seconds, args.trace)
            runs.append(r)
            m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            print(f"{wl} seed {seed}: {r['run_wall_s']:.1f} s, correct={r['result']['correct']} "
                  f"steal={r['detail'].get('host_steal_pct', 0):.2f}% {m}", flush=True)
        names = list(runs[0]["result"]["metrics"])
        entry = {
            "runs": [
                {"seed": r["seed"], "run_wall_s": r["run_wall_s"],
                 "correct": r["result"]["correct"], "attempted": r["result"]["attempted"],
                 "failed": r["result"]["failed"],
                 "host_steal_pct": r["detail"].get("host_steal_pct"),
                 "pass_s": [p["pass_s"] for p in r["detail"].get("passes", [])],
                 "pass_cpu_s": [sum(p["cpu"].values()) for p in r["detail"].get("passes", [])],
                 "key_s": [p["key_s"] for p in r["detail"].get("passes", [])],
                 "failures": r["detail"].get("failures", [])}
                for r in runs
            ],
            "metrics": {
                n: summarize([r["result"]["metrics"][n]["value"] for r in runs]) for n in names
            },
        }
        if not args.trace:
            bounds = {n: m["bound"] for n, m in spec()["end_to_end"].items()}
            for n, s in entry["metrics"].items():
                s["bound"] = bounds[n]
                s["within_third_of_bound"] = s["spread"] < bounds[n] / 3
        elif args.baseline:
            with open(args.baseline) as fh:
                base = json.load(fh)["workloads"][wl]["metrics"]["pass_s"]["median"]
            traced = entry["metrics"]["trace.pass_s"]["median"]
            entry["tracing_overhead_s"] = traced - base
            entry["untraced_pass_s"] = base
        report["workloads"][wl] = entry
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    for wl, e in report["workloads"].items():
        spreads = {n: round(s["spread"], 4) for n, s in e["metrics"].items()}
        print(f"{wl}: spreads {spreads}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
