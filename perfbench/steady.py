"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile distance as a share of the median).

    python3 perfbench/steady.py --workloads ingest,catalog_api,analytics \\
        --seeds 10 [--first-seed 1] [--seconds 10]

Runs one workload at a time, in order, from the checkout root. The table
goes to standard output; the raw records go to
``.perfbench_out/steady-<first-seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="ingest,catalog_api,analytics")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    records: dict[str, list[dict]] = {}
    for workload in args.workloads.split(","):
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = bench["command"] + [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "0",
            ]
            proc = subprocess.run(
                cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            record = json.loads(lines[-1]) if lines else None
            if proc.returncode != 0 or record is None or not record["correct"]:
                print(f"{workload} seed {seed}: run failed (exit {proc.returncode})")
                return 1
            records.setdefault(workload, []).append(record)
            print(f"{workload} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in record["metrics"].items()
            ), flush=True)
    print(f"{'workload':12s} {'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for workload, recs in records.items():
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in recs]
            flag = "" if spread(values) <= bounds[name] / 3 else "  > bound/3"
            print(
                f"{workload:12s} {name:16s} {statistics.median(values):12.4f} "
                f"{spread(values):8.4f} {bounds[name]:6.2f}{flag}"
            )
    out = os.path.join(CHECKOUT, ".perfbench_out", f"steady-{args.first_seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(records, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
