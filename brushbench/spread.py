"""Steadiness check: run the benchmark once per seed and report, per
end-to-end metric, the median and the interquartile range as a share of
the median (``statistics.quantiles(values, n=4)``), next to the metric's
bound from BENCHMARK.json.

    python3 brushbench/spread.py --workload assembly --seeds 101-110

Run from the root of a checkout.  Every run's result and host lines are
appended to ``.bench_work/spread.jsonl`` so sets can be compared
afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

LOG = os.path.join(".bench_work", "spread.jsonl")

def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,5,9")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    declared = {m["name"] for m in
                bench["per_layer" if args.trace else "end_to_end"]}
    values: dict[str, list[float]] = {}
    ok = True
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed",
                                str(seed), "--seconds",
                                str(bench["run_seconds"]), "--trace",
                                str(args.trace)],
            capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines() or [""]
        last = lines[-1]
        host = {}
        for line in lines[:-1]:
            if line.startswith('{"workload"'):
                host = json.loads(line)["host"]
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = {"correct": False}
        names = set(res.get("metrics", {}))
        if names != declared:
            print(f"seed {seed}: metrics differ from BENCHMARK.json: "
                  f"{sorted(names ^ declared)}")
        ok &= p.returncode == 0 and res.get("correct", False) \
            and names == declared
        os.makedirs(os.path.dirname(LOG), exist_ok=True)
        with open(LOG, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "wall": wall, "rc": p.returncode,
                                 "host": host, "result": res}) + "\n")
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: rc={p.returncode} wall={wall:.1f}s "
              f"correct={res.get('correct')} failed={res.get('failed')} "
              f"host_parallel_s={host.get('host_parallel_s', 0):.2f} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res.get("metrics", {}).items()
                         if k in bounds), flush=True)
    for k, vs in values.items():
        if k not in bounds or len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median={statistics.median(vs):.4g} "
              f"iqr/median={(q3 - q1) / statistics.median(vs):.4f} "
              f"bound={bounds[k]}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
