"""Run one workload on several seeds and print each end-to-end metric's
median and quartile spread (distance between the first and third quartile
as a share of the median), the figure the bounds in BENCHMARK.json are
held to.

    python3 perfbench/spread.py --workload search --seeds 1-10

Run from the root of a checkout. Each run's last line is appended to
``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def relative_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    log = os.path.join(os.getcwd(), ".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed)]
        cmd += ["--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines else {}
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "rc": out.returncode, **last}) + "\n")
        if out.returncode or not last.get("correct"):
            print(f"seed {seed}: rc={out.returncode}", "\n".join(lines[-5:]), out.stderr[-2000:])
            return 1
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        got = {k: round(v["value"], 4) for k, v in last["metrics"].items()}
        print(f"seed {seed} ({wall:.0f} s):", got, flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        spread = relative_spread(vs) if len(vs) > 1 else 0.0
        flag = "" if spread < bounds[k] / 3 else "  <-- above a third of the bound"
        print(f"{k}: median {statistics.median(vs):.6g} spread {spread:.4f} bound {bounds[k]}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
