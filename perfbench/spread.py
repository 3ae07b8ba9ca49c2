"""Run the benchmark once per seed and report each metric's median and
quartile spread (IQR as a share of the median, from
``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload batch --seeds 1-10

Each run's result line is appended to ``--log`` (JSON lines), so a
later reader can recompute the figures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0, "n": len(values)}
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--log", default=os.path.join(ROOT, ".perfbench", "spread.jsonl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = str(spec["run_seconds"])
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    results = []
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed), "--seconds", seconds, "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        with open(args.log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(seed, res["correct"], {k: round(v["value"], 4) for k, v in res["metrics"].items()}, flush=True)
    for name, s in summarise(results).items():
        print(f"{name:28s} median {s['median']:.4f}  iqr/median {s['iqr_share']:.4f}  n={s['n']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
