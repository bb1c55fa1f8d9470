"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload crawl_filter --seeds 1-10

Runs ``run.py`` once per seed (sequentially, untraced) and prints, per
metric, the median and the interquartile distance as a share of the
median (``statistics.quantiles(n=4)``), next to the bound in
BENCHMARK.json. Each run's raw result line is appended to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench.stats import iqr_share  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None, help="append raw result lines here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = list(bench["command"]) + ["--workload", args.workload, "--seed", str(seed),
                                        "--seconds", str(bench["run_seconds"]),
                                        "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **result}) + "\n")
        host = lines[-2] if len(lines) > 1 else ""
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              f"{host} " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        spread = iqr_share(xs) if len(xs) >= 2 else 0.0
        print(f"{k:24s} median {statistics.median(xs):10.4g}  "
              f"iqr/median {spread:.4f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
