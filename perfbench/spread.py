"""Run every workload (or those named) once per seed, print each run's
metrics by name with their units, then each end-to-end metric's median and
spread (interquartile range as a share of the median) against the bounds in
BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1 2 3 4 5 [--workloads lake_rw] [--out runs.jsonl]

Runs one after another from the repository root; each run's JSON line and
provenance are appended to ``--out`` when given. Exits 1 when a spread is
not below a third of its bound, or a run failed a check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import iqr_share, median  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    ok = True
    for workload in args.workloads:
        values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            if args.out:
                prov = next((json.loads(line.split(" ", 1)[1]) for line in lines
                             if line.startswith("provenance ")), None)
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed, **res,
                                        "provenance": prov}) + "\n")
            ok &= res["failed"] == 0
            print(f"{workload} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            for line in lines:
                if line.startswith(("metric ", "FAILED ")):
                    print("  " + line, flush=True)
            for name in values:
                values[name].append(res["metrics"][name]["value"])
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            spread = iqr_share(v) if len(v) >= 2 else float("nan")
            steady = spread < m["bound"] / 3
            ok &= steady
            print(f"{workload} {m['name']:<16} median={median(v):.4g} {m['unit']} "
                  f"spread={spread:.3f} bound={m['bound']} {'ok' if steady else 'NOT STEADY'}",
                  flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
