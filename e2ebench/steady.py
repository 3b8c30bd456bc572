"""Steadiness check: run one workload under several seeds and report,
per end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median (``statistics.quantiles(v, n=4)``).

    python3 e2ebench/steady.py --workload etl_batch --seeds 1-10 [--out f.json]

Run from the checkout root.  Each run is a fresh process; the bounds
come from BENCHMARK.json, and a spread is flagged when it is not below a
third of its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for s in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.exit(f"seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        out = proc.stdout.strip().splitlines()
        res = json.loads(out[-1])
        res["seed"], res["wall_s"], res["lines"] = s, wall, out[:-1]
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s} wall {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "bound": bounds.get(name)}
        b = bounds.get(name)
        verdict = "" if b is None else (
            " ok (< bound/3)" if spread < b / 3 else (" within bound" if spread <= b
                                                       else " OVER BOUND"))
        print(f"{name}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
              f"spread {spread:.2%}{verdict}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary},
                      fh, indent=1)


if __name__ == "__main__":
    main()
