"""Steadiness check: run each workload several times, each with another
seed, and print every end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--workloads a,b]
    python3 perfbench/steady.py --check-spec

Run from the root of a source checkout. Each run is a fresh
``perfbench/run.py`` process. The spread of a metric is the distance
between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) over their median; a metric
passes when its spread is within its ``bound`` in ``BENCHMARK.json``;
``setup_s`` is held to its bound like every other metric. The share of failed
operations must be the same in every run. ``--check-spec`` only checks
that ``BENCHMARK.json`` and ``metrics_out.py`` name the same metrics
with the same units and directions.
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


def load_spec() -> dict:
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def check_spec(spec: dict) -> list[str]:
    sys.path.insert(0, HERE)
    import metrics_out

    problems = []
    for key, catalog in (("end_to_end", metrics_out.END_TO_END), ("per_layer", metrics_out.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        if listed != catalog:
            problems.append(f"{key}: only in BENCHMARK.json {sorted(set(listed) - set(catalog))}, "
                            f"only in the catalog {sorted(set(catalog) - set(listed))}, "
                            f"differing {sorted(k for k in listed.keys() & catalog.keys() if listed[k] != catalog[k])}")
    return problems


def one_run(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--check-spec", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    problems = check_spec(spec)
    if args.check_spec or problems:
        print("\n".join(problems) or "BENCHMARK.json matches the metric catalog")
        return 1 if problems else 0
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in names:
        values: dict[str, list[float]] = {}
        shares, walls = set(), []
        for i in range(args.runs):
            res, wall = one_run(spec, wl, args.seed0 + i)
            walls.append(wall)
            ok &= bool(res["correct"])
            shares.add((res["failed"], res["attempted"]))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{wl}: {args.runs} runs, wall {min(walls):.1f}-{max(walls):.1f} s "
              f"(median {statistics.median(walls):.1f}), failed/attempted {sorted(shares)}")
        if len({f / a for f, a in shares}) > 1:
            ok = False
            print("  failed share differs between runs")
        for k in sorted(values):
            v = values[k]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            good = spread <= bounds[k]
            ok &= good
            print(f"  {k:12s} median {statistics.median(v):10.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.3f}  {'ok' if good else 'TOO WIDE'}"
                  f"{'' if spread <= bounds[k] / 3 else ' (over a third of the bound)'}")
            print("    values", " ".join(f"{x:.4g}" for x in v))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
