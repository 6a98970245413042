"""sparkclif benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {clif_live,registry,event_stream}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout (the directory holding the
``sparkclif`` package). A run sets the program up several times
(``setup_s`` is the median), makes its inputs from ``--seed``, runs a
fixed number of whole rounds of its workload's operations
(``max(1, round(S / ROUND_SECONDS))`` rounds), checks every output
against an independent computation outside the timed calls, and prints
one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same pass three times in one process (untraced, traced, untraced),
reports the per-layer metrics from the traced pass, writes its spans to
standard error, and reports ``trace.overhead``: the traced pass's
operation time over the last pass's, minus one; its ``attempted`` and
``failed`` count the operations of all three passes. Exits non-zero without
a result if the program is missing or a run cannot finish.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = ".perfbench_run"
SETUP_REPS = 5
WORKLOADS = ("clif_live", "registry", "event_stream")


def _load(workload: str):
    return importlib.import_module({"registry": "registry_wl"}.get(workload, workload))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> list[dict]:
    """Set up, then run the workload once untraced; with ``trace`` run
    it twice more in the same process, traced and then untraced again,
    so the tracing overhead compares two passes that are equally warm.
    Returns one result dict per pass."""
    import shutil

    import harness

    mod = _load(workload)
    scratch = harness.prepare_scratch(os.path.abspath(SCRATCH))
    spark = None
    clock = harness.Timeline()
    try:
        inputs = mod.make_inputs(seed, os.path.join(scratch, "inputs"))
        harness.sync_tree(os.path.join(scratch, "inputs"))
        clock.mark("inputs")
        spark, setup = harness.set_up(SETUP_REPS)
        clock.mark("set-up")
        harness.worker_warmup(spark)
        clock.mark("workers")
        rounds = max(1, round(seconds / mod.ROUND_SECONDS))
        results = []
        for i, traced in enumerate((False, True, False) if trace else (False,)):
            rec = harness.Recorder(traced, spark)
            work = os.path.join(scratch, "tmp", f"pass-{i}")
            attempted, errors, problems = mod.run(spark, rec, inputs, rounds, work)
            clock.mark(f"pass-{i}{'-traced' if traced else ''}")
            if traced:
                print("perfbench spans:", rec.span_log(), file=sys.stderr)
            op_times = [x for v in rec.samples.values() for x in v]
            results.append({
                "attempted": attempted,
                "errors": errors,
                "problems": problems,
                "setup": setup,
                "op_s": sum(op_times),
                "ops_per_s": len(op_times) / sum(op_times),
                "op_p50_s": statistics.median(op_times),
                "workload": mod.metrics(rec),
                "peak_rss_mb": harness.peak_rss_mb(spark),
                "counts": rec.counts,
                "samples": rec.samples,
            })
        return results
    finally:
        if spark is not None:
            harness.shut_down(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        clock.mark("stop")
        print("perfbench timeline:", clock, file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkclif", "__init__.py")):
        print("perfbench: no sparkclif package in the current directory; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    import metrics_out

    passes = run_once(args.workload, args.seed, args.seconds, args.trace == 1)
    if args.trace:
        out = metrics_out.per_layer(passes[0], passes[1], passes[2])
    else:
        out = metrics_out.end_to_end(passes[0])
    problems = [p for r in passes for p in r["problems"]]
    errors = [e for r in passes for e in r["errors"]]
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)
    for e in errors:
        print("OPERATION FAILED:", e, file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": sum(r["attempted"] for r in passes),
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
