"""The metric catalog: every name, unit and direction the benchmark
reports, and the mapping from one run's measurements onto it.

``BENCHMARK.json`` lists the same names; ``steady.py --check-spec``
confirms the two agree.

Every workload reports every metric. End-to-end metrics are defined for
all three workloads. A per-layer metric of a layer that a workload does
not exercise reads 0: that layer did no work there.
"""

from __future__ import annotations

import clif_live
import event_stream
import registry_wl

FAMILIES = "abcdefghij"  # query-name families (first letter of the name)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_p50_s": ("s", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}
    for k in ("session.get_spark_s", "session.warmup_s", "registry.import_s",
              "session.jvm_launch_s"):
        m[k] = ("s", "lower")
    m["session.peak_rss_mb"] = ("MB", "lower")
    for kind in ("build_s", "exec_s"):
        m[f"queries.{kind}"] = ("s", "lower")
        for f in FAMILIES:
            m[f"queries.{kind}.{f}"] = ("s", "lower")
    for f in registry_wl.OPERATOR_FAMILIES:
        m[f"operators.{f}_s"] = ("s", "lower")
    for c in dict.fromkeys(["apply_command_log"] + clif_live.SEQUENCE):
        m[f"clif.{c}_s"] = ("s", "lower")
    m["clif.read_p50_s"] = ("s", "lower")
    m["clif.write_p50_s"] = ("s", "lower")
    m["clif.status_partitions_end"] = ("count", "lower")
    for p in event_stream.PHASES:
        m[f"streaming.{p}_ms"] = ("ms", "lower")
    m["streaming.batches"] = ("count", "lower")
    m["streaming.state_rows"] = ("count", "lower")
    m["streaming.state_bytes"] = ("bytes", "lower")
    m["streaming.events_per_s"] = ("1/s", "higher")
    m["streaming.batch_p50_s"] = ("s", "lower")
    for layer in ("queries", "clif", "streaming"):
        for c in ("jobs", "stages", "tasks"):
            m[f"{layer}.{c}"] = ("count", "lower")
    m["io.persisted_rdds_left"] = ("count", "lower")
    m["session.conf_keys_changed"] = ("count", "lower")
    m["trace.overhead"] = ("ratio", "lower")
    return m


PER_LAYER = _per_layer()


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    values = {
        "setup_s": res["setup"]["setup_s"],
        "ops_per_s": res["ops_per_s"],
        "op_p50_s": res["op_p50_s"],
    }
    return {k: (values[k], unit) for k, (unit, _b) in END_TO_END.items()}


def per_layer(first: dict, traced: dict, untraced: dict) -> dict[str, tuple[float, str]]:
    """Per-layer figures from the traced pass. The workload's own
    latency and rate figures (``clif.read_p50_s``, ``streaming.*_s``,
    ``streaming.events_per_s``) come from the first, untraced pass, the
    same pass the end-to-end metrics come from in an untraced run.
    ``trace.overhead`` compares the traced pass with the untraced pass
    after it."""
    values: dict[str, float] = {}
    values.update({k: v for k, v in traced["setup"].items() if k != "setup_s"})
    values["session.peak_rss_mb"] = traced["peak_rss_mb"]
    values.update(traced["counts"])
    values.update({k: v for k, v in traced["workload"].items() if v is not None})
    for k in ("clif.read_p50_s", "clif.write_p50_s", "streaming.batch_p50_s",
              "streaming.events_per_s"):
        if first["workload"].get(k) is not None:
            values[k] = first["workload"][k]
    values["trace.overhead"] = traced["op_s"] / untraced["op_s"] - 1.0
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from the catalog: {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), unit) for k, (unit, _b) in PER_LAYER.items()}
