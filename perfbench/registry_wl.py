"""Workload ``registry``: the analytics / LLM-operator query surface.

One round runs a fixed slice of the registered queries (``QUERIES``,
in registry order) once each over a seeded sf0.1 testbed. One
operation = build the query's plan and fetch its result
(``DataFrame.toPandas``), as an analyst or an LLM operator asking for
the answer would; the fetched rows are what the checks read, so no
query runs twice. Before each
timed query the session's persisted RDDs and cached relations are
released and counted (``io.persisted_rdds_left``); after it, the
session conf is compared with its snapshot, differing keys counted
(``session.conf_keys_changed``) and the snapshot restored, so no query
runs on blocks or settings an earlier one left behind.

Checks, outside the timed calls: an oracle-backed query's fetched rows
must pass ``sparkclif.oracle.compare`` against its DuckDB oracle
(``sparkclif.oracle.run_oracle``) over the same files. The rows-only
``d_agg_approx`` must stay within its sketches' error of the exact SQL
aggregates.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from types import SimpleNamespace

import pandas as pd

import datagen

SF = 0.1
# A fixed slice of the 155 registered queries, sized to the run budget
# (the whole registry takes minutes per pass): one or more queries of
# every name family a-j and of every operator family, the pagerank
# loop relation that persists without release, the exact-SQL anchor
# of the MinHash pipeline, and the rows-only sketch query d_agg_approx,
# checked against exact SQL aggregates.
QUERIES = [  # listed here in any order; run in registry order
    "a_scan_parquet",
    "b_predicates",
    "c_join_inner",
    "d_agg_approx",
    "e_win_ewma",
    "f_sort_limit",
    "g_date_funcs",
    "h_sliding",
    "j_udf_scalar",
    "i_text_tokenize",
    "i_dedup_minhash_anchor",
    "i_dedup_semantic",
    "i_embed_quantize",
    "i_sample_stratified",
    "i_multimodal_features",
    "i_graph_pagerank",
]
# operator family -> sparkclif.operators modules
OPERATOR_FAMILIES = {
    "dedup": ["dedup"],
    "similarity": ["similarity"],
    "quantize": ["quantize"],
    "text": ["text", "corpus"],
    "sampling": ["sampling"],
    "graph": ["graph"],
    "multimodal": ["multimodal"],
}
ROUND_SECONDS = 24.0  # one cold round on 4 cores, checks included


def make_inputs(seed: int, out_dir: str) -> dict:
    sf_dir = os.path.join(out_dir, f"sf{SF}")
    datagen.write_testbed(sf_dir, seed, SF)
    return {"sf_dir": sf_dir}


def release_cached(spark) -> int:
    """Unpersist every persisted RDD and cached relation; return how
    many persisted RDDs there were."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    found = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return found


def conf_snapshot(spark) -> dict[str, str]:
    it = spark._jsparkSession.conf().getAll().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def restore_conf(spark, snap: dict[str, str]) -> int:
    now = conf_snapshot(spark)
    changed = [k for k in set(snap) | set(now) if snap.get(k) != now.get(k)]
    for k in changed:
        if k in snap:
            spark.conf.set(k, snap[k])
        else:
            spark.conf.unset(k)
    return len(changed)


class OperatorSpans:
    """Wrap every public function of the operator modules so a traced
    query knows which operator families its build called into."""

    def __init__(self):
        self.touched: set[str] = set()
        self._undo: list[tuple] = []

    def install(self) -> None:
        fam_of = {}
        for fam, mods in OPERATOR_FAMILIES.items():
            for m in mods:
                mod = importlib.import_module(f"sparkclif.operators.{m}")
                for name, fn in list(vars(mod).items()):
                    if callable(fn) and getattr(fn, "__module__", None) == mod.__name__ \
                            and not name.startswith("_") and not isinstance(fn, type):
                        fam_of[id(fn)] = (fam, fn)
        wrappers = {}
        for key, (fam, fn) in fam_of.items():
            wrappers[key] = self._wrap(fam, fn)
        # rebind in every loaded program module, so ``from ... import f``
        # call sites see the wrapper too
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("sparkclif") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
                    self._undo.append((mod, name, obj))

    def _wrap(self, fam, fn):
        touched = self.touched

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            touched.add(fam)
            return fn(*a, **kw)

        return wrapper

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._undo):
            setattr(mod, name, obj)
        self._undo.clear()


def run(spark, rec, inputs: dict, rounds: int, _scratch: str) -> tuple[int, list[str], list[str]]:
    specs = importlib.import_module("sparkclif.registry").all_queries()
    missing = [q for q in QUERIES if q not in specs]
    if missing:
        raise RuntimeError(f"queries no longer registered: {missing}")
    ordered = [q for q in specs if q in set(QUERIES)]
    sf_dir = inputs["sf_dir"]
    spans = OperatorSpans() if rec.trace else None
    if spans:
        spans.install()
    snap = conf_snapshot(spark)
    attempted = 0
    errors: list[str] = []
    problems: list[str] = []
    outputs: dict[str, pd.DataFrame] = {}
    try:
        for _r in range(rounds):
            outputs.clear()
            for name in ordered:
                attempted += 1
                spec = specs[name]
                rec.add("io.persisted_rdds_left", release_cached(spark))
                if spans:
                    spans.touched.clear()
                try:
                    with rec.op(name, "queries"):
                        t0 = time.perf_counter()
                        df = spec.fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        result = df.toPandas()
                        t2 = time.perf_counter()
                except Exception as exc:  # counted, reported, run continues
                    errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    restore_conf(spark, snap)
                    continue
                rec.add("session.conf_keys_changed", restore_conf(spark, snap))
                if rec.trace:
                    fam = name[0]
                    for key, v in (("build_s", t1 - t0), ("exec_s", t2 - t1)):
                        rec.add(f"queries.{key}", v)
                        rec.add(f"queries.{key}.{fam}", v)
                    for f in spans.touched:
                        rec.add(f"operators.{f}_s", t2 - t0)
                outputs[name] = result
                del df, result
            problems.extend(check_round(specs, outputs, sf_dir))
        rec.add("io.persisted_rdds_left", release_cached(spark))
    finally:
        if spans:
            spans.uninstall()
    return attempted, errors, problems


# ----------------------------------------------------------------- checks

def check_round(specs, outputs: dict[str, pd.DataFrame], sf_dir: str) -> list[str]:
    """Each oracle-backed query's fetched rows through the program's own
    ``sparkclif.oracle.compare`` (handed the rows, so no query runs a
    second time), against its DuckDB oracle over the same files."""
    oracle = importlib.import_module("sparkclif.oracle")
    problems = []
    for name, got in outputs.items():
        sql = specs[name].oracle
        if sql is not None:
            fetched = SimpleNamespace(toPandas=lambda got=got: got)
            problems.extend(f"{name}: {p}" for p in oracle.compare(fetched, oracle.run_oracle(sql, sf_dir)))
    if "d_agg_approx" in outputs:
        problems.extend(_check_approx(outputs["d_agg_approx"], sf_dir))
    return problems


def _check_approx(got: pd.DataFrame, sf_dir: str) -> list[str]:
    """HLL distinct counts within 25% (over five times the sketch's
    1.04/sqrt(512) standard error) and GK quantiles within 1% of the
    exact values."""
    exact = importlib.import_module("sparkclif.oracle").run_oracle(
        "SELECT l_returnflag, count(DISTINCT l_partkey) AS p, count(DISTINCT l_orderkey) AS o, "
        "quantile_disc(l_extendedprice, 0.5) AS q50, quantile_disc(l_extendedprice, 0.95) AS q95 "
        "FROM lineitem GROUP BY l_returnflag", sf_dir).set_index("l_returnflag")
    out = []
    if sorted(got["l_returnflag"]) != sorted(exact.index):
        return ["d_agg_approx: group keys differ from the exact aggregate"]
    for r in got.itertuples(index=False):
        e = exact.loc[r.l_returnflag]
        for a, x in ((r.approx_parts, e.p), (r.approx_orders, e.o)):
            if abs(a - x) > 0.25 * x:
                out.append(f"d_agg_approx {r.l_returnflag}: distinct {a} vs exact {x}")
        for a, x in ((r.p50_price, e.q50), (r.p95_price, e.q95)):
            if abs(a - x) > 0.01 * x:
                out.append(f"d_agg_approx {r.l_returnflag}: quantile {a} vs exact {x}")
    return out


def metrics(rec) -> dict[str, float]:
    return {}
