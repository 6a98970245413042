"""Workload ``clif_live``: the CLIF coordination bot's own traffic.

One round = replay a seeded command history with
``clif.commands.apply_command_log``, then issue a fixed sequence of bot
commands with seeded arguments against that live state, one at a time (closed loop, one
client). Writes are ``status_store.set_site_status``,
``status_store.set_poc`` and ``mcide.append_value`` +
``mcide.stage_change`` (every third append repeats a value that is
already there and must be rejected). Reads are
``dashboard.render_status_table``, ``status_store.site_for_user``,
``status_store.poc_mentions``, ``mcide.list_values`` and
``metadata.extract_metadata``.

Every write is kept on the live relation the way the program returns
it, so later reads see the lineage the writes built. Every result is
compared with ``model.ClifModel`` outside the timed calls.
"""

from __future__ import annotations

import importlib
import statistics
import os
import random
from datetime import timedelta

import datagen
from model import ClifModel, DuplicateValue, parse_repo

# The traffic below is assumed, not measured: the repository holds no
# record of the reference bot's real command traffic. The history mix
# (datagen.command_history), its length, the user and repo counts and
# the command sequence are chosen to fit one round into the run budget.
# The write count matters most: how far a fix of the per-write lineage
# growth moves the end-to-end figures depends on it. A round has 3
# status writes before its dashboard; the reference figures (README)
# put the dashboard at 2.7 s after no writes and about 14 s after 40.
HISTORY = 400  # commands replayed per round
USERS = 40
REPOS = 8
CATALOG_VALUES = 10  # values per mCIDE variable
META_REPOS = 25
# commands per round after the replay, in this fixed order (the seed
# picks their arguments): writes sit between reads, so each later read
# sees the lineage of the writes before it
SEQUENCE = [
    "set_site_status",
    "site_for_user",
    "append_value",  # the first append of a round repeats a known value
    "set_poc",
    "poc_mentions",
    "set_site_status",
    "list_values",
    "append_value",
    "extract_metadata",
    "set_site_status",
    "render_status_table",
]
WRITES = {"set_site_status", "set_poc", "append_value"}
ROUND_SECONDS = 19.0  # one cold round on 4 cores; sizes a run
# the reference's ordered site list (state.py), which the bot's
# dashboard rows and mention order follow
SITES = [
    "University of Chicago",
    "Emory University",
    "John Hopkins University",
    "Northwestern University",
    "Oregon Health & Science University",
    "Rush University",
    "University of California San Francisco",
    "University of Michigan",
    "University of Minnesota",
    "University of Pennsylvania",
    "University of Toronto",
    "MIMIC-IV",
]


def make_inputs(seed: int, _dir: str) -> dict:
    meta_repos, meta_docs = datagen.repo_documents(seed, META_REPOS)
    return {
        "seed": seed,
        "history": datagen.command_history(seed, HISTORY, SITES, USERS, REPOS),
        "tree": datagen.mcide_tree(seed, CATALOG_VALUES),
        "meta_repos": meta_repos,
        "meta_docs": meta_docs,
    }


def run(spark, rec, inputs: dict, rounds: int, scratch: str) -> tuple[int, list[str], list[str]]:
    """Run ``rounds`` rounds; returns (attempted, failures, check
    problems)."""
    commands = importlib.import_module("sparkclif.clif.commands")
    store = importlib.import_module("sparkclif.clif.status_store")
    dash = importlib.import_module("sparkclif.clif.dashboard")
    mcide = importlib.import_module("sparkclif.clif.mcide")
    meta = importlib.import_module("sparkclif.clif.metadata")
    fixtures = importlib.import_module("sparkclif.clif.fixtures")

    sites = fixtures.SITES
    if sites != SITES:
        raise RuntimeError("the program's sites dimension changed; update SITES")
    seed, history, tree = inputs["seed"], inputs["history"], inputs["tree"]
    meta_repos, meta_docs = inputs["meta_repos"], inputs["meta_docs"]
    want_meta = {}
    for url in meta_repos:
        docs = {p: b for u, p, b in meta_docs if u == url}
        want_meta[url] = parse_repo(url, docs)

    attempted = 0
    errors: list[str] = []
    problems: list[str] = []

    def check(ok: bool, what: str) -> None:
        if not ok:
            problems.append(what)

    sites_df = fixtures.sites_df(spark)
    log_df = spark.createDataFrame(
        history, "event_id long, ts timestamp, kind string, user_id string, payload string"
    )
    repos_df = spark.createDataFrame([(u,) for u in meta_repos], "repo_url string")
    docs_df = spark.createDataFrame(meta_docs, "repo_url string, path string, body string")

    for r in range(rounds):
        rng = random.Random(seed * 1_000_003 + r)
        model = ClifModel(sites)
        model.replay(history)
        model.catalog = {k: list(v) for k, v in tree.items()}
        base_dir = os.path.join(scratch, f"mcide-{r}")
        datagen.write_mcide_tree(base_dir, tree)
        t_live = datagen.HISTORY_T0 + timedelta(minutes=HISTORY + 1)

        attempted += 1
        with rec.op("apply_command_log", "clif"):
            projects, status_cur, pocs_cur, error_df = commands.apply_command_log(log_df, sites_df)
            n_errors = error_df.count()
        check(n_errors == model.errors, f"errors {n_errors} != {model.errors}")
        site_status = status_cur.select("repo_url", "site_name", "status", "updated_at")
        pocs = pocs_cur.select("user_id", "site_name", "project", "assigned_at")
        catalog = mcide.read_catalog(spark, base_dir)
        repos = [u for u, _n in datagen.clif_repos(REPOS)]
        users = datagen.clif_users(USERS + 4)  # a few never registered
        appends = 0

        for i, kind in enumerate(SEQUENCE):
            attempted += 1
            at = t_live + timedelta(seconds=i)
            try:
                if kind == "set_site_status":
                    repo, site = rng.choice(repos), rng.choice(sites)
                    status = rng.choice(datagen.STATUS_CLICKS)
                    with rec.op(kind, "clif"):
                        site_status = store.set_site_status(site_status, repo, site, status, at)
                    model.set_site_status(repo, site, status)
                elif kind == "set_poc":
                    user, site = rng.choice(users), rng.choice(sites)
                    project = rng.choice([None, "General", "Project 1"])
                    with rec.op(kind, "clif"):
                        pocs = store.set_poc(pocs, user, site, project, at)
                    model.set_poc(user, site, at)
                elif kind == "append_value":
                    table, var = rng.choice(sorted(tree))
                    known = model.list_values(table, var)
                    appends += 1
                    value = (
                        " " + rng.choice(known) if appends % 3 == 1
                        else f"{var.split('_')[0]}_new_{r}_{i}"
                    )
                    try:
                        want = model.append_value(table, var, value)
                    except DuplicateValue:
                        want = None
                    got = None
                    with rec.op(kind, "clif"):
                        try:
                            catalog, contents = mcide.append_value(catalog, table, var, value)
                            staged = mcide.stage_change(base_dir, table, var, contents)
                            got = contents
                        except mcide.DuplicateValueError:
                            pass
                    check(got == want, f"append_value {table}.{var} {value!r}")
                    if got is not None:
                        with open(staged) as fh:
                            check(fh.read() == want, f"staged file {staged}")
                elif kind == "render_status_table":
                    with rec.op(kind, "clif"):
                        text = dash.render_status_table(site_status, projects, sites_df)
                    check(text == model.status_table(), f"dashboard after command {i}")
                elif kind == "site_for_user":
                    user = rng.choice(users)
                    with rec.op(kind, "clif"):
                        got = store.site_for_user(pocs, user)
                    check(got == model.site_for_user(user), f"site_for_user {user}")
                elif kind == "poc_mentions":
                    with rec.op(kind, "clif"):
                        got = store.poc_mentions(pocs, sites_df)
                    check(got == model.poc_mentions(), f"poc_mentions after command {i}")
                elif kind == "list_values":
                    table, var = rng.choice(sorted(tree))
                    with rec.op(kind, "clif"):
                        got = mcide.list_values(catalog, table, var)
                    check(got == model.list_values(table, var), f"list_values {table}.{var}")
                elif kind == "extract_metadata":
                    with rec.op(kind, "clif"):
                        rows = meta.extract_metadata(repos_df, docs_df).collect()
                    got = {
                        x.repo_url: (x.project_name, x.description, list(x.tables_required))
                        for x in rows
                    }
                    check(got == want_meta, "extract_metadata")
            except Exception as exc:  # counted, reported, run continues
                errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
        if rec.trace:
            rec.counts["clif.status_partitions_end"] = site_status.rdd.getNumPartitions()
    return attempted, errors, problems


def metrics(rec) -> dict[str, float]:
    """Read and write latency medians, and each command kind's median."""
    reads = [x for k, v in rec.samples.items() if k not in WRITES for x in v]
    writes = [x for k, v in rec.samples.items() if k in WRITES for x in v]
    out = {
        "clif.read_p50_s": statistics.median(reads),
        "clif.write_p50_s": statistics.median(writes),
    }
    for k, v in rec.samples.items():
        out[f"clif.{k}_s"] = statistics.median(v)
    return out
