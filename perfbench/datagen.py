"""Seeded input generators for the three workloads.

Everything here is a pure function of ``seed`` (numpy PCG64 and
``random.Random``), so the same seed gives byte-identical inputs. The
program under test only ever sees what these functions write or return.

- ``write_testbed``: the ten-table star schema the query registry reads
  (TPC-H-like tables plus ``events``, ``documents`` and ``embeddings``),
  with the column names, types and value domains of the project's sf
  testbeds (TESTDATA.md, FIXTURES.md).
- ``command_history``: CLIF bot history (release,
  set_poc, status_update commands in log order).
- ``mcide_tree`` / ``repo_documents``: the mCIDE catalog file tree and
  the repo metadata documents the bot reads.
- ``event_feed``: a time-ordered event stream with Zipf-skewed users.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def _day_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_testbed(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten testbed tables for scale factor ``sf`` under
    ``out_dir``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    i32 = pa.int32()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", 2498),
    })
    gaps = rng.exponential(26.0, n_ev)
    ev_ts = np.datetime64("2024-01-01", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    words = np.array(WORDS)
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup operators'
            # positive cases); a few exact duplicates as well
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.04 else src + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })


# ------------------------------------------------------------------ CLIF

HISTORY_T0 = datetime(2025, 3, 1)
STATUS_CLICKS = ["✅", "🛠", "❌"]
MCIDE_TABLES = {
    "vitals": ["vital_category"],
    "labs": ["lab_category", "lab_order_category"],
    "respiratory_support": ["device_category", "mode_category"],
    "medication_admin_continuous": ["med_category"],
    "adt": ["location_category"],
    "00_template": ["template_var"],
}


def clif_users(n: int) -> list[str]:
    return [f"U{i:08d}" for i in range(n)]


def clif_repos(n: int) -> list[tuple[str, str]]:
    """(repo_url, project_name); every third name is longer than 25
    characters, so the dashboard's truncation rule is exercised."""
    out = []
    for i in range(n):
        name = f"Project {i}" if i % 3 else f"Longitudinal outcomes study number {i}"
        out.append((f"https://github.com/Common-Longitudinal-ICU-data-Format/p{i}", name))
    return out


def command_history(seed: int, n: int, sites: list[str], n_users: int, n_repos: int):
    """Seeded command log rows ``(event_id, ts, kind, user_id, payload)``
    in log order, one minute apart. Every repo is released early and
    some are re-released; about a tenth of the status clicks come from
    users with no POC yet or target repos not yet released (the error
    channel)."""
    rng = random.Random(seed * 7919 + 1)
    users = clif_users(n_users)
    repos = clif_repos(n_repos)
    rows = []
    for i in range(n):
        ts = HISTORY_T0 + timedelta(minutes=i)
        user = rng.choice(users)
        if i < n_repos:
            kind = "release"
            repo, name = repos[i]
        else:
            kind = rng.choices(["release", "set_poc", "status_update"], [1, 6, 13])[0]
            repo, name = rng.choice(repos)
        if kind == "release":
            payload = json.dumps({"repo_url": repo, "project_name": name,
                                  "tables_required": ["vitals", "labs"]})
        elif kind == "set_poc":
            payload = json.dumps({"site": rng.choice(sites),
                                  "project": rng.choice([None, "General", name])})
        else:
            payload = json.dumps({"value": f"{repo}|{rng.choice(STATUS_CLICKS)}"})
        rows.append((i, ts, kind, user, payload))
    return rows


def mcide_tree(seed: int, n_values: int) -> dict[tuple[str, str], list[str]]:
    """Controlled-vocabulary catalog: ``(table, variable) -> values`` in
    file order (``n_values`` values per variable)."""
    rng = random.Random(seed * 104729 + 3)
    out = {}
    for table, variables in MCIDE_TABLES.items():
        for var in variables:
            vals = rng.sample(range(10_000), n_values)
            out[(table, var)] = [f"{var.split('_')[0]}_{v:04d}" for v in vals]
    return out


def write_mcide_tree(base_dir: str, tree: dict) -> None:
    """One ``clif_{table}_{variable}_categories.csv`` per variable, one
    value per line, no header (the reference's GitHub layout)."""
    for (table, var), values in tree.items():
        d = os.path.join(base_dir, table)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"clif_{table}_{var}_categories.csv"), "w") as fh:
            fh.write("\n".join(values) + "\n")


def repo_documents(seed: int, n_repos: int):
    """``(repos, docs)``: repo URLs and the (repo_url, path, body) rows
    a fetch adapter would return, cycling through the reference's
    fallback ladder — project.yaml, metadata.json, README.md, README
    without a title, and no document at all."""
    rng = random.Random(seed * 15485863 + 5)
    repos, docs = [], []
    tables = ["vitals", "labs", "adt", "respiratory_support", "patient"]
    for i in range(n_repos):
        url = f"https://github.com/clif-sites/repo-{i}"
        repos.append(url)
        pick = rng.sample(tables, rng.randint(1, 3))
        kind = i % 5
        if kind == 0:
            body = (f"project_name: Yaml Project {i}\ndescription: from yaml {i}\n"
                    "tables_required:\n" + "".join(f"  - {t}\n" for t in pick))
            docs.append((url, "project.yaml", body))
            # a lower-priority source is present too: yaml must win
            docs.append((url, "README.md", f"# Shadowed {i}\n"))
        elif kind == 1:
            docs.append((url, "metadata.json", json.dumps(
                {"name": f"Json Project {i}", "description": f"from json {i}",
                 "tables_required": pick})))
        elif kind == 2:
            docs.append((url, "README.md", (
                f"# Readme Project {i}\n\nAnalysis number {i}.\n"
                f"Tables required: {', '.join(pick)}\nmore text\n"
                f"tables required - {pick[0]}\n")))
        elif kind == 3:
            docs.append((url, "README.md", "\n\n   \n"))
        # kind == 4: no documents at all
    return repos, docs


# --------------------------------------------------------------- events

def event_feed(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    """Time-ordered events with the testbed ``events`` schema; user ids
    are Zipf-skewed and gaps sometimes exceed the 30-minute session gap."""
    rng = np.random.Generator(np.random.PCG64(seed * 2 + 1))
    # mixture of short and long gaps: sessions break often enough that
    # every batch closes some
    gaps = np.where(rng.random(n_events) < 0.02, rng.exponential(1800.0, n_events),
                    rng.exponential(3.0, n_events))
    ts = np.datetime64("2024-06-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    users = (rng.zipf(1.3, n_events) - 1) % n_users
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": users.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
