"""Plain-Python models that the benchmark checks the program against.

None of this imports the program: each model restates the documented
behaviour directly, so a check compares two independent computations.

- ``ClifModel``: the reference bot's in-memory dicts (projects with
  their site-status maps in insertion order, user -> POC site, the
  mCIDE catalog) with its sequential command semantics and its exact
  ``/clif-status`` text layout.
- ``parse_repo``: the project-metadata fallback ladder
  (project.yaml -> metadata.json -> README.md -> URL).
- ``upsert_state`` / ``sessionize``: last-wins state and 30-minute
  gap sessions over an event feed.
"""

from __future__ import annotations

import json
import re

STATUS_DEFAULT = "❓"


class DuplicateValue(Exception):
    pass


class ClifModel:
    def __init__(self, sites: list[str]):
        self.sites = list(sites)
        self.projects: dict[str, dict] = {}  # repo -> {name, status{site: s}}
        self.pocs: dict[str, tuple[str, object]] = {}  # user -> (site, assigned at)
        self.catalog: dict[tuple[str, str], list[str]] = {}
        self.errors = 0

    # --- command history (app.py flow)
    def release(self, repo: str, name: str) -> None:
        # dict re-assignment keeps a re-released project's position
        self.projects[repo] = {"name": name, "status": {s: STATUS_DEFAULT for s in self.sites}}

    def set_poc(self, user: str, site: str, at) -> None:
        self.pocs[user] = (site, at)

    def status_click(self, user: str, repo: str, status: str) -> None:
        poc = self.pocs.get(user)
        if poc is None or repo not in self.projects:
            self.errors += 1
            return
        self.projects[repo]["status"][poc[0]] = status

    def replay(self, rows) -> None:
        for _eid, ts, kind, user, payload in rows:
            p = json.loads(payload)
            if kind == "release":
                self.release(p["repo_url"], p["project_name"])
            elif kind == "set_poc":
                self.set_poc(user, p["site"], ts)
            else:
                repo, status = p["value"].split("|")
                self.status_click(user, repo, status)

    # --- live writes
    def set_site_status(self, repo: str, site: str, status: str) -> None:
        self.projects[repo]["status"][site] = status

    def append_value(self, table: str, variable: str, value: str) -> str:
        value = value.strip()
        values = self.catalog.setdefault((table, variable), [])
        if value in values:
            raise DuplicateValue(value)
        values.append(value)
        return "\n".join(values) + "\n"

    # --- reads
    def site_for_user(self, user: str):
        poc = self.pocs.get(user)
        return poc[0] if poc else None

    def poc_mentions(self) -> str:
        parts = []
        for site in self.sites:
            users = sorted(
                (at, u) for u, (s, at) in self.pocs.items() if s == site
            )
            parts.extend(f"<@{u}>" for _at, u in users)
        return " ".join(parts) if parts else "Site POCs"

    def list_values(self, table: str, variable: str) -> list[str]:
        return list(self.catalog.get((table, variable), []))

    def status_table(self) -> str:
        if not self.projects:
            return "No active projects."
        names = []
        for p in self.projects.values():
            n = p["name"]
            names.append(n[:22] + "..." if len(n) > 25 else n)
        site_w = max(len("Site"), max(len(s) for s in self.sites))
        widths = [site_w] + [max(8, len(n)) for n in names]
        lines = [
            " | ".join(["Site".ljust(site_w)] + [n.ljust(widths[i + 1]) for i, n in enumerate(names)]),
            "-" * (sum(widths) + 3 * (len(widths) - 1)),
        ]
        for site in self.sites:
            row = [site.ljust(site_w)] + [
                p["status"][site].center(widths[i + 1])
                for i, p in enumerate(self.projects.values())
            ]
            lines.append(" | ".join(row))
        return "\n".join(lines)


def _mini_yaml(body: str) -> dict:
    out: dict = {}
    key = None
    for raw in body.splitlines():
        s = raw.strip()
        if not s:
            continue
        if s.startswith("- ") and key:
            out[key].append(s[2:].strip())
        elif ":" in s:
            k, _, v = s.partition(":")
            key = k.strip()
            out[key] = v.strip() if v.strip() else []
    return out


_TABLES_RE = re.compile(r"tables? required[:\-]?\s*(.*)", re.IGNORECASE)


def parse_repo(url: str, docs: dict[str, str]) -> tuple[str, str, list[str]]:
    """(project_name, description, tables_required) for one repo from
    its present documents ``{path: body}``: the first of project.yaml,
    metadata.json, README.md that exists wins."""
    for path, load in (("project.yaml", _mini_yaml), ("metadata.json", json.loads)):
        if path in docs:
            d = load(docs[path])
            name = d.get("project_name") or d.get("name") or ""
            return name, d.get("description") or "", list(d.get("tables_required") or [])
    if "README.md" not in docs:
        return "", "", []
    lines = [ln.strip() for ln in docs["README.md"].split("\n") if ln.strip()]
    title = re.sub(r"^#*\s*", "", lines[0]) if lines else ""
    desc = lines[1] if len(lines) > 1 else ""
    tables: list[str] = []
    for ln in lines[1:]:
        m = _TABLES_RE.search(ln)
        if m and m.group(1):
            tables = [t.strip() for t in re.split(r"[,;]", m.group(1)) if t.strip()]
    return title or url.rstrip().split("/")[-1], desc, tables


def upsert_state(batches, delay_us: int) -> dict[tuple[int, str], tuple]:
    """Last-wins state per (user_id, event_type) after folding ``batches``
    (lists of (event_id, ts_us, user_id, event_type, value) in arrival
    order): exact duplicates of an already-seen event_id are dropped,
    and a row older than (max event time of earlier batches - delay)
    is dropped at the merge. Ties on ts break by the larger event_id."""
    seen: set[int] = set()
    state: dict[tuple[int, str], tuple] = {}
    prior_max = None
    for batch in batches:
        fresh = []
        for row in batch:
            if row[0] not in seen:
                seen.add(row[0])
                fresh.append(row)
        if not fresh:
            continue
        cutoff = None if prior_max is None else prior_max - delay_us
        batch_max = max(r[1] for r in fresh)
        prior_max = batch_max if prior_max is None else max(prior_max, batch_max)
        for eid, ts, user, etype, value in fresh:
            if cutoff is not None and ts < cutoff:
                continue
            cur = state.get((user, etype))
            if cur is None or (ts, eid) > (cur[0], cur[1]):
                state[(user, etype)] = (ts, eid, value)
    return state


def sessionize(events, gap_us: int) -> set[tuple]:
    """Sessions as (user_id, start_us, n_events, first_event, last_event):
    per user in time order, a gap of at least ``gap_us`` starts a new
    session."""
    by_user: dict[int, list] = {}
    for eid, ts, user in events:
        by_user.setdefault(user, []).append((ts, eid))
    out = set()
    for user, evs in by_user.items():
        evs.sort()
        start, last, ids = evs[0][0], evs[0][0], [evs[0][1]]
        for ts, eid in evs[1:]:
            if ts - last >= gap_us:
                out.add((user, start, len(ids), min(ids), max(ids)))
                start, ids = ts, []
            ids.append(eid)
            last = ts
        out.add((user, start, len(ids), min(ids), max(ids)))
    return out
