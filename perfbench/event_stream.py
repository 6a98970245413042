"""Workload ``event_stream``: stateful micro-batches over a file feed.

Inputs: a seeded, time-ordered event feed (Zipf-skewed users, gaps
that sometimes exceed the 30-minute session gap), cut by
``streaming.source.write_time_chunks`` into ``FILES`` mtime-ordered
parquet chunks (one micro-batch each). The upsert feed carries
producer-retry echoes: the last ``ECHO`` rows of every chunk are
re-sent at the head of the next one.

One round = two streaming queries, each one timed operation (closed
loop, one client):

- ``streaming.upsert.stream_upsert_events`` over the echoed chunks:
  watermark + dropDuplicates, then a copy-on-write MERGE of each batch
  into a parquet last-wins state table;
- ``streaming.stateful.stream_sessionize`` over the same events
  without echoes: ``applyInPandasWithState`` sessions per user bucket.

A ``StreamingQueryListener`` sees each micro-batch's progress event:
its ``triggerExecution`` time is one batch sample. With tracing on it
also keeps the other ``durationMs`` phases and the state-operator row
and memory figures.

Checks, outside the timed calls: the final upsert state equals
``model.upsert_state`` (last-wins per (user_id, event_type) under the
documented horizon rule) and the sessions equal ``model.sessionize``.
"""

from __future__ import annotations

import importlib
import statistics
import os

import numpy as np
import pandas as pd

import datagen
import model

EVENTS = 32_000
USERS = 2_000
FILES = 4  # micro-batches per streaming query
ECHO = 40  # rows of each chunk re-sent at the head of the next
WATERMARK = "1 hour"
SESSION_GAP_US = 30 * 60 * 1_000_000
PHASES = ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
          "latestOffset", "walCommit", "commitOffsets")
ROUND_SECONDS = 17.0  # one cold round on 4 cores


def make_inputs(seed: int, _dir: str) -> dict:
    return {"feed": datagen.event_feed(seed, EVENTS, USERS)}


def _listener(spark, batches: list, trace: bool, state: dict):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows == 0:
                return
            d = p.durationMs
            batches.append({k: d.get(k) for k in PHASES} if trace
                           else {"triggerExecution": d.get("triggerExecution")})
            if trace and p.stateOperators:
                # peak over batches of the state held by all operators
                rows = sum(op.numRowsTotal for op in p.stateOperators)
                mem = sum(op.memoryUsedBytes for op in p.stateOperators)
                state["rows"] = max(state.get("rows", 0), rows)
                state["bytes"] = max(state.get("bytes", 0), mem)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = Progress()
    spark.streams.addListener(lst)
    return lst


def run(spark, rec, inputs: dict, rounds: int, scratch: str) -> tuple[int, list[str], list[str]]:
    source = importlib.import_module("sparkclif.streaming.source")
    upsert = importlib.import_module("sparkclif.streaming.upsert")
    stateful = importlib.import_module("sparkclif.streaming.stateful")

    feed: pd.DataFrame = inputs["feed"]
    sdf = spark.createDataFrame(feed)
    schema = sdf.schema
    src_echo = os.path.join(scratch, "feed-echo")
    src_plain = os.path.join(scratch, "feed")
    # key=None: always written afresh, never reused from another run
    source.write_time_chunks(sdf, src_echo, n_chunks=FILES, key=None, echo_rows=ECHO)
    source.write_time_chunks(sdf, src_plain, n_chunks=FILES, key=None)

    want_state, want_sessions = _expected(feed)
    batches: list[dict] = []
    state: dict = {}
    lst = _listener(spark, batches, rec.trace, state)
    attempted = 0
    errors: list[str] = []
    problems: list[str] = []
    try:
        for r in range(rounds):
            attempted += 1
            try:
                with rec.op("stream_upsert_events", "streaming"):
                    final = upsert.stream_upsert_events(
                        spark, src_echo, schema, watermark=WATERMARK,
                        state_dir=os.path.join(scratch, f"state-{r}"))
                got = {
                    (int(u), e): (int(ts.value // 1000), int(eid), float(v))
                    for u, e, ts, eid, v in final[
                        ["user_id", "event_type", "ts", "event_id", "value"]
                    ].itertuples(index=False, name=None)
                }
                if got != want_state:
                    problems.append(f"upsert state: {len(got)} keys vs model {len(want_state)}")
            except Exception as exc:  # counted, reported, run continues
                errors.append(f"stream_upsert_events: {type(exc).__name__}: {str(exc)[:300]}")
            attempted += 1
            try:
                with rec.op("stream_sessionize", "streaming"):
                    sessions = stateful.stream_sessionize(spark, src_plain, schema)
                got = {
                    tuple(int(x) for x in row)
                    for row in sessions.toPandas()[
                        ["user_id", "session_start_us", "n_events", "first_event", "last_event"]
                    ].itertuples(index=False, name=None)
                }
                if got != want_sessions:
                    problems.append(f"sessions: {len(got)} vs model {len(want_sessions)}")
            except Exception as exc:  # counted, reported, run continues
                errors.append(f"stream_sessionize: {type(exc).__name__}: {str(exc)[:300]}")
        spark._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    finally:
        spark.streams.removeListener(lst)
    rec.batches = batches
    if rec.trace:
        rec.counts["streaming.state_rows"] = state.get("rows", 0)
        rec.counts["streaming.state_bytes"] = state.get("bytes", 0)
    rec.events = 2 * len(feed) * rounds
    return attempted, errors, problems


def _expected(feed: pd.DataFrame):
    ts_us = feed["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
    ids = feed["event_id"].to_numpy()
    users = feed["user_id"].to_numpy()
    rows = list(zip(ids.tolist(), ts_us.tolist(), users.tolist(),
                    feed["event_type"].tolist(), feed["value"].tolist()))
    # arrival order of the echoed feed: the same chunk split as
    # write_time_chunks (equal-size chunks of the (ts, event_id)-sorted
    # feed), each chunk after the first led by the previous chunk's tail
    rows.sort(key=lambda r: (r[1], r[0]))
    size = -(-len(rows) // FILES)
    chunks = []
    for i in range(FILES):
        part = rows[i * size:(i + 1) * size]
        if i:
            part = rows[max(i * size - ECHO, 0):i * size] + part
        chunks.append(part)
    state = model.upsert_state(chunks, delay_us=3600 * 1_000_000)
    want_state = {k: (ts, eid, float(v)) for k, (ts, eid, v) in state.items()}
    sessions = model.sessionize(zip(ids.tolist(), ts_us.tolist(), users.tolist()), SESSION_GAP_US)
    return want_state, sessions


def metrics(rec) -> dict[str, float]:
    op_time = sum(x for v in rec.samples.values() for x in v)
    out = {
        "streaming.batch_p50_s": statistics.median(
            [b["triggerExecution"] / 1000.0 for b in rec.batches]),
        "streaming.events_per_s": rec.events / op_time,
        "streaming.batches": len(rec.batches),
    }
    if rec.trace:
        for k in PHASES:
            out[f"streaming.{k}_ms"] = statistics.median([b[k] for b in rec.batches])
    return out
