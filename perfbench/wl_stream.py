"""events_stream: three stateful drains over seeded event files.

Each drain reads the files with ``maxFilesPerTrigger=1`` (one micro-batch
per file) under ``availableNow``:

1. ``streaming_sessionize`` -> memory sink (closed gap sessions per user);
2. ``streaming_dedupe`` on event_id -> memory sink (first-seen events);
3. a ``foreachBatch`` CDC sink: ``stage_and_cdc_merge`` of each batch into a
   fresh in-memory Derby table keyed on the integer user_id (seq =
   event_id, op = delete for ``error`` events, update otherwise).

Outputs are checked against a batch oracle over the same files (pandas).
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyspark.sql.functions as F

from bioeco_portal_etl_spark.sinks.jdbc_upsert import stage_and_cdc_merge
from bioeco_portal_etl_spark.streaming.sessions_stream import streaming_sessionize
from bioeco_portal_etl_spark.streaming.stateful import streaming_dedupe
from bioeco_portal_etl_spark.streaming.windows import EVENT_SCHEMA

import gen
from harness import Pass
from spans import percentile

GAP_S = 1800
DELETE_OP = 2
PROGRESS_KEYS = ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "triggerExecution")


def prepare(in_dir: str, seed: int) -> dict:
    info = gen.event_files(in_dir, seed)
    return {**info, "oracle": _oracle(pd.read_parquet(info["dir"]))}


def _oracle(ev: pd.DataFrame) -> dict:
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ts_us = ev["ts"].dt.tz_convert(None).astype("datetime64[us]").astype("int64")
    sessions = []
    by_user: dict[int, list[int]] = {}
    for uid, t in zip(ev["user_id"].tolist(), ts_us.tolist()):
        by_user.setdefault(uid, []).append(t)
    for uid, ts in by_user.items():
        start = end = ts[0]
        n = 1
        for t in ts[1:]:
            if t - end > GAP_S * 1_000_000:
                sessions.append((uid, start, end, (end - start) // 1_000_000, n))
                start, end, n = t, t, 1
            else:
                end, n = max(end, t), n + 1
        # the still-open last session stays in state and is never emitted
    last = ev.sort_values("event_id").groupby("user_id").tail(1)
    live = last[last["event_type"] != "error"]
    return {
        "sessions": sorted(sessions),
        "distinct_ids": sorted(set(ev["event_id"].tolist())),
        "cdc": sorted(zip(live["user_id"].tolist(), live["event_id"].tolist(),
                          live["value"].tolist())),
    }


def run_pass(spark, state, out_dir, tr):
    p = Pass(chained=False)
    os.makedirs(out_dir)
    tag = os.path.basename(out_dir)
    progress = p.outputs["progress"] = []

    def stream():
        return (spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1)
                .parquet(state["dir"]))

    def changelog(events):
        return events.select(
            "user_id", F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", DELETE_OP).otherwise(1).alias("op"),
            "value",
        )

    def drain(q):
        q.awaitTermination()
        progress.extend(json.loads(x.json) for x in q.recentProgress)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def to_memory(df, name):
        q = (df.writeStream.format("memory").queryName(name).outputMode("append")
             .option("checkpointLocation", os.path.join(out_dir, name))
             .trigger(availableNow=True).start())
        drain(q)

    def sessionize():
        with tr.span("streaming.sessionize"):
            to_memory(streaming_sessionize(stream().select("user_id", "ts", "event_id"),
                                           gap_seconds=GAP_S), f"sess_{tag}")

    def dedupe():
        hashed = stream().select(
            F.pmod(F.col("event_id"), F.lit(8)).alias("bucket"),
            F.col("event_id").alias("doc_id"),
            F.md5(F.col("event_id").cast("string")).alias("content_hash"),
        )
        with tr.span("streaming.dedupe"):
            to_memory(streaming_dedupe(hashed), f"dedup_{tag}")

    url = state["derby_url"] = f"jdbc:derby:memory:cdc_{tag};create=true"

    def cdc():
        empty = changelog(spark.read.schema(EVENT_SCHEMA).parquet(state["dir"])).limit(0)
        empty.write.jdbc(url, "USER_STATE", mode="overwrite")

        def apply(batch, batch_id):
            with tr.span("sinks.cdc_merge"):
                stage_and_cdc_merge(batch, url, "USER_STATE", ["user_id"], "seq", "op",
                                    ["value"], delete_op=DELETE_OP)

        with tr.span("streaming.cdc"):
            drain(changelog(stream()).writeStream.foreachBatch(apply)
                  .option("checkpointLocation", os.path.join(out_dir, "cdc"))
                  .trigger(availableNow=True).start())

    with tr.span("pass"):
        p.op("sessionize", sessionize)
        p.op("dedupe", dedupe)
        p.op("cdc_sink", cdc)
    p.outputs["tag"] = tag
    return p


def check(spark, state, p) -> None:
    exp, tag = state["oracle"], p.outputs["tag"]
    if all(o.ok for o in p.ops if o.name == "sessionize"):
        got = sorted(
            (r["user_id"], int(r["session_start"].timestamp() * 1_000_000),
             int(r["session_end"].timestamp() * 1_000_000), r["duration_sec"], r["n_events"])
            for r in spark.table(f"sess_{tag}").collect()
        )
        if got != exp["sessions"]:
            p.fail("sessionize", f"{len(got)} sessions, oracle {len(exp['sessions'])}")
    if all(o.ok for o in p.ops if o.name == "dedupe"):
        got = sorted(r["doc_id"] for r in spark.table(f"dedup_{tag}").collect())
        if got != exp["distinct_ids"]:
            p.fail("dedupe", f"{len(got)} first-seen events, oracle {len(exp['distinct_ids'])}")
    if all(o.ok for o in p.ops if o.name == "cdc_sink"):
        rows = spark.read.jdbc(state["derby_url"], "USER_STATE").collect()
        got = sorted((r["user_id"], r["seq"], r["value"]) for r in rows)
        if got != exp["cdc"]:
            p.fail("cdc_sink", f"{len(got)} live users in Derby, oracle {len(exp['cdc'])}")


def layer_metrics(state, p) -> dict:
    prog = [x for x in p.outputs["progress"] if x.get("numInputRows", 0) > 0]
    trig = [x["durationMs"].get("triggerExecution", 0) for x in prog]
    out = {
        "streaming.batches": len(prog),
        "streaming.input_rows": sum(x["numInputRows"] for x in prog),
        "batch_p50_ms": percentile(trig, 0.5),
        "batch_p90_ms": percentile(trig, 0.9),
        "events_per_s": {
            o.name: state["rows"] / o.seconds for o in p.ops if o.seconds > 0
        },
    }
    for k in PROGRESS_KEYS:
        out[f"streaming.{k}_ms"] = sum(x["durationMs"].get(k, 0) for x in prog)
    ops = [s for x in prog for s in x.get("stateOperators", [])]
    out["streaming.state_rows"] = max((s.get("numRowsTotal", 0) for s in ops), default=0)
    out["streaming.state_memory_bytes"] = max((s.get("memoryUsedBytes", 0) for s in ops), default=0)
    out["streaming.state_commit_ms"] = sum(s.get("commitTimeMs", 0) for s in ops)
    return out
