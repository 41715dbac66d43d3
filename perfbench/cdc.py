"""The two CDC workloads: a backlog drained into the durable MERGE sink
(cdc_catchup) and an open-loop trickle delivered over HTTP (cdc_trickle).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import shutil
import sys
import threading
import time
from collections import defaultdict, deque

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import harness
import inputs
from harness import median

# cdc_catchup: each round drains this backlog into a fresh target laid out
# in the sink's default 64 buckets, as the ``sync --target`` CLI writes it
CATCHUP_FILES = 2
CATCHUP_PER_FILE = 3_000
CATCHUP_KEYS = 10_000
# warm-up: the same two plan shapes (a fresh target, then a merge into it)
# over few buckets, since each touched bucket costs the same fixed time
CATCHUP_WARM_PER_FILE = 20
CATCHUP_WARM_KEYS = 10

# cdc_trickle: one file every TRICKLE_INTERVAL_S, triggers every TRICKLE_TRIGGER_MS.
# A file's batch and the no-data batch after it take ~1.3-2.3 s; at 2 s
# intervals a slow batch delayed the next file and the latency compounded
TRICKLE_INTERVAL_S = 3.0
TRICKLE_PER_FILE = 300
TRICKLE_KEYS = 3_000
TRICKLE_TRIGGER_MS = 200
# warm-up: files faster than the timed rate, so the JIT has compiled the
# per-batch paths (five files 2 s apart left the first timed intervals ~50%
# dearer in CPU)
TRICKLE_WARM_FILES = 8
TRICKLE_WARM_INTERVAL_S = 1.0
BATCH_MAX_SIZE = 50
DRAIN_TIMEOUT_S = 60.0


def _pkg():
    from k8s_vectordb_sync_spark import config
    from k8s_vectordb_sync_spark.operators import debounce
    from k8s_vectordb_sync_spark.sources import cdc, staging
    from k8s_vectordb_sync_spark.streaming import pipeline, sink

    return config, debounce, cdc, staging, pipeline, sink


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _write_backlog(frames, sf_dir: str) -> None:
    os.makedirs(os.path.join(sf_dir, "events.parquet"))
    for i, frame in enumerate(frames):
        inputs.write_events(frame, os.path.join(sf_dir, "events.parquet", f"part-{i:05d}.parquet"))


def _progress_layers(progress: list, layers: dict) -> None:
    """pipeline.* layer metrics from StreamingQueryProgress records."""
    busy = [p for p in progress if p["numInputRows"] > 0]
    idle = [p for p in progress if p["numInputRows"] == 0]
    layers["pipeline.trigger_s"] = median(p["durationMs"]["triggerExecution"] / 1e3 for p in busy)
    layers["pipeline.overhead_s"] = median(
        (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1e3 for p in busy)
    layers["pipeline.idle_trigger_s"] = median(
        p["durationMs"]["triggerExecution"] / 1e3 for p in idle)
    state = [op for p in progress for op in (p["stateOperators"] or [])]
    layers["pipeline.state_rows"] = max((op["numRowsTotal"] for op in state), default=0)
    layers["pipeline.state_bytes"] = max((op["memoryUsedBytes"] for op in state), default=0)


class _Patches:
    """Traced runs only: route the package's internal calls to
    debounce.delete_cancels_pending and staging.staged_partition_rewrite
    through spans, by swapping the module attributes the package imports
    at query start / sink construction."""

    def __init__(self, tracer, debounce, staging, count_resolved: bool):
        self.tracer, self.debounce, self.staging = tracer, debounce, staging
        self.resolved_rows = 0
        self.persisted = []
        self.count_resolved = count_resolved
        self._orig = (debounce.delete_cancels_pending, staging.staged_partition_rewrite)

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        orig_resolve, orig_rewrite = self._orig

        def resolve(*a, **kw):
            with self.tracer.span("debounce.resolve"):
                df = orig_resolve(*a, **kw)
                if self.count_resolved:
                    df = df.persist()
                    self.resolved_rows += df.count()
                    self.persisted.append(df)
            return df

        self.debounce.delete_cancels_pending = resolve
        self.staging.staged_partition_rewrite = self.tracer.wrap("staging.rewrite", orig_rewrite)
        return self

    def release(self):
        while self.persisted:
            self.persisted.pop().unpersist()

    def __exit__(self, *exc):
        self.debounce.delete_cancels_pending, self.staging.staged_partition_rewrite = self._orig
        self.release()


# ---------------------------------------------------------------------------
# cdc_catchup
# ---------------------------------------------------------------------------


def cdc_catchup(ctx: dict) -> dict:
    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    config_mod, debounce, cdc, staging, pipeline, sink_mod = _pkg()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    rng = np.random.default_rng(ctx["seed"])
    frames = inputs.cdc_events(rng, CATCHUP_FILES, CATCHUP_PER_FILE, CATCHUP_KEYS)
    backlog = os.path.join(work, "backlog")
    _write_backlog(frames, backlog)
    expected = checks.last_state(pd.concat(frames, ignore_index=True))
    warm_frames = inputs.cdc_events(
        np.random.default_rng([ctx["seed"], 1]), 2, CATCHUP_WARM_PER_FILE, CATCHUP_WARM_KEYS)
    warm = os.path.join(work, "warm")
    _write_backlog(warm_frames, warm)

    layers: dict = {}
    per_batch = {"merge_s": [], "buckets": [], "rewritten": 0}

    def drain(sf_dir: str, tag: str) -> dict:
        rdir = os.path.join(work, f"round-{tag}")
        target = os.path.join(rdir, "target")
        config = config_mod.EngineConfig(
            checkpoint_dir=os.path.join(rdir, "ckpt"), target_path=target)
        seen: dict[str, int] = {}
        stats = {"bytes": 0}

        def write_batch(resolved, batch_id):
            t = time.time()
            with tracer.span("sink.merge", batch=batch_id):
                sink(resolved, batch_id)
            merge_s = time.time() - t
            files = {p: os.path.getsize(p)
                     for p in glob.glob(os.path.join(target, "_bucket=*", "*.parquet"))}
            new = [p for p in files if p not in seen]
            seen.clear()
            seen.update(files)
            stats["bytes"] += sum(files[p] for p in new)
            if tracer.enabled:
                per_batch["merge_s"].append(merge_s)
                per_batch["buckets"].append(len({os.path.dirname(p) for p in new}))
                per_batch["rewritten"] += sum(pq.ParquetFile(p).metadata.num_rows for p in new)
                patches.release()

        cpu0 = harness.tree_cpu_s()
        with _Patches(tracer, debounce, staging, count_resolved=True) as patches:
            sink = sink_mod.parquet_upsert_sink(target)
            stream = cdc.read_change_stream(spark, sf_dir, max_files_per_trigger=1)
            t = time.time()
            q = pipeline.start_instance_sync(
                stream, config, write_batch, checkpoint_dir=config.checkpoint_dir,
                trigger={"availableNow": True})
            q.awaitTermination()  # raises if the query failed
            run_s = time.time() - t
            cpu_s = harness.tree_cpu_s() - cpu0
            resolved_rows = patches.resolved_rows
        files = glob.glob(os.path.join(target, "_bucket=*", "*.parquet"))
        table = pd.concat([pq.read_table(p, columns=["id", "event_id", "value"]).to_pandas()
                           for p in files], ignore_index=True)
        return {"run_s": run_s, "cpu_s": cpu_s, "progress": q.recentProgress, "bytes": stats["bytes"],
                "table": table, "resolved": resolved_rows, "rdir": rdir}

    drain(warm, "warm")
    per_batch.update(merge_s=[], buckets=[], rewritten=0)

    t_first = tracer.since = time.time()
    setup_s = t_first - ctx["proc_start"]
    run_s, batch_s, cpu_s, bytes_w, errors, progress = [], [], [], [], [], []
    resolved = rounds = failed_rounds = 0
    while not rounds or time.time() - t_first < ctx["seconds"]:
        rounds += 1
        try:
            with tracer.span("round", round=rounds) as rec:
                tracer.root = rec["id"] if rec else None
                r = drain(backlog, str(rounds))
        except Exception as exc:  # a failed drain counts its batches as failed
            failed_rounds += 1
            print(f"cdc_catchup: round {rounds} failed: {exc}", flush=True, file=sys.stderr)
            shutil.rmtree(os.path.join(work, f"round-{rounds}"), ignore_errors=True)
            continue
        cpu_s.append(r["cpu_s"])
        run_s.append(r["run_s"])
        bytes_w.append(r["bytes"])
        busy = [p for p in r["progress"] if p["numInputRows"] > 0]
        batch_s.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in busy)
        progress.extend(r["progress"])
        resolved += r["resolved"]
        errors += checks.check_target(r["table"], expected)
        shutil.rmtree(r["rdir"], ignore_errors=True)
    t_last = time.time()

    if tracer.enabled:
        _progress_layers(progress, layers)
        layers["debounce.resolve_s"] = median(tracer.durations("debounce.resolve"))
        layers["sink.merge_s"] = median(per_batch["merge_s"])
        layers["sink.buckets_touched"] = float(np.mean(per_batch["buckets"]))
        layers["sink.rows_rewritten_per_change"] = per_batch["rewritten"] / max(1, resolved)
        layers["staging.rewrite_s"] = median(tracer.durations("staging.rewrite"))
    for e in errors[:5]:
        print(f"cdc_catchup: {e}", flush=True, file=sys.stderr)
    return {
        "correct": bool(run_s) and not errors,
        "attempted": rounds * CATCHUP_FILES,
        "failed": failed_rounds * CATCHUP_FILES,
        "rounds": len(run_s),
        "timed_from": t_first, "timed_to": t_last,
        "metrics": {
            "setup_s": setup_s, "run_s": median(run_s), "latency_p50_s": median(batch_s),
            "cpu_s": median(cpu_s), "bytes_written": median(bytes_w),
        },
        "layers": layers,
    }


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------


def trickle_timed_files(seconds: float) -> int:
    return max(1, int(seconds / TRICKLE_INTERVAL_S))


def cdc_trickle(ctx: dict) -> dict:
    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    config_mod, debounce, cdc, staging, pipeline, sink_mod = _pkg()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    n_timed = trickle_timed_files(ctx["seconds"])
    n_files = TRICKLE_WARM_FILES + n_timed
    rng = np.random.default_rng(ctx["seed"])
    frames = inputs.cdc_events(rng, n_files, TRICKLE_PER_FILE, TRICKLE_KEYS)
    staged = os.path.join(work, "staged")
    live = os.path.join(work, "live", "events.parquet")
    os.makedirs(staged)
    os.makedirs(live)
    for i, frame in enumerate(frames):
        inputs.write_events(frame, os.path.join(staged, f"part-{i:05d}.parquet"))
    file_of_event = np.concatenate([np.full(len(f), i) for i, f in enumerate(frames)])
    deletes_per_file = [
        ("user/" + f.loc[f["event_type"] == "error", "user_id"].astype(str)).tolist() for f in frames]

    landed = [0.0] * n_files
    lock = threading.Lock()
    state = {"replay": {}, "deletes": 0, "want": None, "want_deletes": 0, "done_at": None}
    done = threading.Event()

    def on_payload(rec):
        path, t, _, body = rec
        with lock:
            if path == "/instances":
                checks.apply_payload(state["replay"], body)
            else:
                state["deletes"] += len(body.get("deletes", []))
            if (state["want"] is not None and state["deletes"] == state["want_deletes"]
                    and state["replay"] == state["want"]):
                state["done_at"] = t
                done.set()

    def expect(upto: int) -> None:
        with lock:
            state["want"] = checks.last_state(pd.concat(frames[:upto], ignore_index=True))
            state["want_deletes"] = sum(len(d) for d in deletes_per_file[:upto])
            state["done_at"] = None
            done.clear()
            if state["deletes"] == state["want_deletes"] and state["replay"] == state["want"]:
                state["done_at"] = time.time()
                done.set()

    def land(i: int) -> None:
        os.rename(os.path.join(staged, f"part-{i:05d}.parquet"),
                  os.path.join(live, f"part-{i:05d}.parquet"))
        landed[i] = time.time()

    endpoint = harness.Endpoint(on_payload)
    config = config_mod.EngineConfig(
        batch_max_size=BATCH_MAX_SIZE, checkpoint_dir=os.path.join(work, "ckpt"))
    inst_sink = sink_mod.CollectingSink(
        batch_max_size=BATCH_MAX_SIZE,
        post=tracer.wrap("sink.post", sink_mod.http_poster(endpoint.url + "/instances")))
    del_sink = sink_mod.CollectingSink(
        batch_max_size=BATCH_MAX_SIZE, post=sink_mod.http_poster(endpoint.url + "/deletes"))
    trigger = {"processingTime": f"{TRICKLE_TRIGGER_MS} milliseconds"}
    queries = []
    dropper = None
    try:
        land(0)
        with _Patches(tracer, debounce, staging, count_resolved=False):
            queries.append(pipeline.start_instance_sync(
                cdc.read_change_stream(spark, os.path.dirname(live)), config,
                tracer.wrap("sink.collect", inst_sink.write_batch),
                checkpoint_dir=os.path.join(work, "ckpt", "instances"), trigger=trigger))
            queries.append(pipeline.start_delete_fast_path(
                cdc.read_change_stream(spark, os.path.dirname(live)), config,
                tracer.wrap("sink.collect_deletes", del_sink.write_batch),
                checkpoint_dir=os.path.join(work, "ckpt", "deletes"), trigger=trigger))
            # warm-up: the first files at TRICKLE_WARM_INTERVAL_S, delivered in full
            for i in range(1, TRICKLE_WARM_FILES):
                time.sleep(TRICKLE_WARM_INTERVAL_S)
                land(i)
            expect(TRICKLE_WARM_FILES)
            if not done.wait(DRAIN_TIMEOUT_S):
                raise RuntimeError("warm-up files were not delivered")
            time.sleep(TRICKLE_WARM_INTERVAL_S)

            # timed phase: open loop, one file per interval from t_first
            t_first = tracer.since = time.time()
            setup_s = t_first - ctx["proc_start"]
            cpu0 = harness.tree_cpu_s()
            n_received0 = len(endpoint.received)
            lateness = []

            def drop():
                for j in range(n_timed):
                    due = t_first + j * TRICKLE_INTERVAL_S
                    time.sleep(max(0.0, due - time.time()))
                    land(TRICKLE_WARM_FILES + j)
                    lateness.append(landed[TRICKLE_WARM_FILES + j] - due)
                time.sleep(max(0.0, t_first + n_timed * TRICKLE_INTERVAL_S - time.time()))

            expect(n_files)
            dropper = threading.Thread(target=drop, name="perfbench-file-drop")
            dropper.start()
            dropper.join()
            delivered = done.wait(DRAIN_TIMEOUT_S)
            t_last = time.time()
            # the whole timed phase: the file schedule, or the delivery of its
            # last change if that comes later
            cpu_s = harness.tree_cpu_s() - cpu0
            progress = queries[0].recentProgress
        query_errors = [str(q.exception()) for q in queries if q.exception() is not None]
    finally:
        for q in queries:
            q.stop()
        if dropper is not None:
            dropper.join()
        endpoint.close()

    # latency: file landed -> receipt, for every change delivered in the timed phase
    received = endpoint.received
    latencies, fast = [], []
    del_landed = defaultdict(deque)
    for i in range(n_files):
        for key in deletes_per_file[i]:
            del_landed[key].append(landed[i])
    for path, t, _, body in received:
        if path == "/instances":
            for row in body.get("upserts", []):
                i = int(file_of_event[int(row["event_id"])])
                if i >= TRICKLE_WARM_FILES:
                    latencies.append(t - landed[i])
        else:
            for key in body.get("deletes", []):
                # a replayed batch can deliver a delete twice; the check counts it
                t_land = del_landed[key].popleft() if del_landed[key] else 0.0
                if t_land >= t_first:
                    fast.append(t - t_land)
    # an instance-side delete is due from the latest landed file deleting its key
    for path, t, _, body in received:
        if path == "/instances":
            for key in body.get("deletes", []):
                due = [landed[i] for i in range(n_files)
                       if key in deletes_per_file[i] and landed[i] <= t]
                if due and max(due) >= t_first:
                    latencies.append(t - max(due))

    instance_payloads = [b for p, _, _, b in received if p == "/instances"]
    delete_ids = [k for p, _, _, b in received if p == "/deletes" for k in b.get("deletes", [])]
    errors = checks.check_trickle(
        instance_payloads, delete_ids, pd.concat(frames, ignore_index=True), BATCH_MAX_SIZE)
    # a failed query or a lost delivery fails every change of the timed phase
    failed = bool(query_errors) or not delivered
    for e in query_errors:
        print(f"cdc_trickle: query failed: {e}", flush=True, file=sys.stderr)
    if not delivered:
        print(f"cdc_trickle: changes not delivered within {DRAIN_TIMEOUT_S} s of the last file",
              flush=True, file=sys.stderr)
    for e in errors[:5]:
        print(f"cdc_trickle: {e}", flush=True, file=sys.stderr)
    timed_bytes = sum(n for _, _, n, _ in received[n_received0:])

    layers: dict = {}
    if tracer.enabled:
        timed = [p for p in progress if _epoch(p["timestamp"]) >= t_first]
        _progress_layers(timed, layers)
        layers["pipeline.queue_wait_s"] = median(_queue_waits(
            os.path.join(work, "ckpt", "instances"), progress, landed, t_first))
        layers["debounce.resolve_s"] = median(tracer.durations("debounce.resolve"))
        collect = [s for s in tracer.timed() if s["name"] == "sink.collect"]
        posts = [s for s in tracer.timed() if s["name"] == "sink.post"]
        layers["sink.payload_build_s"] = median(
            (s["end"] - s["start"]) - sum(p["end"] - p["start"] for p in posts if p["parent"] == s["id"])
            for s in collect)
        layers["sink.post_s"] = median(tracer.durations("sink.post"))
        upserts = [len(b["upserts"]) for p, _, _, b in received[n_received0:]
                   if p == "/instances" and "upserts" in b]
        layers["sink.payloads"] = float(len(received) - n_received0)
        layers["sink.rows_per_payload"] = float(np.mean(upserts)) if upserts else 0.0
        layers["fastpath.latency_p50_s"] = median(fast)
        layers["generator.max_lateness_s"] = max(lateness, default=0.0)
    return {
        "correct": not failed and not errors,
        "attempted": n_timed * TRICKLE_PER_FILE,
        "failed": n_timed * TRICKLE_PER_FILE if failed else 0,
        "rounds": 1,
        "timed_from": t_first, "timed_to": t_last,
        "metrics": {
            "setup_s": setup_s,
            "run_s": (state["done_at"] or t_last) - landed[TRICKLE_WARM_FILES],
            "latency_p50_s": median(latencies), "cpu_s": cpu_s, "bytes_written": timed_bytes,
        },
        "layers": layers,
    }


def _queue_waits(ckpt: str, progress: list, landed: list, t_first: float) -> list[float]:
    """File landed -> start of the micro-batch that read it. The file
    source's log (checkpoint sources/0/) names the files of each source
    batch n; a query batch reads source batches (startOffset, endOffset]
    of its progress record."""
    def log_offset(offset) -> int:
        # a dict, its JSON text or its Python repr, depending on the client
        m = re.search(r"logOffset\W*(\d+)", str(offset))
        return int(m.group(1)) if m else -1

    start_of: dict[int, float] = {}
    for p in progress:
        src = p["sources"][0]
        lo, hi = log_offset(src["startOffset"]), log_offset(src["endOffset"])
        for n in range(lo + 1, hi + 1):
            start_of.setdefault(n, _epoch(p["timestamp"]))
    waits, seen = [], set()
    # <n> lists source batch n's files; every tenth, <n>.compact, also the
    # entries before it. Each entry carries its own batchId.
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*")):
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                if entry["batchId"] not in start_of or name in seen:
                    continue
                seen.add(name)
                i = int(name.split("-")[1].split(".")[0])
                if landed[i] >= t_first:
                    waits.append(start_of[entry["batchId"]] - landed[i])
    return waits
