"""Measurement plumbing shared by the workloads: spans, process CPU and RSS
from /proc, Spark event-log summaries, and the local HTTP endpoint.

Nothing here imports pyspark at module level, so the checkers' tests and
the input generators run without a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, HTTPServer

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the last ')' is space-separated
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock start of this process: boot time + starttime ticks."""
    fields = _stat_fields(os.getpid())
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    # fields[0] is the state (field 3 of stat); starttime is field 22
    return btime + int(fields[19]) / CLK_TCK


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        pid = int(path.split("/")[2])
        fields = _stat_fields(pid)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """user+system CPU seconds of this process and its live descendants (the
    Spark JVM and its Python workers). Steal time is in neither counter."""
    total = 0
    for pid in descendants(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])
    return total / CLK_TCK


def jvm_pids() -> list[int]:
    pids = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    pids.append(pid)
        except OSError:
            pass
    return pids


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the package. Disabled, ``span`` is a
    bare yield and ``wrap`` returns the function unchanged, so untraced runs
    carry no instrumentation.

    Enabled, each span also sets the Spark job description (and the
    ``perfbench.span`` local property) of the calling thread, so jobs in the
    event log can be grouped by the call that ran them. Spans opened on a
    thread with no open span (foreachBatch callbacks, the file-drop thread)
    take the current ``root`` span as parent.
    """

    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self.since = 0.0  # start of the timed phase; earlier spans are warm-up
        self.sc = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = self._new_id()
        parent = stack[-1] if stack else self.root
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("perfbench.span")
            self.sc.setLocalProperty("perfbench.span", f"{sid}:{name}")
            self.sc.setJobDescription(name)
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "workload": self.workload,
               "run": self.run_id, "start": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("perfbench.span", prev)
                self.sc.setJobDescription(prev.split(":", 1)[1] if prev else None)
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def timed(self) -> list[dict]:
        return [s for s in self.spans if s["start"] >= self.since]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.timed() if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name over the timed phase: count, total and self seconds.
        Self time is the span's duration minus the union of its children's
        intervals."""
        spans = self.timed()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0.0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += (s["end"] - s["start"]) - covered
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, t_from: float, t_to: float, cores: int) -> dict:
    """Jobs, tasks, shuffle-write and spill bytes, and narrow stages (fewer
    tasks than cores) for jobs submitted in [t_from, t_to], grouped by the
    span name each job ran under (``-`` for jobs the streaming engine ran on
    its own threads)."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   if os.path.isfile(f))
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                        "spill_bytes": 0, "narrow_stages": 0})

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0) / 1000.0
                    if not (t_from <= t <= t_to):
                        continue
                    props = ev.get("Properties") or {}
                    span = props.get("perfbench.span") or "-:-"
                    name = span.split(":", 1)[1]
                    job_span[ev["Job ID"]] = name
                    group(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev.get("Stage ID"))
                    if name is None:
                        continue
                    g = group(name)
                    g["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    stage_tasks[ev["Stage ID"]] = stage_tasks.get(ev["Stage ID"], 0) + 1
    for sid, n in stage_tasks.items():
        if n < cores:
            group(stage_span[sid])["narrow_stages"] += 1
    return groups


# ---------------------------------------------------------------------------
# local endpoint
# ---------------------------------------------------------------------------


class Endpoint:
    """Single-threaded stdlib HTTP endpoint on 127.0.0.1 recording each POST
    as (path, receipt time, body bytes, parsed JSON), and calling
    ``on_payload`` with it from the serving thread."""

    def __init__(self, on_payload):
        received = self.received = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                rec = (self.path, time.time(), len(body), json.loads(body))
                received.append(rec)
                on_payload(rec)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = HTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05},
            name="perfbench-endpoint", daemon=True,
        )
        self.thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
