"""Measurement plumbing shared by the kdbench workloads: spans, the
streaming progress listener, process memory and the JVM's GC log, the
Spark event log, the generator process and session lifetime.

Every timing here is taken from outside the engine, around calls into
its public functions, or read from Spark's own public reports
(``StreamingQueryProgress``, the event log).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))


# -- statistics ------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, int(round(q * len(xs))) - 1))])


# -- spans -----------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent; one id per run.  When
    disabled, ``span`` still times its block (the workloads need the
    numbers) but nothing is kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        # foreachBatch runs on another thread: each thread nests its own.
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a finished span; ``parent`` defaults to the innermost
        open span of the calling thread."""
        if not self.enabled:
            return None
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"run": self.run_id, "id": sid, "parent": parent,
                               "name": name, "start": start, "end": end,
                               **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        t = {"start": time.time(), "end": None}
        sid = self.add(name, t["start"], t["start"], **attrs)
        if sid is not None:
            self._stack().append(sid)
        try:
            yield t
        finally:
            t["end"] = time.time()
            if sid is not None:
                self._stack().pop()
                self.spans[sid]["end"] = t["end"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- streaming progress ----------------------------------------------------

def progress_listener(path: str):
    """A ``StreamingQueryListener`` that appends each progress report
    to ``path`` as one JSON line."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.fh = open(path, "a")

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.fh.write(event.progress.json + "\n")
            self.fh.flush()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.fh.flush()

    return ProgressLog()


def epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_rows(progress: list) -> list[dict]:
    """Per-microbatch facts from ``StreamingQueryProgress`` JSON dicts:
    trigger start, commit (start + triggerExecution), phase times."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        start = epoch(p["timestamp"])
        out.append({
            "id": p["batchId"], "start": start,
            "commit": start + d.get("triggerExecution", 0) / 1e3,
            "rows": int(p.get("numInputRows", 0)), "dur": d,
            "state": p.get("stateOperators", []),
            "watermark": (p.get("eventTime") or {}).get("watermark"),
        })
    return out


# -- memory ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _proc_kb(pid: int, path: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak over time of the summed proportional set size (``Pss``) of the
    Python processes of the system under test: this process and the
    JVM's Python workers.  Workers are forked from a daemon and share its
    pages, which ``Pss`` counts once and ``VmHWM`` once per worker.  The
    JVM's own ``VmHWM`` is kept apart.  The generator is not part of the
    system under test and is left out."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.jvm_pid: int | None = None
        self.py_peak_kb = 0
        self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "MemSampler":
        self._t.start()
        return self

    def sample(self) -> None:
        pids = [os.getpid()]
        if self.jvm_pid:
            self.jvm_peak_kb = max(self.jvm_peak_kb, _proc_kb(
                self.jvm_pid, "status", "VmHWM:"))
            kids = _children()
            todo = list(kids.get(self.jvm_pid, []))
            while todo:
                p = todo.pop()
                # Only Python workers: a helper the JVM is spawning shares
                # the JVM's pages until it execs and would count them twice.
                if _comm(p).startswith("python"):
                    pids.append(p)
                todo.extend(kids.get(p, []))
        self.py_peak_kb = max(self.py_peak_kb, sum(
            _proc_kb(p, "smaps_rollup", "Pss:") for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self.sample()


REGION_MB = re.compile(r"Heap Region Size: (\d+)M")
REGIONS = re.compile(r"GC\((\d+)\) (Old|Survivor) regions: \d+->(\d+)")
# A young or full collection: heap in use before -> after (committed).
PAUSE = re.compile(r"GC\((\d+)\) Pause (?:Young|Full)\b.*?\d+M->(\d+)M\(")


def gc_heap(path: str) -> tuple[float, float]:
    """Peaks after young or full collections, from a G1 ``-Xlog:gc+heap``
    file, in MB: the object heap (old and survivor regions) and the whole
    heap.  The difference is humongous regions, which hold Spark's 64 MB
    execution pages and other large arrays; how many of those a
    collection finds still referenced moves by half from run to run on
    the same input, so only the object heap is steady enough to bound."""
    region_mb, regions, objects, whole = 1, {}, 0, 0
    try:
        with open(path) as fh:
            for line in fh:
                if m := REGION_MB.search(line):
                    region_mb = int(m[1])
                elif m := REGIONS.search(line):
                    regions[m[1]] = regions.get(m[1], 0) + int(m[3])
                elif m := PAUSE.search(line):
                    objects = max(objects, regions.pop(m[1], 0) * region_mb)
                    whole = max(whole, int(m[2]))
    except OSError:
        pass
    return float(objects), float(whole)


# -- generator process -----------------------------------------------------

def gen(mode: str, out: str, seed: int, timeout: float = 120.0, **kw) -> dict:
    """Run ``gen.py`` as its own process; return its JSON report."""
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), mode,
           "--out", out, "--seed", str(seed)]
    for k, v in kw.items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                          timeout=timeout, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


# -- Spark session ---------------------------------------------------------

def prepare_env(root: str, work: str, event_log: str | None) -> None:
    """Environment for the driver JVM and its Python workers, set before
    the JVM starts.  Workers import the library by module path, so the
    repository root goes on their ``PYTHONPATH``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The engine's own memory settings apply; the GC log only reports.
    gc_log = os.path.join(work, "gc.log")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xlog:gc,gc+init,gc+heap:file={gc_log}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if event_log:
        os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = event_log
    else:
        os.environ.pop("SPARK_GRAFT_EVENT_LOG_DIR", None)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm() -> None:
    """Stop any active Spark context, then the JVM, and wait until it has
    exited (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- event log -------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def eventlog_counters(path: str, t0: float, t1: float) -> dict[str, float]:
    """Executor counters of the jobs submitted inside ``[t0, t1]``
    (epoch seconds), from an uncompressed Spark event log."""
    jobs, stage_job, tasks = {}, {}, []
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                if t0 * 1e3 <= ev.get("Submission Time", 0) <= t1 * 1e3:
                    jobs[ev["Job ID"]] = ev
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = ev["Job ID"]
            elif k == "SparkListenerTaskEnd":
                tasks.append(ev)
    c = {"exec.jobs": len(jobs), "exec.stages": len(stage_job),
         "exec.tasks": 0, "exec.task_run_ms": 0, "exec.gc_ms": 0,
         "exchange.shuffle_write_bytes": 0, "exchange.shuffle_read_bytes": 0,
         "exchange.spill_bytes": 0, "python.sent_bytes": 0,
         "python.recv_bytes": 0, "driver.result_bytes": 0}
    for ev in tasks:
        if ev.get("Stage ID") not in stage_job:
            continue
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        c["exec.tasks"] += 1
        c["exec.task_run_ms"] += tm.get("Executor Run Time", 0)
        c["exec.gc_ms"] += tm.get("JVM GC Time", 0)
        c["exchange.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["exchange.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
        c["exchange.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0))
        c["driver.result_bytes"] += tm.get("Result Size", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if name == PY_SENT:
                c["python.sent_bytes"] += int(upd or 0)
            elif name == PY_RECV:
                c["python.recv_bytes"] += int(upd or 0)
    return c


def newest_file(d: str) -> str | None:
    if not os.path.isdir(d):
        return None
    fs = [os.path.join(d, f) for f in os.listdir(d) if not f.startswith(".")]
    return max(fs, key=os.path.getmtime) if fs else None
