"""The three kdbench workloads.  Each takes a ``Ctx`` and returns a
``Result``: end-to-end metrics, per-layer metrics, attempted and failed
operation counts and whether every checked output was right.

An operation is a microbatch (streaming) or a query run (batch).  Every
output is checked against DuckDB outside the timed window.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

from harness import (Tracer, MemSampler, batch_rows, epoch, eventlog_counters,
                     gen, jvm_pid, median, newest_file, pct,
                     progress_listener)

CPUS = max(1, min(4, os.cpu_count() or 1))

# yahoo_open: one file per interval on a fixed schedule, after warm-up
# files far enough apart that each is a microbatch of its own.
YAHOO_INTERVAL_S = 0.1
YAHOO_WARM_FILES = 5
YAHOO_WARM_INTERVAL_S = 1.0
YAHOO_RATE_EPS = 5_000
YAHOO_SCHEMA = ("user_id string, page_id string, ad_id string, ad_type string, "
                "event_type string, event_time timestamp, ip_address string")

# stateful_drain: backlog sized to last about ``--seconds`` at HEAD.
DRAIN_PER_FILE = 10_000
DRAIN_FILES_PER_TRIGGER = 5
DRAIN_EPS_SIZING = 40_000
# No late events in the first three batches (see gen.drain_backlog).
DRAIN_CLEAN_FILES = 3 * DRAIN_FILES_PER_TRIGGER
DRAIN_SCHEMA = "event_id bigint, user_id bigint, ts timestamp, value double"

# batch_kernels: the ten registered queries (two each of driver-loop
# selection, Python/Arrow boundary, exchange-heavy joins, ANN/dedup, and
# fixed-cost reference joins) and the generated tables each one reads.
BATCH_QUERIES = {
    "weighted_quantiles": ("documents",),
    "exact_quantiles_by_type": ("events",),
    "unigram_chunk": ("documents",),
    "media_image_features": ("documents",),
    "basket_pairs": ("lineitem",),
    "graph_triangles": ("documents",),
    "similarity_ivf_pq_rerank": ("embeddings",),
    "dedup_exactsubstr_incr": ("documents",),
    "join_table_table": ("customer", "orders"),
    "yahoo_pipeline": ("customer", "events"),
}


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    trace: bool
    t0: float
    tr: Tracer
    mem: MemSampler
    event_log: str | None = None


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    notes: list = field(default_factory=list)
    primary: str = ""
    window: tuple = (0.0, 0.0)


def start_session(ctx: Ctx, cpus: int = CPUS):
    from kafkadirect_spark.session import get_spark

    with ctx.tr.span("session.get_spark") as t:
        spark = get_spark("kdbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.mem.jvm_pid = jvm_pid()
    # Keep every progress report of a run, not the last 100.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    return spark, t["end"] - t["start"]


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def wait_for(pred, timeout: float, poll: float = 0.02) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()


def attach_listener(ctx: Ctx, spark):
    if ctx.trace:
        spark.streams.addListener(progress_listener(
            os.path.join(ctx.work, "trace", "progress.jsonl")))


def microbatch_layers(res: Result, batches: list[dict], t_start: float,
                      t_end: float) -> None:
    """``microbatch.*``, ``sources.*`` and ``state.*`` from progress."""
    timed = [b for b in batches if t_start <= b["start"] <= t_end]
    data = [b for b in timed if b["rows"] > 0]

    def phase(name):
        return median(b["dur"].get(name, 0) for b in data)

    L = res.layer
    L["microbatch.trigger_ms"] = phase("triggerExecution")
    L["microbatch.planning_ms"] = phase("queryPlanning")
    L["microbatch.wal_commit_ms"] = phase("walCommit")
    L["microbatch.commit_offsets_ms"] = phase("commitOffsets")
    L["microbatch.add_batch_ms"] = phase("addBatch")
    L["microbatch.batches"] = len(data)
    L["microbatch.rows_per_batch"] = median(b["rows"] for b in data)
    # Share of the window that some trigger was running, clipped to it.
    L["microbatch.busy_frac"] = sum(
        max(0.0, min(b["commit"], t_end) - max(b["start"], t_start))
        for b in batches) / max(1e-9, t_end - t_start)
    L["sources.latest_offset_ms"] = phase("latestOffset")
    L["sources.get_batch_ms"] = phase("getBatch")
    L["sources.input_rows"] = sum(b["rows"] for b in data)
    commits: dict[str, list] = {"dedup": [], "agg": []}
    for b in timed:
        for op in b["state"]:
            kind = "dedup" if "dedup" in op.get("operatorName", "").lower() \
                else "agg"
            p = f"state.{kind}."
            L[p + "rows_total"] = op.get("numRowsTotal", 0)
            L[p + "memory_bytes"] = max(L.get(p + "memory_bytes", 0),
                                        op.get("memoryUsedBytes", 0))
            commits[kind].append(op.get("commitTimeMs", 0))
            for src, dst in (("numRowsUpdated", "rows_updated"),
                             ("numRowsRemoved", "rows_removed"),
                             ("numRowsDroppedByWatermark", "rows_dropped_late")):
                L[p + dst] = L.get(p + dst, 0) + op.get(src, 0)
    for kind, xs in commits.items():
        L[f"state.{kind}.commit_ms"] = median(xs)


def add_batch_spans(ctx: Ctx, batches: list[dict]) -> None:
    for b in batches:
        ctx.tr.add("microbatch", b["start"], b["commit"], parent=None,
                   batch=b["id"], rows=b["rows"])


def finish(ctx: Ctx, res: Result, spark) -> Result:
    """Stop the session (its JVM stays up for ``shutdown_jvm``); the
    event log is complete only then, so read its counters here."""
    spark.stop()
    path = newest_file(ctx.event_log) if ctx.event_log else None
    if path:
        res.layer.update(eventlog_counters(path, *res.window))
    return res


def file_latencies(batches: list[dict], rows_per_file: int,
                   due: dict[int, float], t_end: float
                   ) -> tuple[list[float], int]:
    """Map files to the batch that consumed them by cumulative
    ``numInputRows`` (files are consumed whole and in order), and time
    each from its due time to that batch's commit.  A file no batch
    consumed is a miss; it counts as late as the end of the run."""
    commit_of, cum, k = {}, 0, 0
    for b in batches:
        cum += b["rows"]
        while (k + 1) * rows_per_file <= cum:
            commit_of[k] = b["commit"]
            k += 1
    lat = [(commit_of.get(f, t_end) - t) * 1e3 for f, t in sorted(due.items())]
    return lat, sum(1 for f in due if f not in commit_of)


# -- yahoo_open ------------------------------------------------------------

def yahoo_open(ctx: Ctx) -> Result:
    import duckdb
    from pyspark.sql import functions as F

    from kafkadirect_spark.core import Table, Windows
    from kafkadirect_spark.sources.stream import stream_from_dir

    res = Result(primary="latency_p50_ms")
    n_files = max(100, int(round(ctx.seconds / YAHOO_INTERVAL_S)))
    dim, stream = os.path.join(ctx.work, "dim"), os.path.join(ctx.work, "in")
    with ctx.tr.span("gen.warmup") as g:
        gen("yahoo-dim", dim, ctx.seed)
        rpf = gen("yahoo", stream, ctx.seed, first=0, count=1,
                  interval=YAHOO_INTERVAL_S, rate=YAHOO_RATE_EPS)["rows_per_file"]
    gen_s = g["end"] - g["start"]
    spark, res.layer["session.start_s"] = start_session(ctx)
    attach_listener(ctx, spark)

    sink_rows: dict[tuple, int] = {}
    sink_ms: list[float] = []

    def sink(df, batch_id):
        with ctx.tr.span("sink.write", batch=batch_id) as t:
            rows = df.collect()
        for r in rows:
            sink_rows[(r["ws"], r["campaign_id"])] = r["count"]
        sink_ms.append((t["end"] - t["start"]) * 1e3)

    with ctx.tr.span("core.build") as t:
        campaigns = Table(F.broadcast(spark.read.parquet(dim)), key="ad_id")
        counts = (stream_from_dir(spark, stream, YAHOO_SCHEMA, key="ad_id",
                                  ts="event_time", max_files_per_trigger=None)
                  .filter(F.col("event_type") == "view")
                  .select("ad_id", "event_time")
                  .join_table(campaigns, on="ad_id")
                  .group_by("campaign_id")
                  .windowed_by(Windows.tumbling("10 seconds", grace="5 seconds"))
                  .count())
        out = counts.select(F.unix_micros("window.start").alias("ws"),
                            "campaign_id", "count")
        writer = (out.writeStream.outputMode("update").foreachBatch(sink)
                  .option("checkpointLocation", os.path.join(ctx.work, "ckpt")))
    res.layer["core.build_ms"] = (t["end"] - t["start"]) * 1e3
    with ctx.tr.span("streaming.start"):
        q = writer.start()
    try:
        if not wait_for(lambda: any(p["numInputRows"] > 0
                                    for p in progress_of(q)), 120):
            raise RuntimeError("warm-up microbatch did not commit")
        t = time.time()
        rep = gen("yahoo", stream, ctx.seed, first=1,
                  count=YAHOO_WARM_FILES - 1, interval=YAHOO_WARM_INTERVAL_S,
                  rate=rpf / YAHOO_WARM_INTERVAL_S, lead=0.0)
        # The generator's start-up and its fixed schedule are harness time.
        gen_s += rep["start"] - t + (YAHOO_WARM_FILES - 2) * YAHOO_WARM_INTERVAL_S
        if not wait_for(lambda: sum(p["numInputRows"] for p in progress_of(q))
                        >= YAHOO_WARM_FILES * rpf, 60):
            raise RuntimeError("warm-up microbatches did not commit")
        warm = [b for b in batch_rows(progress_of(q)) if b["rows"] > 0][-1]
        res.metrics["setup_s"] = warm["commit"] - ctx.t0 - gen_s
        res.layer["session.warm_s"] = res.metrics["setup_s"] - \
            res.layer["session.start_s"]
        n_warm = len(sink_ms)

        with ctx.tr.span("gen.open_loop"):
            rep = gen("yahoo", stream, ctx.seed, first=YAHOO_WARM_FILES,
                      count=n_files, interval=YAHOO_INTERVAL_S,
                      rate=YAHOO_RATE_EPS, lead=0.2)
        t_gen_end, start = time.time(), rep["start"]
        total = (YAHOO_WARM_FILES + n_files) * rpf
        wait_for(lambda: sum(p["numInputRows"] for p in progress_of(q))
                 >= total, 30, poll=0.05)
        t_end = time.time()
    finally:
        q.stop()
    batches = batch_rows(progress_of(q))
    add_batch_spans(ctx, batches)
    due = {YAHOO_WARM_FILES + i: start + i * YAHOO_INTERVAL_S
           for i in range(n_files)}
    lat, misses = file_latencies(batches, rpf, due, t_end)
    data = [b for b in batches if b["rows"] > 0 and b["id"] > warm["id"]]
    consumed = sum(b["rows"] for b in data)
    last = max((b["commit"] for b in data), default=t_end)
    m = res.metrics
    m["latency_p50_ms"] = pct(lat, 0.50)
    m["latency_p90_ms"] = pct(lat, 0.90)
    m["throughput_eps"] = consumed / max(1e-9, last - start)
    m["batch_wall_s"] = median(b["dur"]["triggerExecution"] for b in data) / 1e3
    res.samples = {"latency": f"{len(lat)} files, {misses} missed",
                   "batch_wall_s": f"{len(data)} microbatches",
                   "throughput_eps": f"{consumed} events"}
    res.attempted = len(data) + misses
    res.failed = misses
    if misses:
        res.notes.append(f"{misses} files not consumed by the end of the run")

    microbatch_layers(res, batches, start, t_end)
    rows_by_gen_end = sum(b["rows"] for b in batches
                          if b["commit"] <= t_gen_end)
    res.layer["sources.lag_files_end"] = (YAHOO_WARM_FILES + n_files
                                          - rows_by_gen_end // rpf)
    res.layer["sink.write_ms"] = median(sink_ms[n_warm:])
    res.layer["sink.output_rows"] = len(sink_rows)
    res.layer["gen.late_ms_max"] = rep["late_ms_max"]
    res.layer["gen.files"] = rep["files"]
    if rep["late_ms_max"] > YAHOO_INTERVAL_S * 1e3:
        res.notes.append("INVALID RUN, not a regression: the generator fell "
                         f"behind its schedule by {rep['late_ms_max']:.0f} ms")
    res.window = (start, t_end)

    # Output check: every window the final watermark closed.
    ctx.mem.stop()  # DuckDB in this process is the checker, not the engine
    with ctx.tr.span("check"):
        wm = next((b["watermark"] for b in reversed(batches) if b["watermark"]),
                  None)
        wm_us = int(epoch(wm) * 1e6) if wm else 0
        n_cons = min(YAHOO_WARM_FILES + n_files,
                     sum(b["rows"] for b in batches) // rpf)
        files = [os.path.join(stream, f"ev-{k:06d}.parquet")
                 for k in range(n_cons)]
        con = duckdb.connect()
        want = {(ws, c): n for c, ws, n in con.execute(
            "SELECT a.campaign_id, epoch_us(e.event_time) // 10000000 * 10000000"
            " AS ws, count(*) FROM read_parquet(?) e"
            " JOIN read_parquet(?) a USING (ad_id)"
            " WHERE e.event_type = 'view' GROUP BY ALL",
            [files, os.path.join(dim, "campaigns.parquet")]).fetchall()
            if ws + 10_000_000 <= wm_us}
        con.close()
        got = {k: v for k, v in sink_rows.items() if k[0] + 10_000_000 <= wm_us}
        res.samples["check"] = f"{len(want)} closed windows"
        if not want or got != want:
            res.correct = False
            res.failed += 1
            res.notes.append(f"window mismatch: {len(got)} emitted vs "
                             f"{len(want)} expected closed windows")
    return finish(ctx, res, spark)


# -- stateful_drain --------------------------------------------------------

def run_drain(ctx: Ctx, spark, base: str, res: Result | None):
    """Drain the backlog under ``base`` with ``availableNow``; return
    (progress batches, output dir, query start time)."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.core import Windows
    from kafkadirect_spark.sources.stream import stream_from_dir

    stream, outdir = os.path.join(base, "stream"), os.path.join(base, "out")
    with ctx.tr.span("core.build") as t:
        counts = (stream_from_dir(spark, stream, DRAIN_SCHEMA, key="user_id",
                                  ts="ts",
                                  max_files_per_trigger=DRAIN_FILES_PER_TRIGGER)
                  .deduplicate("event_id", within="30 seconds")
                  .group_by("user_id")
                  # No grace: the window inherits the dedup watermark.
                  .windowed_by(Windows.tumbling("1 minute"))
                  .count())
        writer = (counts.select(F.unix_micros("window.start").alias("ws"),
                                "user_id", "count")
                  .writeStream.format("parquet").outputMode("append")
                  .option("path", outdir)
                  .option("checkpointLocation", os.path.join(base, "ckpt"))
                  .trigger(availableNow=True))
    if res is not None:
        res.layer["core.build_ms"] = (t["end"] - t["start"]) * 1e3
    with ctx.tr.span("streaming.start"):
        q = writer.start()
    q_start = time.time()
    try:
        if not q.awaitTermination(150):
            raise RuntimeError("drain did not finish in 150 s")
    finally:
        q.stop()
    return batch_rows(progress_of(q)), outdir, q_start


def drain_eps(data: list[dict]) -> float:
    """Events per second after the warm-up batch: from its commit to the
    last data batch's commit."""
    return sum(b["rows"] for b in data[1:]) / max(
        1e-9, data[-1]["commit"] - data[0]["commit"])


def stateful_drain(ctx: Ctx) -> Result:
    import duckdb
    import pyarrow as pa

    res = Result(primary="throughput_eps")
    # One warm-up batch plus enough batches for ``--seconds`` at HEAD.
    per_batch = DRAIN_PER_FILE * DRAIN_FILES_PER_TRIGGER
    n_files = DRAIN_FILES_PER_TRIGGER * max(
        5, math.ceil(ctx.seconds * DRAIN_EPS_SIZING / per_batch) + 1)
    base = os.path.join(ctx.work, "drain")
    with ctx.tr.span("gen.backlog") as g:
        rep = gen("drain", base, ctx.seed, files=n_files,
                  per_file=DRAIN_PER_FILE, clean_files=DRAIN_CLEAN_FILES)
    gen_s = g["end"] - g["start"]
    spark, res.layer["session.start_s"] = start_session(ctx)
    attach_listener(ctx, spark)
    batches, outdir, q_start = run_drain(ctx, spark, base, res)
    add_batch_spans(ctx, batches)
    data = [b for b in batches if b["rows"] > 0]
    first, rest = data[0], data[1:]
    res.metrics["setup_s"] = first["commit"] - ctx.t0 - gen_s
    res.layer["session.warm_s"] = res.metrics["setup_s"] - \
        res.layer["session.start_s"]
    t_end = rest[-1]["commit"]
    drained = sum(b["rows"] for b in rest)
    due = {k: q_start for k in range(n_files)}
    lat, misses = file_latencies(batches, DRAIN_PER_FILE, due, time.time())
    m = res.metrics
    m["latency_p50_ms"] = pct(lat, 0.50)
    m["latency_p90_ms"] = pct(lat, 0.90)
    m["throughput_eps"] = drain_eps(data)
    m["batch_wall_s"] = median(b["dur"]["triggerExecution"] for b in rest) / 1e3
    res.samples = {"latency": f"{len(lat)} files, {misses} missed",
                   "batch_wall_s": f"{len(rest)} microbatches",
                   "throughput_eps": f"{drained} events"}
    res.attempted = len(data) + misses
    res.failed = misses
    microbatch_layers(res, batches, first["commit"], batches[-1]["commit"])
    res.layer["sources.lag_files_end"] = misses
    res.layer["gen.late_ms_max"] = 0.0
    res.layer["gen.files"] = rep["files"]
    res.window = (first["commit"], t_end)

    ctx.mem.stop()  # DuckDB in this process is the checker, not the engine
    with ctx.tr.span("check"):
        with open(os.path.join(base, "manifest.json")) as fh:
            late = json.load(fh)["late_ids"]
        wm = next((b["watermark"] for b in reversed(batches) if b["watermark"]),
                  None)
        wm_us = int(epoch(wm) * 1e6) if wm else 0
        con = duckdb.connect()
        con.register("late", pa.table({"event_id": pa.array(late, pa.int64())}))
        want = sorted(r for r in con.execute(
            "SELECT ws, user_id, count(*) FROM ("
            " SELECT DISTINCT event_id, user_id,"
            "  epoch_us(ts) // 60000000 * 60000000 AS ws"
            " FROM read_parquet(?) WHERE event_id NOT IN (SELECT event_id FROM late))"
            " GROUP BY ALL", [os.path.join(base, "stream", "*.parquet")]).fetchall()
            if r[0] + 60_000_000 <= wm_us)
        got = sorted(con.execute(
            "SELECT ws, user_id, count FROM read_parquet(?)",
            [os.path.join(outdir, "*.parquet")]).fetchall())
        con.close()
        res.layer["sink.output_rows"] = len(got)
        res.samples["check"] = f"{len(want)} closed windows"
        if not want or got != want:
            res.correct = False
            res.failed += 1
            res.notes.append(f"window mismatch: {len(got)} emitted vs "
                             f"{len(want)} expected closed windows")
        dropped = res.layer.get("state.dedup.rows_dropped_late", 0) + \
            res.layer.get("state.agg.rows_dropped_late", 0)
        res.samples["late"] = f"{len(late)} late events, {dropped} dropped"

    finish(ctx, res, spark)
    if ctx.trace:
        # Single-core baseline of the same job on a smaller backlog.
        spark1, _ = start_session(ctx, cpus=1)
        base1 = os.path.join(ctx.work, "drain1")
        files1 = DRAIN_FILES_PER_TRIGGER * 4
        gen("drain", base1, ctx.seed, files=files1, per_file=DRAIN_PER_FILE,
            clean_files=DRAIN_CLEAN_FILES)
        res.layer["scale.drain_1core_eps"] = drain_eps(
            [b for b in run_drain(ctx, spark1, base1, None)[0] if b["rows"]])
        spark1.stop()
    return res


# -- batch_kernels ---------------------------------------------------------

def batch_kernels(ctx: Ctx) -> Result:
    import duckdb

    from kafkadirect_spark.plans import ORACLE_SQL, QUERIES
    from tools.check_oracle import normalize

    res = Result(primary="batch_wall_s")
    data_dir = os.path.join(ctx.work, "tables")
    with ctx.tr.span("gen.tables") as g:
        sizes = gen("tables", data_dir, ctx.seed)
    gen_s = g["end"] - g["start"]
    spark, res.layer["session.start_s"] = start_session(ctx)

    # Warm-up pass: the first run of each query, collected for the check.
    got: dict[str, tuple] = {}
    with ctx.tr.span("warmup") as w:
        for name in BATCH_QUERIES:
            res.attempted += 1
            try:
                with ctx.tr.span("plans.call", query=name):
                    df = QUERIES[name](spark, data_dir)
                with ctx.tr.span("exec.collect", query=name):
                    got[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failed query is counted, not fatal
                res.failed += 1
                res.correct = False
                res.notes.append(f"{name}: {type(e).__name__}: "
                                 f"{str(e).splitlines()[0][:160]}")
    res.metrics["setup_s"] = time.time() - ctx.t0 - gen_s
    res.layer["session.warm_s"] = w["end"] - w["start"]

    t_start = time.time()
    passes, per_query, calls, writes = [], [], [], []
    per_name: dict[str, list[float]] = {n: [] for n in BATCH_QUERIES}
    while not passes or time.time() - t_start < ctx.seconds:
        with ctx.tr.span("batch.pass") as p:
            for name in BATCH_QUERIES:
                res.attempted += 1
                t = time.time()
                try:
                    with ctx.tr.span("plans.call", query=name) as c:
                        df = QUERIES[name](spark, data_dir)
                    with ctx.tr.span("exec.write", query=name) as x:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    res.failed += 1
                    res.correct = False
                    res.notes.append(f"{name}: {type(e).__name__}")
                    continue
                dt = time.time() - t
                per_query.append(dt * 1e3)
                per_name[name].append(dt)
                calls.append(c["end"] - c["start"])
                writes.append(x["end"] - x["start"])
        passes.append(p["end"] - p["start"])
    t_end = time.time()
    rows_per_pass = sum(sizes[t] for ts in BATCH_QUERIES.values() for t in ts)
    m = res.metrics
    m["latency_p50_ms"] = pct(per_query, 0.50)
    m["latency_p90_ms"] = pct(per_query, 0.90)
    m["batch_wall_s"] = median(passes)
    m["throughput_eps"] = rows_per_pass * len(passes) / sum(passes)
    res.samples = {"latency": f"{len(per_query)} query runs",
                   "batch_wall_s": f"{len(passes)} passes",
                   "throughput_eps": f"{rows_per_pass} input rows per pass"}
    L = res.layer
    L["plans.call_s"] = sum(calls) / len(passes)
    L["exec.write_s"] = sum(writes) / len(passes)
    for name, xs in per_name.items():
        L[f"batch.{name}_s"] = median(xs)
    res.window = (t_start, t_end)

    ctx.mem.stop()  # DuckDB in this process is the checker, not the engine
    with ctx.tr.span("check"):
        con = duckdb.connect()
        for t in sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        bad = []
        for name, (cols, rows) in got.items():
            r = con.execute(ORACLE_SQL[name])
            ocols = [d[0] for d in r.description]
            if sorted(cols) != sorted(ocols) or normalize(rows, cols) != \
                    normalize(r.fetchall(), ocols):
                bad.append(name)
        con.close()
        res.samples["check"] = f"{len(got)} queries vs ORACLE_SQL"
        if bad:
            res.correct = False
            res.failed += len(bad)
            res.notes.append("mismatch on seeded row permutation (a result "
                             "that depends on row order is a determinism "
                             "defect): " + ", ".join(bad))
    return finish(ctx, res, spark)


WORKLOADS = {"yahoo_open": yahoo_open, "stateful_drain": stateful_drain,
             "batch_kernels": batch_kernels}
