"""kdbench: end-to-end and per-layer benchmark of the kafkadirect_spark
engine.  Run from the repository root:

    python3 kdbench/run.py --workload yahoo_open --seed 1 --seconds 10 --trace 0
    python3 kdbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  yahoo_open      open loop: one parquet file of ad events per 0.1 s into a
                  directory, the streaming Yahoo shape over it, update mode,
                  foreachBatch sink
  stateful_drain  closed backlog drain: dedup within a watermark, per-user
                  1-minute windowed count, parquet append sink, availableNow
  batch_kernels   one client, repeated passes over ten registered queries,
                  each written to the noop sink

Prints one line per metric with its unit and sample count, then, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, read from spans, streaming progress and the Spark
event log of the same run, and the spans and progress are written under
``.kdbench_work/trace-<workload>/``.  Exits non-zero without a result when
the engine cannot be imported or the run fails.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

BENCH = os.path.join(ROOT, "BENCHMARK.json")
MOVES = os.path.join(HERE, "moves.json")


def load_spec() -> dict:
    with open(BENCH) as fh:
        return json.load(fh)


def history_path(work_root: str, workload: str, seconds: float) -> str:
    """Untraced results of this code at this ``--seconds``: the key hashes
    the engine's and the benchmark's sources, so runs of another commit
    in the same tree never share a baseline."""
    h = hashlib.sha256(f"{seconds:g}".encode())
    files = sorted(os.path.join(d, f)
                   for top in ("kafkadirect_spark", "kdbench")
                   for d, _, fs in os.walk(os.path.join(ROOT, top))
                   for f in fs if f.endswith((".py", ".json")))
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return os.path.join(work_root, "history", h.hexdigest()[:16],
                        f"{workload}.jsonl")


def read_history(path: str) -> list[dict]:
    try:
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]
    except (OSError, ValueError):
        return []


def overhead(history: list[dict], primary: str, value: float) -> float:
    """How much worse a traced run's primary metric is than the median of
    the untraced runs (higher-is-better throughput inverts the ratio)."""
    from harness import median

    base = median(h[primary] for h in history)
    return base / value - 1 if primary == "throughput_eps" else value / base - 1


def run_all(a, spec: dict) -> int:
    """Each workload in its own process, one after the other; prints
    their reports and, last, their results keyed by workload."""
    results, rc = {}, 0
    for w in (x["name"] for x in spec["workloads"]):
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if p.returncode or not lines:
            rc = rc or p.returncode or 1
            continue
        results[w] = json.loads(lines[-1])
    print(json.dumps(results))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = load_spec()
    if a.workload == "all":
        return run_all(a, spec)
    try:
        import kafkadirect_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"kdbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from harness import (MemSampler, Tracer, gc_heap, prepare_env,
                         shutdown_jvm)
    from workloads import WORKLOADS, Ctx

    if a.workload not in WORKLOADS:
        print(f"kdbench: unknown workload {a.workload}", file=sys.stderr)
        return 2
    t0 = T0
    work_root = os.path.join(ROOT, ".kdbench_work")
    hist = history_path(work_root, a.workload, a.seconds)
    if a.trace and not read_history(hist):
        # No untraced run of this code yet: make one to measure against,
        # and start this run's clock after it.
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", "0"],
                       stdout=sys.stderr, check=True)
        t0 = time.time()
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if a.trace else None
    os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    prepare_env(ROOT, work, event_log)

    ctx = Ctx(work=work, seed=a.seed, seconds=a.seconds,
              trace=bool(a.trace), t0=t0, tr=Tracer(bool(a.trace)),
              mem=MemSampler().start(), event_log=event_log)
    try:
        res = WORKLOADS[a.workload](ctx)
    except Exception:
        traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        shutdown_jvm()
        ctx.mem.stop()
    # Memory the program keeps: the JVM's object heap after collections
    # plus the Python processes' peak (see harness.gc_heap for what the
    # object heap leaves out and why).
    obj_mb, heap_mb = gc_heap(os.path.join(work, "gc.log"))
    py_mb = ctx.mem.py_peak_kb / 1024
    res.metrics["mem_mb"] = obj_mb + py_mb
    res.samples["mem_mb"] = (f"JVM object heap {obj_mb:.0f} MB + Python "
                             f"{py_mb:.0f} MB; whole heap {heap_mb:.0f} MB")
    res.layer["driver.heap_objects_mb"] = obj_mb
    res.layer["driver.heap_after_gc_mb"] = heap_mb
    res.layer["python.pss_mb"] = py_mb
    res.layer["driver.jvm_rss_mb"] = ctx.mem.jvm_peak_kb / 1024

    ov = None
    if a.trace:
        history = read_history(hist)
        ov = overhead(history, res.primary, res.metrics[res.primary])
        res.layer["trace.overhead_frac"] = ov
        res.samples["trace.overhead_frac"] = f"{len(history)} untraced runs"
        out = os.path.join(work_root, f"trace-{a.workload}")
        shutil.rmtree(out, ignore_errors=True)
        ctx.tr.dump(os.path.join(work, "trace", "spans.jsonl"))
        shutil.copytree(os.path.join(work, "trace"), out)
    else:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "a") as fh:
            fh.write(json.dumps(res.metrics) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if a.trace:
        # A layer this workload does not run (state on batch_kernels,
        # plans on the streaming workloads) reads 0.
        for n in names:
            res.layer.setdefault(n, 0.0)
    missing = [n for n in names if n not in (res.layer if a.trace else res.metrics)]
    if missing:
        print(f"kdbench: workload did not report {missing}", file=sys.stderr)
        return 1
    failed_frac = res.failed / max(1, res.attempted)
    print(f"kdbench {a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} correct={res.correct}")
    for n, v in res.metrics.items():
        kind = n.split("_")[0]
        note = res.samples.get(kind, res.samples.get(n, "1 run"))
        print(f"  {n:<22} {v:>14.4f} {units.get(n, ''):<6} (n = {note})")
    print(f"  {'failed_frac':<22} {failed_frac:>14.4f} {'frac':<6} "
          f"({res.failed} of {res.attempted} operations)")
    for k in ("check", "late"):
        if k in res.samples:
            print(f"  {k}: {res.samples[k]}")
    if ov is not None:
        print(f"  trace overhead vs untraced median: {ov:+.1%} of "
              f"{res.primary} ({res.samples['trace.overhead_frac']})")
    for n in res.notes:
        print(f"  note: {n}")
    if a.trace:
        with open(MOVES) as fh:
            moves = json.load(fh)
        for n in names:
            print(f"  {n:<36} {res.layer[n]:>16.4f} {units[n]:<6} "
                  f"-> {moves.get(n, '')}")
    src = res.layer if a.trace else res.metrics
    print(json.dumps({
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {n: {"value": float(src[n]), "unit": units[n]}
                    for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
