"""Seeded input generator for kdbench, run as its own process.

The engine only ever sees the files this process writes.  Every file is
written under a dot-prefixed temporary name and renamed into place, so
a streaming file source never lists a half-written file.

    python3 kdbench/gen.py yahoo-dim   --out DIR --seed N
    python3 kdbench/gen.py yahoo       --out DIR --seed N --first K --count C
                                       --interval S --rate R [--lead S]
    python3 kdbench/gen.py drain       --out DIR --seed N --files F --per-file E
                                       --clean-files K
    python3 kdbench/gen.py tables      --out DIR --seed N

``yahoo`` is the open-loop load: the schedule starts ``lead`` seconds
after the generator is ready, file ``k`` is due ``(k - first) * interval``
after that, and it is written then, whether or not the engine has kept
up.  Without ``--lead`` the files are written at once (warm-up).  It
prints one JSON line: the schedule start, files written and how late the
schedule ran.

``drain`` writes a backlog with Zipf keys, out-of-order event times,
producer-retry duplicates and late events, plus ``manifest.json`` next
to the stream directory naming the late event ids.

``tables`` writes the six batch tables the batch-kernel queries read,
shaped like the sf0.01 TPC-H-ish fixture tables.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC_US = pa.timestamp("us", tz="UTC")
# Event time of the synthetic streams starts here (2024-01-01 UTC).
EPOCH_US = 1_704_067_200_000_000

AD_TYPES = np.array(["banner", "modal", "sponsored-search", "mail", "mobile"])
EVENT_TYPES = np.array(["view", "click", "purchase"])
N_CAMPAIGNS = 100
ADS_PER_CAMPAIGN = 10
# Each yahoo file covers this much event time, whatever its wall interval.
YAHOO_FILE_SPAN_US = 1_000_000


def write_atomic(table: pa.Table, path: str) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def _hex_ids(rng: np.random.Generator, n: int, prefix: str) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(
        rng.integers(0, 1 << 40, n).astype(str), 13))


# -- yahoo_open -------------------------------------------------------------

def yahoo_dim(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 0])
    n_ads = N_CAMPAIGNS * ADS_PER_CAMPAIGN
    ads = np.char.add("ad-", np.arange(n_ads).astype(str))
    campaigns = np.char.add("cmp-", rng.permutation(
        np.repeat(np.arange(N_CAMPAIGNS), ADS_PER_CAMPAIGN)).astype(str))
    os.makedirs(out, exist_ok=True)
    write_atomic(pa.table({"ad_id": ads, "campaign_id": campaigns}),
                 os.path.join(out, "campaigns.parquet"))


def yahoo_file(seed: int, k: int, rows: int) -> pa.Table:
    """File ``k`` of the ad-event stream; it depends on the seed and
    ``k`` only.  The writer stamps the due time into its metadata."""
    rng = np.random.default_rng([seed, 1, k])
    n_ads = N_CAMPAIGNS * ADS_PER_CAMPAIGN
    t0 = EPOCH_US + k * YAHOO_FILE_SPAN_US
    event_time = np.sort(t0 + rng.integers(0, YAHOO_FILE_SPAN_US, rows))
    return pa.table({
        "user_id": _hex_ids(rng, rows, "u"),
        "page_id": _hex_ids(rng, rows, "p"),
        "ad_id": np.char.add("ad-", rng.integers(0, n_ads, rows).astype(str)),
        "ad_type": AD_TYPES[rng.integers(0, len(AD_TYPES), rows)],
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
        "event_time": pa.array(event_time, UTC_US),
        "ip_address": np.char.add("10.0.0.", rng.integers(0, 256, rows).astype(str)),
    })


def yahoo_stream(out: str, seed: int, first: int, count: int,
                 interval: float, rate: float, lead: float | None) -> dict:
    os.makedirs(out, exist_ok=True)
    rows = max(1, int(round(rate * interval)))
    # Build every file and warm the parquet writer before the schedule
    # starts, so the schedule pays only for the write and the rename.
    tables = [yahoo_file(seed, first + i, rows) for i in range(count)]
    write_atomic(tables[0], os.path.join(out, ".warm.parquet"))
    os.remove(os.path.join(out, ".warm.parquet"))
    late_ms_max = 0.0
    start = None if lead is None else time.time() + lead
    for i, tbl in enumerate(tables):
        k = first + i
        due = time.time() if start is None else start + i * interval
        if start is not None:
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
        tbl = tbl.replace_schema_metadata({"kdbench.due_us": str(int(due * 1e6)),
                                           "kdbench.file": str(k)})
        write_atomic(tbl, os.path.join(out, f"ev-{k:06d}.parquet"))
        late_ms_max = max(late_ms_max, (time.time() - due) * 1e3)
    return {"files": count, "rows_per_file": rows, "start": start,
            "late_ms_max": late_ms_max}


# -- stateful_drain --------------------------------------------------------

DRAIN_USERS = 20_000
DRAIN_EVENTS_PER_S = 2_000.0  # arrivals per event-time second
DRAIN_DISORDER_S = 5.0
DRAIN_DUP_FRAC = 0.03
DRAIN_LATE_FRAC = 0.002
DRAIN_LATE_BY_S = 150.0

def drain_backlog(out: str, seed: int, files: int, per_file: int,
                  clean_files: int) -> dict:
    """Backlog of ``files`` x ``per_file`` events in arrival order.

    Arrival time advances ``DRAIN_EVENTS_PER_S`` per event-time second;
    each event's ``ts`` is its arrival time +- ``DRAIN_DISORDER_S``.  A
    ``DRAIN_DUP_FRAC`` share is re-sent (same event_id, user_id and ts)
    up to ``DRAIN_DISORDER_S`` of arrival later.  A ``DRAIN_LATE_FRAC``
    share, none in the first ``clean_files`` files, carries a ts
    ``DRAIN_LATE_BY_S`` behind its arrival.

    Spark drops a late row against the watermark of the batch before the
    previous one, so ``clean_files`` must cover the first two batches;
    after that, with two batches spanning well under ``DRAIN_LATE_BY_S``
    of arrival, a late event sits far behind the watermark wherever the
    batch boundaries fall.
    """
    rng = np.random.default_rng([seed, 2])
    n = files * per_file
    n_dup = int(n * DRAIN_DUP_FRAC)
    n_base = n - n_dup
    arrival = np.arange(n_base) / DRAIN_EVENTS_PER_S * 1e6
    ts = arrival + rng.uniform(-DRAIN_DISORDER_S, DRAIN_DISORDER_S,
                               n_base) * 1e6
    users = (rng.zipf(1.3, n_base) - 1) % DRAIN_USERS
    ids = np.arange(n_base, dtype=np.int64)
    late = rng.random(n_base) < DRAIN_LATE_FRAC
    late &= np.arange(n_base) >= clean_files * per_file
    ts[late] = arrival[late] - DRAIN_LATE_BY_S * 1e6
    # Producer retries: copies of non-late events, arriving a little later.
    src = rng.choice(np.flatnonzero(~late), n_dup, replace=False)
    dup_arrival = arrival[src] + rng.uniform(0.0, DRAIN_DISORDER_S,
                                             n_dup) * 1e6
    order = np.argsort(np.concatenate([arrival, dup_arrival]), kind="stable")
    all_ids = np.concatenate([ids, ids[src]])[order]
    all_users = np.concatenate([users, users[src]])[order]
    all_ts = (EPOCH_US + np.concatenate([ts, ts[src]])[order]).astype(np.int64)
    value = np.round(rng.exponential(50.0, n), 2)
    stream = os.path.join(out, "stream")
    os.makedirs(stream, exist_ok=True)
    for f in range(files):
        sl = slice(f * per_file, (f + 1) * per_file)
        tbl = pa.table({"event_id": all_ids[sl], "user_id": all_users[sl],
                        "ts": pa.array(all_ts[sl], UTC_US),
                        "value": value[sl]})
        write_atomic(tbl, os.path.join(stream, f"ev-{f:05d}.parquet"))
        # One second apart, so the file source's modification-time order
        # is the arrival order.
        mtime = 1_700_000_000 + f
        os.utime(os.path.join(stream, f"ev-{f:05d}.parquet"), (mtime, mtime))
    manifest = {"files": files, "events": n, "duplicates": n_dup,
                "late_ids": ids[late].tolist()}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return {"files": files, "events": n, "duplicates": n_dup,
            "late": int(late.sum())}


# -- batch_kernels ---------------------------------------------------------

VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split())
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, lo: str, hi: str) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b, n) * 86_400_000_000, pa.timestamp("us"))


def batch_tables(out: str, seed: int) -> dict:
    """sf0.01-shaped tables.  Each table's rows are written in a seeded
    permutation, so a query whose result depends on row order shows up
    as a mismatch against its order-free oracle."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_ord, n_doc, n_emb, n_ev = 1500, 15000, 500, 500, 10000
    t = {}
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.char.add("Customer#", np.char.zfill(
            np.arange(n_cust).astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)],
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05"),
    })
    ev_ts = np.sort(rng.integers(
        np.datetime64("2024-01-01", "us").astype(np.int64),
        np.datetime64("2024-01-31", "us").astype(np.int64), n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(
            0, 100, n_ev).astype(str)), "}"),
    })
    texts = []
    for i in range(n_doc):
        if i > n_doc // 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB),
                                                     rng.integers(10, 100))]))
    texts = np.array(texts)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n_doc) % 20).astype(str)),
        "n_chars": np.char.str_len(texts).astype(np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    os.makedirs(out, exist_ok=True)
    for name, tbl in t.items():
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        write_atomic(tbl, os.path.join(out, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["yahoo-dim", "yahoo", "drain", "tables"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--count", type=int, default=1)
    ap.add_argument("--interval", type=float, default=1.0)
    ap.add_argument("--rate", type=float, default=1000.0)
    ap.add_argument("--lead", type=float)
    ap.add_argument("--files", type=int, default=10)
    ap.add_argument("--per-file", type=int, default=1000)
    ap.add_argument("--clean-files", type=int, default=0)
    a = ap.parse_args()
    if a.mode == "yahoo-dim":
        yahoo_dim(a.out, a.seed)
        res: dict = {"files": 1}
    elif a.mode == "yahoo":
        res = yahoo_stream(a.out, a.seed, a.first, a.count, a.interval,
                           a.rate, a.lead)
    elif a.mode == "drain":
        res = drain_backlog(a.out, a.seed, a.files, a.per_file, a.clean_files)
    else:
        res = batch_tables(a.out, a.seed)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
