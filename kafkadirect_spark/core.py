"""Stream / Table / GlobalTable — the Kafka Streams DSL shape over DataFrames.

Reference surface (spcl/kafkadirect):
- KStream   streams/src/main/java/org/apache/kafka/streams/kstream/KStream.java
- KTable    streams/src/main/java/org/apache/kafka/streams/kstream/KTable.java
- GlobalKTable kstream/GlobalKTable.java:50-76
- grouping  KGroupedStream.java / TimeWindowedKStream.java / SessionWindowedKStream.java

Semantics carried over from the reference:
- Records with a NULL key are skipped by stateful operators (joins,
  aggregations) — KStreamKStreamJoin.java:72-85.  We apply an explicit
  ``key IS NOT NULL`` pre-filter, which Catalyst pushes to the scan.
- A NULL value on a table upsert is a tombstone (delete), not SQL NULL —
  LogCleaner.scala:43-92.  ``Table.from_changelog`` applies last-wins
  then drops tombstoned keys.
- ``map``/``select_key``/``group_by`` (key-changing ops) mark a
  repartition in Kafka (KStreamImpl.java:640).  Here the shuffle is
  inserted by Catalyst's EnsureRequirements only when an actual
  stateful op follows — strictly fewer shuffles than the reference.

Everything compiles to DataFrame expressions: no RDDs, no driver-side
loops, so the same code runs on local[32] and a 1000-executor cluster.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _delay_ms(spec: str) -> int:
    # Local import: the streaming package pulls in pandas-side modules
    # that batch-only users of the DSL never need.
    from kafkadirect_spark.streaming.util import interval_ms
    return interval_ms(spec)


def _watermark(df: DataFrame, ts: str, have: str | None, want: str,
               what: str) -> tuple[DataFrame, str]:
    """Give a streaming ``df`` an event-time watermark of at least
    ``want`` on ``ts``; returns the frame and the delay in force.

    Spark 4.1 allows one watermark per query ("Redefining watermark is
    disallowed"), so when an upstream operator already applied delay
    ``have`` it is reused if it is at least ``want`` — a longer delay
    only keeps state longer.  A shorter one would drop records that
    ``what`` must still accept, so that raises before the query
    starts."""
    if have is None:
        return df.withWatermark(ts, want), want
    if _delay_ms(want) > _delay_ms(have):
        raise ValueError(
            f"{what} {want!r} exceeds the event-time delay {have!r} "
            "already applied upstream; a query has one watermark, so "
            f"use {what} <= {have!r} or raise the upstream delay")
    return df, have


def _min_delay(*delays: str | None) -> str | None:
    """The delay a union or join of watermarked inputs can promise
    (Spark's watermark is the minimum over its inputs)."""
    return min(filter(None, delays), key=_delay_ms, default=None)


# ---------------------------------------------------------------------------
# Window specs (kstream/TimeWindows.java, SessionWindows.java,
# UnlimitedWindows.java, JoinWindows.java)
# ---------------------------------------------------------------------------


class Windows:
    """Window spec factory mirroring the reference spec objects."""

    def __init__(self, kind: str, size: str | None = None, advance: str | None = None,
                 gap: str | None = None, grace: str | None = None):
        self.kind = kind
        self.size = size
        self.advance = advance
        self.gap = gap
        self.grace = grace

    @classmethod
    def tumbling(cls, size: str, grace: str | None = None) -> "Windows":
        """TimeWindows.of(size) — kstream/TimeWindows.java:110."""
        return cls("tumbling", size=size, grace=grace)

    @classmethod
    def hopping(cls, size: str, advance: str, grace: str | None = None) -> "Windows":
        """TimeWindows.of(size).advanceBy(advance) — TimeWindows.java:150."""
        return cls("hopping", size=size, advance=advance, grace=grace)

    @classmethod
    def session(cls, gap: str, grace: str | None = None) -> "Windows":
        """SessionWindows.with(gap) — kstream/SessionWindows.java:96."""
        return cls("session", gap=gap, grace=grace)

    @classmethod
    def unlimited(cls, start: str = "1970-01-01 00:00:00") -> "Windows":
        """UnlimitedWindows.of().startOn(t) — UnlimitedWindows.java:60,94:
        one landmark window [start, ∞); records before ``start`` are
        excluded, the aggregate never closes (``size`` holds the start)."""
        return cls("unlimited", size=start)

    def window_col(self, ts: ColumnOrName) -> Column:
        if self.kind == "tumbling":
            return F.window(_col(ts), self.size)
        if self.kind == "hopping":
            return F.window(_col(ts), self.size, self.advance)
        if self.kind == "session":
            return F.session_window(_col(ts), self.gap)
        if self.kind == "unlimited":
            start = F.lit(self.size).cast("timestamp")
            return F.struct(start.alias("start"),
                            F.lit(None).cast("timestamp").alias("end"))
        raise ValueError(f"unknown window kind {self.kind}")


class JoinWindows:
    """Interval-join window: match if ts_r in [ts_l - before, ts_l + after].

    kstream/JoinWindows.java:121,153,186 (``of/before/after``).
    """

    def __init__(self, before: str, after: str, grace: str | None = None):
        self.before = before
        self.after = after
        self.grace = grace

    @classmethod
    def of(cls, diff: str, grace: str | None = None) -> "JoinWindows":
        return cls(before=diff, after=diff, grace=grace)


# ---------------------------------------------------------------------------
# Stream (KStream)
# ---------------------------------------------------------------------------


class Stream:
    """A record stream: DataFrame + designated key / event-time columns.

    Batch DataFrames model a bounded replay of the topic; streaming
    DataFrames (``readStream``) use the identical operator surface.
    ``delay`` is the event-time watermark delay already applied to
    ``df`` (None: no watermark yet); later event-time operators reuse
    it instead of redefining the watermark.
    """

    def __init__(self, df: DataFrame, key: str | None = None, ts: str | None = None,
                 delay: str | None = None):
        self.df = df
        self.key = key
        self.ts = ts
        self.delay = delay

    def _with(self, df: DataFrame, key: str | None = None, ts: str | None = None) -> "Stream":
        return Stream(df, key=key or self.key, ts=ts or self.ts, delay=self.delay)

    # -- stateless transforms (§2.2) ------------------------------------

    def filter(self, predicate: Column) -> "Stream":
        """KStream.filter — KStream.java:67 → KStreamFilter.java."""
        return self._with(self.df.filter(predicate))

    def with_timestamp_policy(self, on_invalid: str = "fail",
                              order_by: str | None = None,
                              partition_by: str | None = None) -> "Stream":
        """TimestampExtractor policy over the stream's event-time column
        — Fail/LogAndSkip/UsePartitionTime/Wallclock on invalid
        timestamps (RecordQueue.java:178; functions/timestamps.py)."""
        from kafkadirect_spark.functions.timestamps import with_timestamp_policy
        if self.ts is None:
            raise ValueError("timestamp policy requires an event-time column")
        return self._with(with_timestamp_policy(
            self.df, self.ts, on_invalid=on_invalid,
            order_by=order_by, partition_by=partition_by))

    def filter_not(self, predicate: Column) -> "Stream":
        """KStream.filterNot — KStream.java:79."""
        return self._with(self.df.filter(~predicate))

    def map_values(self, **exprs: Column) -> "Stream":
        """KStream.mapValues — KStream.java:183 (key preserved, no shuffle)."""
        return self._with(self.df.withColumns(dict(exprs)))

    def select_key(self, expr: ColumnOrName, name: str = "key") -> "Stream":
        """KStream.selectKey — KStream.java:111 (marks repartition in the
        reference; here the shuffle appears only if a stateful op follows)."""
        return self._with(self.df.withColumn(name, _col(expr)), key=name)

    def map(self, key_expr: ColumnOrName, key_name: str = "key", **value_exprs: Column) -> "Stream":
        """KStream.map — KStream.java:149 (re-key + re-value)."""
        df = self.df.withColumn(key_name, _col(key_expr)).withColumns(dict(value_exprs))
        return self._with(df, key=key_name)

    def select(self, *cols: ColumnOrName) -> "Stream":
        return self._with(self.df.select(*[_col(c) for c in cols]))

    def flat_map_values(self, expr: Column, name: str = "value") -> "Stream":
        """KStream.flatMapValues — KStream.java:307: 0..n values per input,
        key kept.  Array-producing expression + explode (JVM-side, no UDF)."""
        keep = [c for c in self.df.columns if c != name]
        return self._with(self.df.select(*keep, F.explode(expr).alias(name)))

    def flat_map(self, expr: Column, key: str | None = None) -> "Stream":
        """KStream.flatMap — KStream.java:266 → KStreamFlatMap.java: 0..n
        (key, value) records per input.  ``expr`` is an array<struct>
        column; each struct becomes one output record (its fields are
        the new columns).  Marks a re-key: downstream stateful ops
        shuffle on the new key (inserted by Catalyst only when needed)."""
        exploded = self.df.select(F.explode(expr).alias("_kv")).select("_kv.*")
        return Stream(exploded, key=key, ts=self.ts if self.ts and self.ts in exploded.columns else None,
                      delay=self.delay)

    def branch(self, *predicates: Column) -> list["Stream"]:
        """KStream.branch — KStream.java:404 → KStreamBranch.java:40-52.
        First matching predicate wins; record goes to exactly one branch.

        Implemented as filters over a single ``branch_tag`` column so the
        input is scanned once regardless of branch count (the N-filter
        formulation scans N times at 100 TB unless cached)."""
        tagged = self.branch_tag(*predicates, name="__branch").df
        return [
            self._with(tagged.filter(F.col("__branch") == i).drop("__branch"))
            for i in range(len(predicates))
        ]

    def branch_tag(self, *predicates: Column, name: str = "branch") -> "Stream":
        """One-pass branch: tag each record with the index of the first
        matching predicate (-1 = no match). Scale-friendly single scan."""
        expr = F.lit(-1)
        for i in reversed(range(len(predicates))):
            expr = F.when(predicates[i], F.lit(i)).otherwise(expr)
        return self._with(self.df.withColumn(name, expr))

    def merge(self, other: "Stream") -> "Stream":
        """KStream.merge — KStream.java:417: UNION ALL, no dedup."""
        return Stream(self.df.unionByName(other.df), key=self.key, ts=self.ts,
                      delay=_min_delay(self.delay, other.delay))

    def peek(self, action: Callable[[DataFrame], None]) -> "Stream":
        """KStream.peek — KStream.java:388. Batch: run observer on the
        DataFrame; pass-through unchanged (side effect only)."""
        action(self.df)
        return self

    def print(self, n: int = 20, truncate: bool = True,
              checkpoint: str | None = None):
        """KStream.print — KStream.java:363 → KStreamPrint.java (terminal
        console sink; ``console`` sink in streaming).  Streaming returns
        the StreamingQuery so the caller can stop/await it (batch
        returns None)."""
        if self.df.isStreaming:
            w = self.df.writeStream.format("console")
            if checkpoint:
                w = w.option("checkpointLocation", checkpoint)
            return w.start()
        self.df.show(n, truncate=truncate)
        return None

    def foreach(self, action: Callable) -> None:
        """KStream.foreach — KStream.java:373: terminal per-record side
        effect, executed on the executors (distributed, not a driver
        loop)."""
        self.df.foreach(action)

    # -- repartition / sink (§2.1) ---------------------------------------

    def through(self, num_partitions: int | None = None) -> "Stream":
        """KStream.through — KStream.java:431 (materialized exchange via an
        intermediate topic).  In Spark this is just a hash repartition —
        Catalyst reuses the exchange instead of writing a topic."""
        if self.key is None:
            raise ValueError("through() requires a key column")
        if num_partitions:
            return self._with(self.df.repartition(num_partitions, F.col(self.key)))
        return self._with(self.df.repartition(F.col(self.key)))

    def through_bucketed(self, table: str, num_buckets: int = 32) -> "Stream":
        """KStream.through with the intermediate topic made DURABLE —
        the closest Spark analogue of what KStream.java:431 actually
        does: materialize the stream partitioned by key, so EVERY
        downstream key-partitioned consumer (join, aggregation, or a
        different job entirely) starts from co-located data.

        Writes a parquet table bucketed (and sorted) by the key and
        reads it back.  Joins and groupBys on the key between two
        tables bucketed the same way run with NO Exchange — the
        shuffle was paid once at write time, exactly the economics of
        Kafka's repartition topics (plan-gated in
        tests/test_plans.py::test_bucketed_join_skips_exchange).
        Prefer ``through()`` when only this job's lineage needs the
        partitioning; prefer this when the partitioned form is reused
        across jobs — at 100 TB, re-shuffling a fact table per job is
        the single largest avoidable cost."""
        if self.key is None:
            raise ValueError("through_bucketed() requires a key column")
        (self.df.write.mode("overwrite").format("parquet")
         .bucketBy(num_buckets, self.key).sortBy(self.key)
         .saveAsTable(table))
        return self._with(self.df.sparkSession.table(table))

    def deduplicate(self, *cols: ColumnOrName, within: str | None = None) -> "Stream":
        """Event deduplication — the Kafka Streams EventDeduplication
        pattern (a windowed-store Transformer that drops records whose
        id was already seen; kafka/streams examples) as a first-class
        op.  ``cols`` is the identity (default: the key); ``within``
        bounds how long an id is remembered.

        Batch: ``dropDuplicates`` (one hash shuffle).  Streaming with
        ``within``: ``dropDuplicatesWithinWatermark`` after a watermark
        of that delay — state for an id is dropped once the watermark
        passes, so memory is O(ids per window), never O(all ids ever)
        — exactly the windowed-store bound the reference pattern uses.
        """
        # Column → name via a select's resolved schema (no private _jc,
        # which Spark Connect lacks and versions move).
        idents = [c if isinstance(c, str) else self.df.select(c).columns[0]
                  for c in cols] or ([self.key] if self.key else None)
        if not idents:
            raise ValueError("deduplicate() needs identity columns or a key")
        df = self.df
        if within is not None and df.isStreaming:
            if self.ts is None:
                raise ValueError("deduplicate(within=...) requires an event-time column")
            df, delay = _watermark(df, self.ts, self.delay, within,
                                   "deduplicate within")
            return Stream(df.dropDuplicatesWithinWatermark(idents),
                          key=self.key, ts=self.ts, delay=delay)
        return self._with(df.dropDuplicates(idents))

    def to_parquet(self, path: str, mode: str = "overwrite",
                   partition_by: Sequence[str] | None = None) -> None:
        """KStream.to — KStream.java:458 (sink).  ``partition_by`` is
        the per-record dynamic routing surface (TopicNameExtractor,
        KStream.java:478): records land in one directory per route
        value, the columnar analogue of per-record topic routing."""
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    # -- grouping (§2.4) --------------------------------------------------

    def group_by_key(self) -> "GroupedStream":
        """KStream.groupByKey — KStream.java:895.  Records with a NULL
        key are skipped (reference semantics,
        KStreamSessionWindowAggregate.java:100-106)."""
        if self.key is None:
            raise ValueError("stream has no key; use group_by(expr)")
        return self.group_by(self.key, drop_null_keys=True)

    def group_by(self, *exprs: ColumnOrName, names: Sequence[str] | None = None,
                 drop_null_keys: bool = False) -> "GroupedStream":
        """KStream.groupBy — KStream.java:983.  Kafka's null-skip applies
        to the *record key*, so the pre-filter is opt-in here: group_by_key
        sets ``drop_null_keys=True``; arbitrary grouping expressions keep
        SQL NULL-group semantics (one group for NULL), matching the
        DuckDB oracles."""
        cols = [_col(e) for e in exprs]
        if names:
            cols = [c.alias(n) for c, n in zip(cols, names)]
        df = self.df
        if drop_null_keys:
            for c in cols:
                df = df.filter(c.isNotNull())
        return GroupedStream(df, cols, ts=self.ts, delay=self.delay)

    # -- joins (§2.3) ------------------------------------------------------

    def join_interval(
        self,
        other: "Stream",
        on: Column,
        windows: JoinWindows,
        how: str = "inner",
        left_ts: str | None = None,
        right_ts: str | None = None,
    ) -> "Stream":
        """KStream⋈KStream windowed join — KStream.java:1118 →
        KStreamKStreamJoin.java:88-100.  Match iff equi-key AND
        |ts_l − ts_r| within [−before, +after].  Null keys skipped.

        Batch: plain interval join (Catalyst can pick sort-merge with
        range pruning).  Streaming: both sides must carry watermarks.
        """
        lts_name = left_ts or self.ts
        rts_name = right_ts or other.ts
        lts, rts = _col(lts_name), _col(rts_name)
        time_pred = rts.between(
            lts - F.expr(f"INTERVAL {windows.before}"),
            lts + F.expr(f"INTERVAL {windows.after}"),
        )
        ldf = self.df.filter(_col(self.key).isNotNull()) if self.key else self.df
        rdf = other.df.filter(_col(other.key).isNotNull()) if other.key else other.df
        ldelay, rdelay = self.delay, other.delay
        if ldf.isStreaming and rdf.isStreaming:
            # Both sides buffer in state; watermark = grace (JoinWindows.
            # grace, JoinWindows.java:233) bounds the buffers, defaulting
            # to the window span itself so state is GC'd as soon as no
            # future match is possible (KStreamImplJoin dual window
            # stores ≙ the two join-state stores here).
            ldf, ldelay = _watermark(ldf, lts_name, ldelay,
                                     windows.grace or windows.before,
                                     "join grace")
            rdf, rdelay = _watermark(rdf, rts_name, rdelay,
                                     windows.grace or windows.after,
                                     "join grace")
        joined = ldf.join(rdf, on & time_pred, how)
        return Stream(joined, key=self.key, ts=self.ts,
                      delay=_min_delay(ldelay, rdelay))

    def join_table(self, table: "Table", on: Column, how: str = "inner") -> "Stream":
        """KStream⋈KTable lookup join — KStream.java:1604 →
        KStreamKTableJoinProcessor.java.  Stream side drives; table side
        provides current value per key.  how in {inner, left}."""
        if how not in ("inner", "left"):
            raise ValueError("stream-table join supports inner/left only")
        ldf = self.df.filter(_col(self.key).isNotNull()) if self.key else self.df
        return self._with(ldf.join(table.df, on, how))

    def join_global(self, gtable: "GlobalTable", on: Column, how: str = "inner") -> "Stream":
        """KStream⋈GlobalKTable — KStream.java:1873 →
        KStreamGlobalKTableJoin.java.  Arbitrary key-mapper join against a
        fully-replicated table ⇒ broadcast hash join, no shuffle."""
        if how not in ("inner", "left"):
            raise ValueError("global-table join supports inner/left only")
        return self._with(self.df.join(F.broadcast(gtable.df), on, how))

    # -- conversion ---------------------------------------------------------

    def to_table(self, order_by: ColumnOrName, value_cols: Sequence[str] | None = None) -> "Table":
        """Materialize latest-by-key view (KTable semantics) — see
        Table.from_changelog."""
        return Table.from_changelog(self.df, key=self.key, order_by=order_by,
                                    value_cols=value_cols)


# ---------------------------------------------------------------------------
# Grouped / windowed aggregation (§2.4, §2.5)
# ---------------------------------------------------------------------------


class GroupedStream:
    """KGroupedStream — KGroupedStreamImpl.java."""

    def __init__(self, df: DataFrame, keys: list[Column], ts: str | None,
                 delay: str | None = None):
        self.df = df
        self.keys = keys
        self.ts = ts
        self.delay = delay

    def count(self, name: str = "count") -> DataFrame:
        """KGroupedStream.count — KGroupedStream.java:71 →
        KStreamAggregate.java:71-97.  Map-side partial aggregation is
        automatic (Spark HashAggregate partial → final)."""
        return self.df.groupBy(*self.keys).agg(F.count(F.lit(1)).alias(name))

    def reduce(self, expr: Column, name: str) -> DataFrame:
        """KGroupedStream.reduce — KGroupedStream.java:151 (running
        reduce per key; here: any associative aggregate expression)."""
        return self.df.groupBy(*self.keys).agg(expr.alias(name))

    def aggregate(self, *aggs: Column) -> DataFrame:
        """KGroupedStream.aggregate — KGroupedStream.java:256 (init+fold).
        Pass pre-aliased aggregate expressions."""
        return self.df.groupBy(*self.keys).agg(*aggs)

    def aggregate_with(self, fn: Callable, schema: str) -> DataFrame:
        """KGroupedStream.aggregate with an *arbitrary* Initializer +
        Aggregator lambda (KGroupedStream.java:256; the §2.8 UDAF
        surface) — when the fold isn't expressible as Catalyst
        aggregates, run it as an Arrow-batched per-group pandas
        function: ``fn(pandas.DataFrame) → pandas.DataFrame`` (one
        group in, aggregate row(s) out).  Shuffles once on the keys,
        like any aggregate; prefer expression aggregates (``aggregate``)
        whenever possible — they get map-side partials, this doesn't."""
        return self.df.groupBy(*self.keys).applyInPandas(
            lambda pdf: fn(pdf), schema)

    def windowed_by(self, windows: Windows) -> "WindowedGroupedStream":
        """KStream.groupBy(...).windowedBy — TimeWindowedKStreamImpl.java."""
        if self.ts is None:
            raise ValueError("windowed aggregation requires an event-time column")
        return WindowedGroupedStream(self.df, self.keys, self.ts, windows,
                                     delay=self.delay)


class WindowedGroupedStream:
    """TimeWindowedKStream / SessionWindowedKStream over F.window /
    F.session_window.  Late-record handling in streaming comes from
    ``withWatermark`` (grace ≙ watermark delay) — KStreamWindowAggregate
    .java:96-153.  An upstream delay (e.g. ``deduplicate(within=…)``)
    serves as the grace when it is at least as long."""

    def __init__(self, df: DataFrame, keys: list[Column], ts: str, windows: Windows,
                 delay: str | None = None):
        self.df = df
        self.keys = keys
        self.ts = ts
        self.windows = windows
        self.delay = delay

    def _grouped(self):
        df = self.df
        if self.windows.kind == "unlimited":
            # Landmark window: drop records before the start; the single
            # window never closes (UnlimitedWindows.java:73 windowsFor).
            df = df.filter(
                F.col(self.ts) >= F.lit(self.windows.size).cast("timestamp"))
        if self.windows.grace and df.isStreaming:
            df, _ = _watermark(df, self.ts, self.delay, self.windows.grace,
                               "window grace")
        w = self.windows.window_col(self.ts)
        return df.groupBy(w.alias("window"), *self.keys)

    def count(self, name: str = "count") -> DataFrame:
        return self._grouped().agg(F.count(F.lit(1)).alias(name))

    def reduce(self, expr: Column, name: str) -> DataFrame:
        return self._grouped().agg(expr.alias(name))

    def aggregate(self, *aggs: Column) -> DataFrame:
        return self._grouped().agg(*aggs)

    def aggregate_with(self, fn: Callable, schema: str) -> DataFrame:
        """Arbitrary per-(window, key) fold — TimeWindowedKStream
        .aggregate with a non-expressible Aggregator
        (TimeWindowedKStreamImpl.java:63-112; session merge
        KStreamSessionWindowAggregate.java:94-141): Arrow-batched
        pandas function over each window-group, every window kind.
        The window struct is materialized as a real ``window`` column
        so it reaches the group frame (applyInPandas omits derived
        grouping exprs):

        - tumbling/unlimited: one window per row, direct groupBy;
        - hopping: each record explodes to its covering windows
          (TimeWindows.java:176-186 windowsFor) — epoch-aligned starts
          in (ts − size, ts], the same enumeration ``F.window(size,
          advance)`` performs, done with exact integer µs arithmetic;
        - session: gaps-and-islands per key (lag > gap starts a new
          session; window end = last event + gap, the F.session_window
          convention) — one shuffle on the keys, the sid/window passes
          and the final grouping all reuse that partitioning.

        Batch DataFrames only (streaming custom folds go through
        ``streaming.transform.process_with_state``).  Prefer expression
        aggregates (``aggregate``) when expressible — they get
        map-side partials, this doesn't."""
        df = self.df
        if df.isStreaming:
            raise ValueError(
                "aggregate_with is batch-only; streaming custom folds "
                "need keyed state — use streaming.transform."
                "process_with_state")
        if self.windows.kind in ("tumbling", "unlimited"):
            if self.windows.kind == "unlimited":
                df = df.filter(
                    F.col(self.ts)
                    >= F.lit(self.windows.size).cast("timestamp"))
            df = df.withColumn("window", self.windows.window_col(self.ts))
        elif self.windows.kind == "hopping":
            df = self._with_hopping_windows(df)
        else:  # session
            df = self._with_session_windows(df)
        return df.groupBy("window", *self.keys).applyInPandas(
            lambda pdf: fn(pdf), schema)

    def _interval_us(self, spec: str) -> Column:
        """Interval length in exact integer microseconds (no float
        duration parsing: true epoch + interval, read back as µs).
        ``timestamp_micros(0)`` is the tz-independent epoch — parsing
        an epoch *string* here would shift by the session timezone and
        return a wrong (even negative) length on non-UTC sessions."""
        return F.unix_micros(F.timestamp_micros(F.lit(0))
                             + F.expr(f"INTERVAL {spec}"))

    def _with_hopping_windows(self, df: DataFrame) -> DataFrame:
        size, adv = (self._interval_us(self.windows.size),
                     self._interval_us(self.windows.advance))
        e = F.unix_micros(F.col(self.ts))
        last_start = e - F.pmod(e, adv)          # newest covering window
        k_back = ((size - 1) - F.pmod(size - 1, adv)) / adv  # ⌊(size-1)/adv⌋
        first_start = last_start - k_back.cast("long") * adv
        start = F.explode(
            F.filter(F.sequence(first_start, last_start, adv),
                     lambda s: s > e - size)).alias("__ws")
        return (df.withColumn("__ws", start)
                .withColumn("window", F.struct(
                    F.timestamp_micros(F.col("__ws")).alias("start"),
                    F.timestamp_micros(F.col("__ws") + size).alias("end")))
                .drop("__ws"))

    def _with_session_windows(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W
        gap = F.expr(f"INTERVAL {self.windows.gap}")
        kw = W.partitionBy(*self.keys).orderBy(self.ts)
        lag_ts = F.lag(F.col(self.ts)).over(kw)
        new_s = (lag_ts.isNull()
                 | (F.col(self.ts) > lag_ts + gap)).cast("long")
        df = df.withColumn("__sid", F.sum(new_s).over(
            kw.rowsBetween(W.unboundedPreceding, W.currentRow)))
        sw = W.partitionBy(*self.keys, F.col("__sid"))
        return (df.withColumn("window", F.struct(
                    F.min(self.ts).over(sw).alias("start"),
                    (F.max(self.ts).over(sw) + gap).alias("end")))
                .drop("__sid"))


# ---------------------------------------------------------------------------
# Table (KTable) / GlobalTable (GlobalKTable)
# ---------------------------------------------------------------------------


class Table:
    """KTable — a latest-value-per-key view of a changelog.

    Compaction semantics (core/.../log/LogCleaner.scala:43-92): keep the
    last record per key; a NULL value is a tombstone that deletes the key.
    """

    def __init__(self, df: DataFrame, key: str):
        self.df = df
        self.key = key

    @classmethod
    def from_changelog(
        cls,
        df: DataFrame,
        key: str,
        order_by: ColumnOrName,
        value_cols: Sequence[str] | None = None,
        tombstone_col: str | None = None,
    ) -> "Table":
        """Build the latest-by-key snapshot: one shuffle on the key,
        ``max_by(struct(values), order)`` per key — the Spark shape of
        KTableSource.java (upsert-materialize).  If ``tombstone_col`` is
        given, keys whose *latest* record has NULL there are deleted
        (LogCleaner tombstone, KTableSource semantics)."""
        value_cols = list(value_cols or [c for c in df.columns if c != key])
        df = df.filter(F.col(key).isNotNull())
        latest = (
            df.groupBy(key)
            .agg(F.max_by(F.struct(*value_cols), _col(order_by)).alias("_v"))
            .select(key, "_v.*")
        )
        if tombstone_col:
            latest = latest.filter(F.col(tombstone_col).isNotNull())
        return cls(latest, key=key)

    def filter(self, predicate: Column) -> "Table":
        """KTable.filter — KTable.java:91 → KTableFilter.java (non-matching
        keys are tombstoned downstream ⇒ simply absent from the view)."""
        return Table(self.df.filter(predicate), key=self.key)

    def map_values(self, **exprs: Column) -> "Table":
        """KTable.mapValues — KTable.java:225 → KTableMapValues.java."""
        return Table(self.df.withColumns(dict(exprs)), key=self.key)

    def join(self, other: "Table", how: str = "inner") -> "Table":
        """KTable⋈KTable — KTable.java:725,887,1055 →
        KTableKTable{Inner,Left,Outer}Join.java.  Equi-join on the primary
        key of both tables; result keyed the same."""
        how = {"outer": "full_outer"}.get(how, how)
        if self.key == other.key:
            joined = self.df.join(other.df, on=[self.key], how=how)
        else:
            joined = self.df.join(other.df, self.df[self.key] == other.df[other.key], how)
        return Table(joined, key=self.key)

    def group_by(self, *exprs: ColumnOrName) -> "GroupedStream":
        """KTable.groupBy + aggregate with adder/subtractor —
        KTable.java:584 → KTableAggregate.java:72-98.  In batch the
        retraction machinery collapses: re-aggregate the current
        snapshot (old values were never added).  For streaming, see
        streaming/retraction.py (foreachBatch snapshot re-aggregation)."""
        return GroupedStream(self.df, [_col(e) for e in exprs], ts=None)

    def to_stream(self) -> Stream:
        """KTable.toStream — KTable.java:363."""
        return Stream(self.df, key=self.key)


class GlobalTable:
    """GlobalKTable — kstream/GlobalKTable.java:50-76: a table fully
    replicated to every instance for non-key lookup joins ⇒ broadcast."""

    def __init__(self, df: DataFrame, key: str):
        self.df = df
        self.key = key
