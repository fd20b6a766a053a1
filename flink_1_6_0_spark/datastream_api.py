"""DataStream API fluent façade — SURVEY.md §1.1/§2.2 (DataStream.java, 1225
LoC; KeyedStream.java; WindowedStream.java).

The reference's second major user surface. Each method delegates to the
DataFrame/Structured Streaming construct that implements the same semantics
(the mapping table is SURVEY.md §2.2/§2.5); the façade works identically over
bounded (batch) and unbounded (streaming) frames, like Flink's unified API.

Opaque user functions are accepted where Flink takes them (map/flatMap/
process) but run Arrow-batched, never per-row; when the logic is expressible
as a Column the expression forms (`map_expr`, `filter`) keep everything in
whole-stage codegen — the façade's docstrings steer users there.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from flink_1_6_0_spark.operators.joins import interval_join as _interval_join
from flink_1_6_0_spark.operators.joins import windowed_co_group as _windowed_co_group
from flink_1_6_0_spark.operators.joins import windowed_join as _windowed_join
from flink_1_6_0_spark.operators.windows import hop as _hop
from flink_1_6_0_spark.operators.windows import session as _session
from flink_1_6_0_spark.operators.windows import tumble as _tumble


class _BatchGroupState:
    """GroupState stand-in for BOUNDED inputs: in batch every row of the key
    is in the single grouped pass, so per-group transient state reproduces
    the keyed-state semantics exactly (Flink's unified bounded/unbounded
    contract). Supports the subset of pyspark GroupState the process
    functions use."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state not set")
        return self._v

    @property
    def getOption(self):
        return self._v

    @property
    def hasTimedOut(self):
        return False

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None


def _process_with_state(df: DataFrame, keys: list[str], fn, out_schema: str,
                        state_schema: str, mode: str, timeout: str) -> DataFrame:
    """KeyedProcessFunction dispatch: applyInPandasWithState on streams;
    on bounded frames, the same ``fn(key, pdf_iter, state)`` runs under
    applyInPandas with a per-group _BatchGroupState."""
    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        to = getattr(GroupStateTimeout, timeout)
        return df.groupBy(*keys).applyInPandasWithState(fn, out_schema, state_schema, mode, to)

    import pandas as pd

    from flink_1_6_0_spark.streaming.keyed import schema_names

    out_cols = schema_names(out_schema)

    def run(key, pdf):
        frames = [f for f in fn(key, iter([pdf]), _BatchGroupState()) if len(f)]
        return pd.concat(frames) if frames else pd.DataFrame(columns=out_cols)

    return df.groupBy(*keys).applyInPandas(run, out_schema)


def _fold_groups(df: DataFrame, group_cols: list[str], initial: dict, fold_fn,
                 schema: str, order_by: list[str]) -> DataFrame:
    """fold(initialValue, FoldFunction) kernel (WindowedStream.java:422,470;
    KeyedStream fold): accumulate-with-seed over each group's rows, visited in
    ``order_by`` order (fold is order-sensitive — the reference folds in
    arrival order; a bounded frame has no arrival order, so the caller names
    one). ``fold_fn(acc, row) -> acc`` with ``acc`` a dict seeded from
    ``initial``; the output row is the group columns plus the final
    accumulator, so ``schema`` must list both."""
    import pandas as pd

    def run(pdf):
        acc = dict(initial)
        for row in pdf.sort_values(order_by).itertuples(index=False):
            acc = fold_fn(acc, row)
        head = {c: pdf.iloc[0][c] for c in group_cols}
        return pd.DataFrame([{**head, **acc}])

    return df.groupBy(*group_cols).applyInPandas(run, schema)


class DataStream:
    """DataStream.java surface over a (batch or streaming) DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- transforms (DataStream.java:583-714) -------------------------------
    def map_expr(self, *cols: Column | str) -> "DataStream":
        """map as a projection (DataStream.java:583) — the codegen fast path."""
        return DataStream(self.df.select(*cols))

    def map(self, fn: Callable, schema: str) -> "DataStream":
        """map with an opaque function — Arrow-batched mapInPandas."""

        def run(batches):
            for pdf in batches:
                yield fn(pdf)

        return DataStream(self.df.mapInPandas(run, schema=schema))

    def flat_map(self, udtf_col: Column, aliases: list[str], keep: list[str] | None = None) -> "DataStream":
        """flatMap (DataStream.java:611) — array-producing expression + explode."""
        from flink_1_6_0_spark.operators.correlate import join_lateral

        return DataStream(join_lateral(self.df, udtf_col, aliases, keep=keep))

    def filter(self, predicate: Column | str) -> "DataStream":
        """filter (DataStream.java:692)."""
        return DataStream(self.df.filter(predicate))

    def project(self, *cols: str) -> "DataStream":
        """project (DataStream.java:714)."""
        return DataStream(self.df.select(*cols))

    def union(self, *others: "DataStream") -> "DataStream":
        """multi-way same-type union (DataStream.java:212)."""
        out = self.df
        for o in others:
            out = out.union(o.df)
        return DataStream(out)

    def assign_timestamps(self, ts_col: str, delay: str) -> "DataStream":
        """Deprecated 1.6 alias of assignTimestampsAndWatermarks
        (DataStream.java:858)."""
        return self.assign_timestamps_and_watermarks(ts_col, delay)

    def assign_timestamps_and_watermarks(self, ts_col: str, delay: str) -> "DataStream":
        """assignTimestampsAndWatermarks + BoundedOutOfOrdernessTimestampExtractor
        (DataStream.java:888, functions/timestamps/)."""
        return DataStream(self.df.withWatermark(ts_col, delay) if self.df.isStreaming else self.df)

    # -- keying (DataStream.java:288) ---------------------------------------
    def process(self, fn: Callable, schema: str) -> "DataStream":
        """Non-keyed process (DataStream.java:638, ProcessFunction without
        keyed state): arbitrary per-element logic, Arrow-batched. For keyed
        state + timers use ``key_by(...).process(...)``."""

        def run(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return DataStream(self.df.mapInPandas(run, schema=schema))

    def connect(self, other: "DataStream") -> "ConnectedStreams":
        """connect(other) (DataStream.java:273) → ConnectedStreams: two
        differently-typed streams sharing one downstream operator."""
        return ConnectedStreams(self.df, other.df)

    def split(self, **selectors: Column) -> "SplitStream":
        """split(OutputSelector) (DataStream.java:238): route each element to
        named outputs by predicate; retrieve with .select(name). Spark form:
        each select() is a filter over the SAME source frame — Catalyst
        collapses the common scan, so this costs one pass like the
        reference's single OutputSelector evaluation."""
        return SplitStream(self.df, selectors)

    # -- non-keyed (All) windows (DataStream.java:748,769,785) --------------
    def window_all(self, window_col: Column) -> "WindowedDataStream":
        """windowAll(assigner) (DataStream.java:748, AllWindowedStream.java) —
        a window over the WHOLE stream, no keys. The reference javadoc warns
        this is inherently non-parallel (all elements on one task); here the
        groupBy has only the window column, so each window is still one
        reducer — same contract, but distinct windows spread across the
        cluster, which is strictly better than the reference's parallelism-1
        operator."""
        return WindowedDataStream(self.df, [], window_col)

    def time_window_all(self, ts: str, size: str, slide: str | None = None) -> "WindowedDataStream":
        """timeWindowAll (DataStream.java:769) — tumbling, or sliding when
        ``slide`` is given (the reference's two overloads)."""
        return self.window_all(_tumble(ts, size) if slide is None else _hop(ts, slide, size))

    def count_window_all(self, order_by: list[str], size: int) -> "CountWindowedDataStream":
        """countWindowAll (DataStream.java:785) — buckets of ``size`` rows over
        the whole stream. The row numbering runs in one partition (exactly the
        reference's non-parallel AllWindowedStream); per-bucket aggregation
        after it is distributed."""
        return CountWindowedDataStream(self.df, [], order_by, size)

    def key_by(self, *keys: str) -> "KeyedStream":
        return KeyedStream(self.df, list(keys))

    # -- physical partitioning (ShipStrategyType.java:31-66; DataStream.java
    #    shuffle:370, rebalance:388, rescale:404, broadcast:425, global:441,
    #    partitionCustom:316, forward:381) ------------------------------------
    def shuffle(self, partitions: int | None = None) -> "DataStream":
        """PARTITION_RANDOM — round-robin redistribution (`repartition()`)."""
        return DataStream(self.df.repartition(partitions) if partitions else self.df.repartition())

    def rebalance(self, partitions: int | None = None) -> "DataStream":
        """PARTITION_FORCED_REBALANCE — even redistribution. Spark's
        round-robin repartition IS the rebalance (with AQE it also splits
        skewed blocks via the REBALANCE_PARTITIONS_BY_NONE hint)."""
        return DataStream(
            self.df.hint("rebalance") if partitions is None else self.df.repartition(partitions)
        )

    def rescale(self, partitions: int) -> "DataStream":
        """RESCALE — local fan-in without a full shuffle: `coalesce` merges
        co-located partitions, no exchange (the reference's rescale also
        avoids a full network shuffle)."""
        return DataStream(self.df.coalesce(partitions))

    def partition_by_hash(self, *cols: str) -> "DataStream":
        """PARTITION_HASH (keyBy's physical form) — `repartition(cols)`."""
        return DataStream(self.df.repartition(*[F.col(c) for c in cols]))

    def partition_by_range(self, *cols: str) -> "DataStream":
        """PARTITION_RANGE (DataSetSort.scala:98) — `repartitionByRange`."""
        return DataStream(self.df.repartitionByRange(*[F.col(c) for c in cols]))

    def partition_custom(self, expr: Column, num_partitions: int | None = None) -> "DataStream":
        """partitionCustom (DataStream.java:316) — partition by an arbitrary
        expression (the Partitioner's ``partition(key, n) -> int`` logic
        expressed as a Column computing the target index).

        Routing is RANGE-based, not hash-based (r12, PartitionerITCase port):
        the reference's Partitioner returns a DIRECT partition index, and
        hashing that index (repartition(expr)) can collide two distinct
        targets into one task — rows meant for subtasks 0 and 2 landed
        together. repartitionByRange assigns distinct index values to
        distinct, ORDER-preserving partitions, so 'route c to its own
        subtask' semantics hold; the absolute Spark partition id is the
        RANK of the index value, a declared mapping (Spark does not expose
        direct-index placement in the DataFrame API)."""
        if num_partitions is not None:
            return DataStream(self.df.repartitionByRange(num_partitions, expr))
        return DataStream(self.df.repartitionByRange(expr))

    def broadcast(self) -> "DataStream":
        """BROADCAST (DataStream.java:425) — mark for broadcast to every task
        of the consumer (effective at the next join)."""
        return DataStream(F.broadcast(self.df))

    def global_(self) -> "DataStream":
        """GLOBAL (DataStream.java:441) — everything to one partition."""
        return DataStream(self.df.coalesce(1))

    def forward(self) -> "DataStream":
        """FORWARD — no redistribution (identity; Spark pipelines narrow
        stages automatically)."""
        return self

    # -- sinks (DataStream.java:962-1197) -----------------------------------
    def print(self, n: int = 20) -> None:
        self.df.show(n)

    def write_as_csv(self, path: str) -> None:
        self.df.write.mode("overwrite").csv(path)

    def write_as_text(self, path: str) -> None:
        self.df.write.mode("overwrite").text(path)

    def write_to_socket(self, host: str, port: int, serializer=None) -> None:
        """writeToSocket (DataStream.java:1120): each partition opens one TCP
        connection and streams its rows — the N-connections shape of the
        reference's parallelism-N socket sink (theirs pins parallelism 1;
        ours documents the multi-writer contract instead)."""
        ser = serializer or (lambda row: (",".join(str(v) for v in row) + "\n").encode())

        def send(rows) -> None:
            import socket

            with socket.create_connection((host, port)) as s:
                for r in rows:
                    s.sendall(ser(r))

        self.df.foreachPartition(send)

    def add_sink(self, writer_fn):
        """addSink — caller-provided writer (foreachBatch for streams)."""
        return writer_fn(self.df)


class KeyedStream:
    """KeyedStream.java surface: keyed state ops, windows, interval joins."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def reduce(self, *aggs: Column) -> DataStream:
        """keyed reduce → groupBy().agg (KeyedStream rolling aggregates)."""
        return DataStream(self.df.groupBy(*self.keys).agg(*aggs))

    def sum(self, col: str) -> DataStream:
        return self.reduce(F.sum(col).alias(f"sum_{col}"))

    def min(self, col: str) -> DataStream:
        return self.reduce(F.min(col).alias(f"min_{col}"))

    def max(self, col: str) -> DataStream:
        return self.reduce(F.max(col).alias(f"max_{col}"))

    def min_by(self, value: str, ordering: str) -> DataStream:
        return self.reduce(F.min_by(value, ordering).alias(value))

    def max_by(self, value: str, ordering: str) -> DataStream:
        return self.reduce(F.max_by(value, ordering).alias(value))

    # -- rolling aggregates (StreamGroupedReduce + SumAggregator /
    #    ComparableAggregator: KeyedStream.sum emits one element PER INPUT,
    #    the aggregated field running, the other fields carried from the
    #    key's FIRST element — DataStreamPojoITCase.java:47 pins this incl.
    #    NESTED field expressions like "stats.count") -----------------------
    def _rolling(self, field: str, agg, order_by: list[str]) -> DataStream:
        from pyspark.sql.window import Window

        path = field.split(".")
        # CompositeType field-expression validation
        # (InvalidFieldReferenceException analog)
        dt = self.df.schema
        for seg in path:
            names = [f.name for f in dt.fields] if hasattr(dt, "fields") else []
            if seg not in names:
                raise ValueError(
                    f"Invalid field reference {field!r}: {seg!r} not in {names}"
                )
            dt = dt[seg].dataType
        w = (
            Window.partitionBy(*self.keys)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        running = agg(F.col(field)).over(w)
        out = []
        for c in self.df.columns:
            if c == path[0]:
                if len(path) == 1:
                    out.append(running.alias(c))
                else:  # nested: carry the struct, update the leaf in place
                    col = F.first(c).over(w).withField(".".join(path[1:]), running)
                    out.append(col.alias(c))
            else:
                out.append(F.first(c).over(w).alias(c))
        return DataStream(self.df.select(*out))

    def rolling_sum(self, field: str, order_by: list[str]) -> DataStream:
        return self._rolling(field, F.sum, order_by)

    def rolling_min(self, field: str, order_by: list[str]) -> DataStream:
        return self._rolling(field, F.min, order_by)

    def rolling_max(self, field: str, order_by: list[str]) -> DataStream:
        return self._rolling(field, F.max, order_by)

    def process(self, fn, out_schema: str, state_schema: str, mode: str = "append", timeout: str = "NoTimeout") -> DataStream:
        """KeyedProcessFunction (ProcessFunction.java:51,70,85 — processElement
        + onTimer + keyed state) → applyInPandasWithState; timers are state
        timeouts. On bounded inputs the same fn runs with per-group batch
        state (the unified-API contract)."""
        return DataStream(
            _process_with_state(self.df, self.keys, fn, out_schema, state_schema, mode, timeout)
        )

    def window(self, window_col: Column) -> "WindowedDataStream":
        """window(assigner) (DataStream.java:748)."""
        return WindowedDataStream(self.df, self.keys, window_col)

    def tumbling_window(self, ts: str, size: str) -> "WindowedDataStream":
        return self.window(_tumble(ts, size))

    def sliding_window(self, ts: str, slide: str, size: str) -> "WindowedDataStream":
        return self.window(_hop(ts, slide, size))

    def session_window(self, ts: str, gap: str) -> "WindowedDataStream":
        return self.window(_session(ts, gap))

    def time_window(self, ts: str, size: str, slide: str | None = None) -> "WindowedDataStream":
        """timeWindow (KeyedStream.java:tumbling/sliding overloads) — the
        reference's shorthand for window(Tumbling/SlidingEventTimeWindows)."""
        return self.tumbling_window(ts, size) if slide is None else self.sliding_window(ts, slide, size)

    def as_queryable_state(self, name: str, *aggs: Column, mode: str = "complete"):
        """asQueryableState (KeyedStream.java:1004): publish this keyed
        aggregate as a point-lookupable state table while the stream runs."""
        from flink_1_6_0_spark.streaming.queryable_state import QueryableState

        return QueryableState(self.df.groupBy(*self.keys).agg(*aggs), name, mode)

    def count_window(self, order_by: list[str], size: int) -> "CountWindowedDataStream":
        """countWindow(size) (KeyedStream.countWindow) — per-key buckets of
        ``size`` rows in ``order_by`` order."""
        return CountWindowedDataStream(self.df, self.keys, order_by, size)

    def cep(self, pat, ts_col: str, id_col: str, type_col: str | None = None, **stream_opts):
        """CEP.pattern(keyedStream, pattern) (CEP.java:38) — returns the
        PatternStream facade; ``.select()`` / ``.select_with_timeouts()``
        route to the batch NFA or the stateful-stream executor by
        ``df.isStreaming`` (streaming options: ``disorder_seconds``,
        ``attr_cols``, ``with`` timeouts via the select variant)."""
        from flink_1_6_0_spark.streaming.cep import pattern as _cep_pattern

        return _cep_pattern(self.df, pat, self.keys, ts_col, id_col, type_col, **stream_opts)

    def fold(self, initial: dict, fold_fn, schema: str, order_by: list[str]) -> DataStream:
        """KeyedStream fold (deprecated-in-1.6 but present): rolling
        accumulate-with-seed per key. On a bounded frame the rolling fold's
        last emission per key is the full fold — that final accumulator is
        what this returns (one row per key; ``schema`` = keys + acc fields).
        Order-sensitive: rows visit ``fold_fn`` in ``order_by`` order."""
        return DataStream(_fold_groups(self.df, self.keys, initial, fold_fn, schema, order_by))

    def co_group(self, other: "KeyedStream") -> "CoGroupedStreams":
        """coGroup(other).where().equalTo() (DataStream.java:730,
        CoGroupedStreams.java:126) — the where/equalTo keys are the two
        KeyedStreams' keys; chain ``.window(...).apply(...)``."""
        return CoGroupedStreams(self, other)

    def _paired_keys(self, other: "KeyedStream") -> list[tuple[str, str]]:
        if len(self.keys) != len(other.keys):
            raise ValueError(
                f"keyBy arity mismatch: {self.keys} vs {other.keys} — both sides "
                "of a keyed join must key on the same number of fields"
            )
        return list(zip(self.keys, other.keys))

    def interval_join(self, other: "KeyedStream", left_ts: str, right_ts: str, lower: str, upper: str) -> DataStream:
        """intervalJoin (KeyedStream.java:414, IntervalJoinOperator.java:89).
        For self-joins, prefix one side's columns first (shared-lineage
        attributes are otherwise ambiguous — see queries.windows for the
        pattern)."""
        return DataStream(
            _interval_join(self.df, other.df, self._paired_keys(other), left_ts, right_ts, lower, upper)
        )

    def windowed_join(self, other: "KeyedStream", left_ts: str, right_ts: str, window: str) -> DataStream:
        """join().where().equalTo().window() (JoinedStreams.java:126)."""
        return DataStream(
            _windowed_join(self.df, other.df, self._paired_keys(other), left_ts, right_ts, window)
        )


class WindowedDataStream:
    """WindowedStream.java surface (reduce/aggregate/apply + pre-wired aggs)."""

    def __init__(self, df: DataFrame, keys: list[str], window_col: Column):
        self.df = df
        self.keys = keys
        self.window_col = window_col

    def aggregate(self, *aggs: Column) -> DataStream:
        """WindowedStream.aggregate (WindowedStream.java:689). Rows the
        assigner gives NO window (NULL rowtime; the gap of a slide>size hop)
        form a NULL group dropped after the aggregate — the zero-window
        contract (review finding: they previously leaked out as a bogus
        NULL-window row)."""
        out = (
            self.df.groupBy(self.window_col.alias("window"), *self.keys)
            .agg(*aggs)
            .filter(F.col("window").isNotNull())
        )
        return DataStream(
            out.select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                *[c for c in out.columns if c != "window"],
            )
        )

    reduce = aggregate

    def sum(self, col: str) -> DataStream:
        return self.aggregate(F.sum(col).alias(f"sum_{col}"))

    def min(self, col: str) -> DataStream:
        return self.aggregate(F.min(col).alias(f"min_{col}"))

    def max(self, col: str) -> DataStream:
        return self.aggregate(F.max(col).alias(f"max_{col}"))

    def apply(self, fn, schema: str) -> DataStream:
        """full-window apply (WindowedStream.java:1056) — the window's rows as
        one pandas frame per (key, window). Zero-window rows are dropped
        BEFORE the apply (fn must never see the NULL group)."""
        win = self.df.withColumn("__window", self.window_col).filter(
            F.col("__window").isNotNull()
        )
        return DataStream(
            win.drop("__window")
            .groupBy(self.window_col.alias("window"), *self.keys)
            .applyInPandas(fn, schema=schema)
        )

    # ProcessWindowFunction (WindowedStream.java:process) — same contract as
    # apply: the window's full contents as one frame
    process = apply

    def fold(self, initial: dict, fold_fn, schema: str, order_by: list[str]) -> DataStream:
        """WindowedStream.fold (WindowedStream.java:422,470) —
        accumulate-with-seed per (key, window), emitted at window end. One
        output row per window: window_start, window_end, keys, then the final
        accumulator fields (``schema`` must list all of them)."""
        win = (
            self.df.withColumn("__window", self.window_col)
            .filter(F.col("__window").isNotNull())  # zero-window rows drop
            .select(
                F.col("__window.start").alias("window_start"),
                F.col("__window.end").alias("window_end"),
                *[c for c in self.df.columns],
            )
        )
        group_cols = ["window_start", "window_end", *self.keys]
        return DataStream(_fold_groups(win, group_cols, initial, fold_fn, schema, order_by))


class CountWindowedDataStream:
    """countWindow / countWindowAll result: rows bucketed into windows of
    ``size`` rows per key (KeyedStream.countWindow; DataStream.java:785).
    The bucket index rides as ``count_window``; aggregation over
    (keys, count_window) is an ordinary distributed hash agg."""

    def __init__(self, df: DataFrame, keys: list[str], order_by: list[str], size: int):
        from flink_1_6_0_spark.operators.windows import count_window as _count_window

        self.df = _count_window(df, keys, order_by, size)
        self.keys = keys

    def aggregate(self, *aggs: Column) -> DataStream:
        return DataStream(self.df.groupBy(*self.keys, "count_window").agg(*aggs))

    reduce = aggregate

    def sum(self, col: str) -> DataStream:
        return self.aggregate(F.sum(col).alias(f"sum_{col}"))

    def apply(self, fn, schema: str) -> DataStream:
        return DataStream(self.df.groupBy(*self.keys, "count_window").applyInPandas(fn, schema=schema))


class CoGroupedStreams:
    """coGroup().where().equalTo().window().apply() builder
    (CoGroupedStreams.java:126): per-window full-outer grouped dual-input
    apply — unlike the windowed JOIN, the function fires for every
    (key, window) present on EITHER side, with the absent side empty."""

    def __init__(self, left: "KeyedStream", right: "KeyedStream"):
        self.left = left
        self.right = right
        self._window: str | None = None
        self._left_ts = self._right_ts = None

    def window(self, left_ts: str, right_ts: str, window: str) -> "CoGroupedStreams":
        """Tumbling-window assigner over both inputs (the reference's
        window(TumblingEventTimeWindows.of(...)))."""
        self._left_ts, self._right_ts, self._window = left_ts, right_ts, window
        return self

    def apply(self, fn, schema: str) -> DataStream:
        """``fn(key, left_pdf, right_pdf) -> pdf`` — CoGroupFunction's
        (Iterable, Iterable, Collector) as Arrow-batched pandas cogroup."""
        if self._window is None:
            raise ValueError("call .window(left_ts, right_ts, size) before .apply()")
        keys = self.left._paired_keys(self.right)
        return DataStream(
            _windowed_co_group(
                self.left.df, self.right.df, keys,
                self._left_ts, self._right_ts, self._window, fn, schema,
            )
        )


class SplitStream:
    """SplitStream.java surface: named filtered views of one stream."""

    def __init__(self, df: DataFrame, selectors: dict[str, Column]):
        self.df = df
        self.selectors = selectors

    def select(self, *names: str) -> DataStream:
        """SplitStream.select — the named outputs as ONE stream. An element
        matching several selected outputs is delivered ONCE (Flink's
        DirectedOutput collects the outputs into a set before emitting), so
        the predicates are OR-ed instead of union-ed — a filter union
        duplicated multi-match rows and silently inflated downstream
        aggregates (review finding)."""
        preds = [self.selectors[n] for n in names]
        cond = preds[0]
        for p in preds[1:]:
            cond = cond | p
        return DataStream(self.df.filter(cond))


class ConnectedStreams:
    """ConnectedStreams.java:58 — two input streams, one operator. The Spark
    form is a TAGGED UNION: each side is mapped to the shared output (or
    state-input) schema, a literal ``side`` column distinguishes the inputs,
    and downstream operators see one frame — same dataflow, no special
    two-input operator needed."""

    def __init__(self, df1: DataFrame, df2: DataFrame):
        self.df1 = df1
        self.df2 = df2

    def map_expr(self, cols1: list[Column], cols2: list[Column]) -> DataStream:
        """CoMapFunction via Column expressions (ConnectedStreams.java:226
        map(CoMapFunction) — map1 on the first input, map2 on the second;
        both must produce the same schema). Stays in whole-stage codegen."""
        return DataStream(self.df1.select(*cols1).unionByName(self.df2.select(*cols2)))

    def map(self, fn1, fn2, schema: str) -> DataStream:
        """CoMapFunction via opaque pandas functions — Arrow-batched per
        side, then unioned (each fn: iterator-of-frames form as mapInPandas)."""
        return DataStream(
            self.df1.mapInPandas(fn1, schema).unionByName(self.df2.mapInPandas(fn2, schema))
        )

    flat_map = map  # CoFlatMapFunction (:257) — pandas fns may emit 0..n rows

    def key_by(self, keys1: list[str], keys2: list[str]) -> "ConnectedKeyedStreams":
        """keyBy(keySelector1, keySelector2) (ConnectedStreams.java:93)."""
        return ConnectedKeyedStreams(self.df1, self.df2, keys1, keys2)


class ConnectedKeyedStreams:
    """Keyed two-input process — CoProcessFunction (ConnectedStreams.java:292
    process(CoProcessFunction)) with SHARED keyed state across both inputs
    (the reference's TwoInputStreamOperator state unification)."""

    def __init__(self, df1: DataFrame, df2: DataFrame, keys1: list[str], keys2: list[str]):
        self.df1 = df1
        self.df2 = df2
        self.keys1 = keys1
        self.keys2 = keys2

    def process(
        self,
        fn,
        out_schema: str,
        state_schema: str,
        mode: str = "append",
        timeout: str = "NoTimeout",
    ) -> DataStream:
        """``fn(key, pdf_iter, state)`` sees the tagged union: rows carry
        ``side`` (1|2) plus the union of both inputs' columns (absent side's
        columns null), keyed by the aligned key columns (side-2 keys renamed
        to side-1 names). One shuffle on the shared key — identical to the
        reference's keyed two-input exchange.

        Name-collision guards: renaming a side-2 key onto a side-1 key name
        that side 2 ALSO carries as a payload column would make the key
        ambiguous, and a pre-existing ``side`` column would collide with the
        injected tag — both raise instead of failing downstream with
        AMBIGUOUS_REFERENCE."""
        if "side" in self.df1.columns or "side" in self.df2.columns:
            raise ValueError("inputs must not carry a 'side' column (reserved for the union tag)")
        for k1, k2 in zip(self.keys1, self.keys2):
            if k1 != k2 and k1 in self.df2.columns:
                raise ValueError(
                    f"side-2 key {k2!r} aligns to {k1!r}, but side 2 already has a {k1!r} column"
                )
        a = self.df1.select(F.lit(1).alias("side"), "*")
        b = self.df2.select(F.lit(2).alias("side"), "*")
        for k1, k2 in zip(self.keys1, self.keys2):
            if k1 != k2:
                b = b.withColumnRenamed(k2, k1)
        tagged = a.unionByName(b, allowMissingColumns=True)
        return DataStream(
            _process_with_state(tagged, self.keys1, fn, out_schema, state_schema, mode, timeout)
        )
