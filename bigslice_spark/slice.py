"""Slice: bigslice's typed, sharded dataset re-expressed as a DataFrame.

Reference: /root/reference/slice.go:67-105 — a Slice is an ordered dataset of
n columns over shards, with the first ``prefix`` columns acting as the key
for keyed operations (slice.go:1044-1056 Prefixed). Here a Slice wraps a
DataFrame plus that prefix width; every combinator lowers to declarative
DataFrame ops so Catalyst plans the physical execution (fusion, partial
aggregation, shuffle) that bigslice's compiler does by hand
(reference exec/compile.go:29-48).

Design rule (the whole point of the Spark build): each combinator has a
**native fast path** (Column expressions → whole-stage codegen) and an
**Arrow slow path** (mapInPandas/applyInPandas) only for opaque user
functions — mirroring how bigslice runs user Go funcs row-wise inside
vectorized 128-row Frames (reference slice.go:600-634).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _is_col(x: Any) -> bool:
    return isinstance(x, Column)


def _require_schema(op: str, schema: Any) -> None:
    """Construction-time typecheck, mirroring the reference's panics at
    slice construction (reference typecheck/typecheck.go; slice_test.go:727
    TestMapError): an opaque-fn path without a declared output schema
    would otherwise fail lazily at action time, far from the bug."""
    if schema is None:
        raise TypeError(
            f"{op}: an fn-path needs an explicit output schema "
            "(e.g. schema='k string, v long') — the function is opaque, "
            "so the output type can't be inferred")


def _apply_pragma(df: DataFrame, pragma: Any,
                  keys: list[str] | None = None) -> DataFrame:
    """Apply a resource pragma (bigslice_spark.pragma) ahead of an
    opaque-fn stage; None is a no-op. Late import: pragma is optional."""
    if pragma is None:
        return df
    from .pragma import apply_pragma
    return apply_pragma(df, pragma, keys=keys)


def _check_cogroup_keys(slices: Sequence["Slice"]) -> None:
    """Keys must agree in width AND type across cogroup inputs
    (reference cogroup.go:60-77 typechecks key assignability)."""
    k = slices[0].prefix
    want = [f.dataType for f in slices[0].df.schema.fields[:k]]
    for i, s in enumerate(slices[1:], start=1):
        if s.prefix != k:
            raise ValueError(
                f"cogroup: input {i} has key width {s.prefix}, "
                f"expected {k}")
        got = [f.dataType for f in s.df.schema.fields[:k]]
        if got != want:
            raise TypeError(
                f"cogroup: input {i} key types {[str(t) for t in got]} "
                f"!= input 0 key types {[str(t) for t in want]}")


def field_ddl(df: DataFrame, name: str) -> str:
    """``"name type"`` for one column of ``df`` — how a per-row stage
    carries an input column's type into its output schema."""
    return f"{name} {df.schema[name].dataType.simpleString()}"


def flatmap_rows(df: DataFrame, fn: Callable[[tuple], Iterable[tuple]],
                 schema: Any) -> DataFrame:
    """The one per-row Python stage (Flatmap's fn path, reference
    slice.go:728-841): ``fn(row_tuple)`` runs on each row of ``df`` (its
    columns in order; NULL reaches ``fn`` as None, or NaN for a numeric
    column holding nulls) and returns an iterable of output tuples whose
    fields follow ``schema`` by POSITION. Rows travel in Arrow batches;
    a batch that produces no rows yields no frame."""
    import pandas as pd

    def _gen(batches):
        for pdf in batches:
            rows = [out for tup in pdf.itertuples(index=False, name=None)
                    for out in fn(tup)]
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(_gen, schema=schema)


_NO_ACC = object()  # fold_stream stage 2: no segment merged yet


def _fold_key_runs(batches, keys, init, step, finish):
    """The key-run loop under ``Slice.fold_stream``: over key-sorted
    Arrow batches, each run of equal ``keys`` folds chunk by chunk as
    ``acc = step(acc, chunk)`` from ``init()`` (a run may span
    batches), and ``finish(key_tuple, acc)`` makes its output row.
    Yields the rows each batch completed, then the last run's."""
    import pandas as pd

    cur_key, acc = None, None
    rows: list = []
    for pdf in batches:
        if pdf.empty:
            continue
        # consecutive runs of equal keys (input is key-sorted);
        # dropna=False — Spark groupBy keeps a null-key group
        for key, chunk in pdf.groupby(list(keys), sort=False,
                                      dropna=False):
            key = key if isinstance(key, tuple) else (key,)
            # normalize pandas' NaN null-key marker to None so a null-key
            # group compares equal ACROSS chunks (NaN != NaN would
            # re-emit it once per batch)
            key = tuple(None if (isinstance(x, float) and x != x) else x
                        for x in key)
            if key != cur_key:
                if cur_key is not None:
                    rows.append(finish(cur_key, acc))
                cur_key, acc = key, init()
            acc = step(acc, chunk)
        if rows:
            yield pd.DataFrame(rows)
            rows = []
    if cur_key is not None:
        yield pd.DataFrame([finish(cur_key, acc)])


class Slice:
    """A sharded, keyed dataset. ``prefix`` = key width (first k columns)."""

    def __init__(self, df: DataFrame, prefix: int = 1) -> None:
        if prefix < 1 or prefix > len(df.columns):
            raise ValueError(
                f"prefix {prefix} out of range for columns {df.columns}")
        self.df = df
        self.prefix = prefix

    # -- introspection ----------------------------------------------------

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def key_cols(self) -> list[str]:
        """The key prefix (reference slicetype/slicetype.go:22-26)."""
        return self.df.columns[: self.prefix]

    @property
    def value_cols(self) -> list[str]:
        return self.df.columns[self.prefix:]

    def _static_num_partitions(self) -> int | None:
        """Partition count declared by the physical plan's output
        partitioning (repartition/reshard/agg/join tops all declare
        one) — read from the adaptive plan's INITIAL physical plan
        (post-EnsureRequirements, pre-execution), which costs planning
        only. Neither ``df.rdd`` nor the adaptive plan's own
        ``outputPartitioning()`` is safe here: both force AQE to
        execute every upstream query stage of a wide plan just to
        answer a metadata question (measured: two jobs for one
        ``num_shard()`` on an aggregate); and ``sparkPlan`` is too
        EARLY — exchanges aren't inserted yet, so an aggregate still
        reads UnknownPartitioning there. The declared count is the
        contract value anyway — AQE may coalesce below it at runtime,
        exactly as a bigslice shard may end up empty. None when the
        plan doesn't declare one (scan/union tops)."""
        ep = self._initial_physical_plan()
        if ep is None:
            return None
        try:
            n = ep.outputPartitioning().numPartitions()
            return n if n > 0 else None
        except Exception:
            return None

    def _initial_physical_plan(self):
        """The physical plan post-EnsureRequirements but PRE-adaptive
        execution (the AQE node unwrapped to its initialPlan) — the
        one plan object safe to inspect without running jobs."""
        try:
            ep = self.df._jdf.queryExecution().executedPlan()
            if (ep.getClass().getSimpleName()
                    == "AdaptiveSparkPlanExec"):
                ep = ep.initialPlan()
            return ep
        except Exception:
            return None

    def num_shard(self) -> int:
        """Declared shard count (reference Slice.NumShard). Static
        from the plan where declared; the RDD fallback only runs for
        undeclared tops (scans — where building the RDD is narrow and
        runs no job)."""
        n = self._static_num_partitions()
        return n if n is not None else self.df.rdd.getNumPartitions()

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    def _with(self, df: DataFrame, prefix: int | None = None) -> "Slice":
        p = self.prefix if prefix is None else prefix
        return Slice(df, prefix=min(p, len(df.columns)))

    # -- core combinators (reference §2.1) --------------------------------

    def map_(self, *exprs: Column | str, fn: Callable | None = None,
             schema: Any = None, prefix: int = 1,
             pragma: "Any" = None) -> "Slice":
        """bigslice.Map (reference slice.go:550-638): 1→1 row transform,
        n→m columns (full column replacement, like the reference).

        Fast path: pass aliased Column expressions → ``select`` (codegen).
        Slow path: ``fn(pdf) -> pdf`` over Arrow batches with ``schema``.
        ``pragma=`` (fn path): Procs/Exclusive/Materialize resource
        directives for a heavyweight fn — see bigslice_spark.pragma.
        """
        if fn is not None:
            _require_schema("map_", schema)
            src = _apply_pragma(self.df, pragma)
            return Slice(src.mapInPandas(
                lambda it: (fn(pdf) for pdf in it), schema=schema),
                prefix=prefix)
        return Slice(self.df.select(*exprs), prefix=prefix)

    def with_columns(self, **named: Column) -> "Slice":
        return self._with(self.df.withColumns(dict(named)))

    def filter_(self, cond: Column | str | Callable,
                schema: Any = None, pragma: "Any" = None) -> "Slice":
        """bigslice.Filter (reference slice.go:640-726). Fast path: Column
        predicate (pushed down by Catalyst). Slow path: a Python callable
        ``fn(pdf) -> boolean Series`` over Arrow batches."""
        if _is_col(cond) or isinstance(cond, str):
            return self._with(self.df.filter(cond))
        out_schema = schema or self.df.schema

        def _filt(it):
            for pdf in it:
                yield pdf[cond(pdf)]

        src = _apply_pragma(self.df, pragma)
        return self._with(src.mapInPandas(_filt, schema=out_schema))

    def flatmap(self, *exprs: Column | str, explode_col: str | None = None,
                fn: Callable | None = None, schema: Any = None,
                prefix: int = 1, pragma: "Any" = None) -> "Slice":
        """bigslice.Flatmap (reference slice.go:728-841): 1→0..N rows.

        Fast path: expressions where one (``explode_col``) is array-valued →
        explode. Slow path: ``fn(row_tuple) -> iterable[tuple]`` executed
        over Arrow batches by :func:`flatmap_rows`, the one per-row
        Python stage the operators share.
        """
        if fn is None:
            out = self.df.select(*exprs)
            if explode_col is None:
                # default: explode the last column
                explode_col = out.columns[-1]
            keep = [c for c in out.columns if c != explode_col]
            out = out.select(*keep,
                             F.explode(F.col(explode_col)).alias(explode_col))
            return Slice(out, prefix=prefix)

        _require_schema("flatmap", schema)
        src = _apply_pragma(self.df, pragma)
        return Slice(flatmap_rows(src, fn, schema), prefix=prefix)

    def fold(self, aggs: dict[str, Column] | None = None,
             fn: Callable | None = None, schema: Any = None,
             pragma: "Any" = None) -> "Slice":
        """bigslice.Fold (reference slice.go:843-955 + accum.go): keyed
        aggregation with an arbitrary accumulator.

        Fast path: dict of named agg Columns → groupBy().agg() — Catalyst's
        partial/final HashAggregate spills, strictly better than the
        reference's in-memory accumulator map (accum.go:17-19 BUG note).
        Slow path: ``fn(key_tuple, pdf) -> pdf`` via applyInPandas for
        accumulators no built-in expresses.
        """
        keys = self.key_cols
        if aggs is not None:
            out = self.df.groupBy(*keys).agg(
                *[c.alias(n) for n, c in aggs.items()])
            return Slice(out, prefix=len(keys))
        if fn is None:
            raise TypeError("fold: pass either aggs or fn")
        _require_schema("fold", schema)
        src = _apply_pragma(self.df, pragma, keys=keys)
        return Slice(
            src.groupBy(*keys).applyInPandas(fn, schema=schema),
            prefix=len(keys))

    def fold_stream(self, init: Callable[[], Any],
                    step: Callable[[Any, Any], Any],
                    emit: Callable[[tuple, Any], dict],
                    schema: Any, segment_col: str | None = None,
                    merge: Callable[[Any, Any], Any] | None = None
                    ) -> "Slice":
        """Fold for groups too large to materialize (SURVEY §7 hard-part
        2 — the reference's own known weakness: its Fold holds each
        accumulator map fully in memory, accum.go:17-19 BUG note, and
        ``fold(fn=)``/applyInPandas materializes each GROUP as one
        pandas frame).

        Here the group STREAMS: hash-repartition by the key prefix,
        sort within partitions by key, then run Arrow batches through a
        carry-over accumulator — peak memory is one Arrow batch plus
        one accumulator, regardless of group size.

        ``init() -> acc``; ``step(acc, chunk_pdf) -> acc`` consumes one
        batch-chunk of a group's rows (key columns included);
        ``emit(key_tuple, acc) -> dict`` produces the output row.
        ``step`` must be associative across chunks in row order.

        Hub-key path (VERDICT r7 task 5): with ``segment_col`` (+
        ``merge(acc, acc) -> acc``, associative in segment order), the
        fold runs in TWO stages — stage 1 stream-folds each
        (key, segment) group exactly as above, so a hub key's events
        are folded in PARALLEL across its segments (different tasks),
        then stage 2 merges each key's per-segment accumulators in
        ascending ``segment_col`` order (rows per key = segment count,
        e.g. days — bounded regardless of event count) and emits once.
        Accumulators cross the stage boundary pickled in a binary
        column; ``emit`` sees the merged accumulator and the key
        WITHOUT the segment column. Use when one key's event list is
        too big for one task to scan alone — the memory bound was
        already one batch + one accumulator; this also breaks the
        single-task TIME bound.
        """
        _require_schema("fold_stream", schema)
        keys = self.key_cols
        if segment_col is not None:
            return self._fold_stream_segmented(init, step, emit, schema,
                                               segment_col, merge)
        if merge is not None:
            raise TypeError("fold_stream: merge requires segment_col")

        def run(batches):
            return _fold_key_runs(batches, keys, init, step, emit)

        df = (self.df.repartition(*keys)
              .sortWithinPartitions(*keys)
              .mapInPandas(run, schema=schema))
        return Slice(df, prefix=len(keys))

    def _fold_stream_segmented(self, init, step, emit, schema,
                               segment_col: str, merge) -> "Slice":
        """Two-stage fold_stream (see fold_stream docstring): stage 1
        stream-folds per (key, segment) — hub keys parallelize across
        segments — stage 2 merges per-segment accumulators per key in
        segment order. Per-key stage-2 input is one ROW per segment
        (a pickled accumulator), never the events."""
        import pickle

        from pyspark.sql.types import BinaryType, StructField, StructType

        if merge is None:
            raise TypeError("fold_stream: segment_col requires merge")
        keys = self.key_cols
        if segment_col in keys:
            raise ValueError(
                f"segment_col {segment_col!r} is already a key column")
        seg_keys = list(keys) + [segment_col]

        def run1(batches):
            # positional rows: (keys..., segment, __acc__) in the
            # stage-1 schema order
            return _fold_key_runs(
                batches, seg_keys, init, step,
                lambda key, acc: (*key, pickle.dumps(acc)))

        st1_schema = StructType(
            list(self.df.select(*seg_keys).schema.fields)
            + [StructField("__acc__", BinaryType())])
        st1 = (self.df.repartition(*seg_keys)
               .sortWithinPartitions(*seg_keys)
               .mapInPandas(run1, schema=st1_schema))

        def merge_chunk(acc, chunk):
            # a chunk's rows are in segment order (the stage-2 sort)
            for blob in chunk["__acc__"]:
                a = pickle.loads(blob)
                acc = a if acc is _NO_ACC else merge(acc, a)
            return acc

        def run2(batches):
            return _fold_key_runs(batches, keys, lambda: _NO_ACC,
                                  merge_chunk, emit)

        df = (st1.repartition(*keys)
              .sortWithinPartitions(*keys, segment_col)
              .mapInPandas(run2, schema=schema))
        return Slice(df, prefix=len(keys))

    def reduce_(self, agg: Column | str) -> "Slice":
        """bigslice.Reduce (reference reduce.go:19-94): commutative+
        associative reduce of the single residual value column. Lowered to
        groupBy().agg() — Catalyst's partial aggregate IS the reference's
        map-side Combiner (reduce.go:58,71)."""
        keys = self.key_cols
        vals = self.value_cols
        if len(vals) != 1:
            raise ValueError(
                f"reduce_ requires exactly one value column, have {vals}")
        v = vals[0]
        if isinstance(agg, str):
            if not hasattr(F, agg):
                raise ValueError(
                    f"reduce_: unknown aggregate function {agg!r} "
                    "(must name a pyspark.sql.functions aggregate)")
            agg = getattr(F, agg)(v)
        out = self.df.groupBy(*keys).agg(agg.alias(v))
        return Slice(out, prefix=len(keys))

    def cogroup(self, *others: "Slice", sort_groups: bool = True) -> "Slice":
        """bigslice.Cogroup (reference cogroup.go:20-272): multi-way
        generalized JOIN+GROUP with FULL-OUTER semantics — every key in any
        input appears once, with the grouped value-list of each input;
        absent groups are EMPTY ARRAYS, not nulls (cogroup.go:244-258).

        Lowered to per-input groupBy+collect_list chained with full outer
        joins — each input aggregates map-side before its shuffle, and AQE
        handles skewed keys. Value lists are sorted for determinism (the
        reference merge-sorts by key only; we pin order for testability).
        """
        slices = (self,) + others
        _check_cogroup_keys(slices)
        k = self.prefix
        keys = self.key_cols
        grouped: list[DataFrame] = []
        for i, s in enumerate(slices):
            vals = s.value_cols
            kmap = dict(zip(s.key_cols, keys))
            df = s.df
            for old, new in kmap.items():
                if old != new:
                    df = df.withColumnRenamed(old, new)
            if vals:
                collected = F.collect_list(
                    F.struct(*[F.col(v) for v in vals]))
                if sort_groups:
                    collected = F.array_sort(collected)
                g = df.groupBy(*keys).agg(collected.alias(f"g{i}"))
            else:
                g = df.select(*keys).distinct()
            grouped.append(g)
        out = grouped[0]
        for g in grouped[1:]:
            out = out.join(g, on=keys, how="full")
        # zero-value empty groups, exactly like cogroup.go:244-258
        for i, s in enumerate(slices):
            if s.value_cols:
                col = f"g{i}"
                out = out.withColumn(
                    col, F.coalesce(F.col(col), F.array()))
        return Slice(out, prefix=k)

    def cogroup_apply(self, other: "Slice", fn: Callable,
                      schema: Any) -> "Slice":
        """2-way Cogroup with an arbitrary per-key function — the pandas
        fast path for the dominant reference pattern Cogroup→Flatmap
        (cogroup.go:28-34 "generalized JOIN and GROUP" immediately
        flattened by user code). ``fn(key_tuple, left_pdf, right_pdf) ->
        pdf`` runs over Arrow batches via DataFrame.groupBy().cogroup();
        a key present in only one input sees an EMPTY frame for the
        other (the reference's zero-group semantics, cogroup.go:244-258).
        Unlike ``cogroup``, groups stream through Arrow instead of being
        materialized as collect_list arrays — the path for huge groups.
        """
        _check_cogroup_keys((self, other))
        _require_schema("cogroup_apply", schema)
        keys = self.key_cols
        odf = other.df
        for old, new in zip(other.key_cols, keys):
            if old != new:
                odf = odf.withColumnRenamed(old, new)
        cg = self.df.groupBy(*keys).cogroup(odf.groupBy(*keys))
        return Slice(cg.applyInPandas(fn, schema=schema),
                     prefix=self.prefix)

    def reshuffle(self) -> "Slice":
        """bigslice.Reshuffle (reference reshuffle.go:24-88): hash-shuffle
        by prefix so equal keys co-locate; no sort."""
        return self._with(self.df.repartition(*self.key_cols))

    def repartition_func(self, nshard: int, fn: Column | Callable,
                         cols: Sequence[str] | None = None) -> "Slice":
        """bigslice.Repartition (reference reshuffle.go:44-76): shuffle with
        a user-defined partition function.

        Fast path: ``fn`` is a Column computing the target shard id; we
        repartition on it (hash of the computed id — exact physical
        placement is not observable by any reference operator, see
        SURVEY §7 hard-part 5). Slow path: ``fn`` is an arbitrary Python
        callable ``fn(*key_values) -> int`` over ``cols`` (default: the
        key prefix), evaluated as a row-at-a-time udf — an opaque
        partitioner is inherently non-vectorizable (the reference runs
        the user's Go func per row too, reshuffle.go:52-76); keep hot
        paths on the Column form."""
        if _is_col(fn):
            part = fn
        else:
            from pyspark.sql.types import LongType
            f = fn
            udf = F.udf(lambda *vals: int(f(*vals)), LongType())
            part = udf(*[F.col(c) for c in (cols or self.key_cols)])
        tmp = "__part__"
        df = self.df.withColumn(tmp, F.pmod(part, F.lit(nshard)))
        df = df.repartition(nshard, tmp).drop(tmp)
        return self._with(df)

    def reshard(self, nshard: int, shuffle: bool = True) -> "Slice":
        """bigslice.Reshard (reference reshard.go:15-45): change shard
        count. Always shuffles by default, like the reference
        (reshard.go:28-30), and then the result has EXACTLY nshard
        shards. ``shuffle=False`` is a BEST-EFFORT CAP, not an exact
        count: "don't move data" and "guarantee n shards" are mutually
        exclusive (coalesce can only lower a count, and whether the
        runtime count already sits at/below ``nshard`` is AQE's
        decision, not the plan's), so the shuffle-free result has AT
        MOST nshard shards — possibly fewer. It also FUSES the
        upstream stage into the surviving tasks, collapsing its
        parallelism (an expensive upstream then runs nshard-wide) —
        an optimization to opt into knowingly, not a default. A
        growth request (nshard above the declared/actual count)
        always shuffles regardless, since no shuffle-free mechanism
        can raise a partition count."""
        # The no-op short-circuit must compare against a count that
        # will HOLD at runtime. Declared counts from aggregates/joins
        # don't qualify — AQE legally coalesces them below the
        # declaration — so only two evidence classes short-circuit:
        # an explicit user repartition top with the same count (AQE
        # never coalesces user-specified repartitions), or a narrow
        # plan whose actual RDD count is a free metadata probe.
        # Everything else shuffles, which is the reference's default
        # behavior anyway (reshard.go:28-30).
        declared = self._static_num_partitions()
        if declared == nshard and self._top_is_user_repartition():
            return self
        if declared is None:
            # undeclared top (scan/union): narrow RDD probe, no job
            cur = self.df.rdd.getNumPartitions()
            if nshard == cur:
                return self
            if nshard < cur and not shuffle:
                return self._with(self.df.coalesce(nshard))
            return self._with(self.df.repartition(nshard))
        # declared wide top (agg/join): the runtime count may sit
        # below the declaration, so never no-op on it — move the data.
        # shuffle=False remains a SHRINK-only optimization (coalesce
        # cannot raise a partition count): a growth request always
        # repartitions, same as the undeclared-top branch. Equality
        # counts as shrink — runtime never EXCEEDS the declaration,
        # so coalesce(declared) is a free cap, not a missed grow.
        if nshard <= declared and not shuffle:
            return self._with(self.df.coalesce(nshard))
        return self._with(self.df.repartition(nshard))

    def _top_is_user_repartition(self) -> bool:
        """True when the physical plan's top exchange is an explicit
        repartition-by-number — the one declared partition count AQE
        is contractually forbidden to coalesce."""
        ep = self._initial_physical_plan()
        try:
            return (ep is not None
                    and ep.getClass().getSimpleName()
                    == "ShuffleExchangeExec"
                    and "REPARTITION_BY_NUM"
                    in ep.shuffleOrigin().toString())
        except Exception:
            return False

    def head(self, n: int) -> "Slice":
        """bigslice.Head (reference slice.go:957-994): first ≤n rows PER
        SHARD (not global — semantic difference from df.limit documented in
        SURVEY §2.1 #13). mapInPandas islice keeps it streaming."""
        schema = self.df.schema

        def _head(it):
            left = n
            for pdf in it:
                if left <= 0:
                    break
                out = pdf.iloc[:left]
                left -= len(out)
                yield out

        return self._with(self.df.mapInPandas(_head, schema=schema))

    def limit(self, n: int) -> "Slice":
        return self._with(self.df.limit(n))

    def scan(self, fn: Callable[[int, Iterable[tuple]], None]) -> None:
        """bigslice.Scan (reference slice.go:996-1032): terminal consumption
        of each shard. fn(shard_id, iterator_of_rows)."""
        def _each(idx, rows):
            fn(idx, (tuple(r) for r in rows))
            return iter(())

        self.df.rdd.mapPartitionsWithIndex(_each).count()

    def scan_batches(self, fn: Callable[[int, Any], None]) -> None:
        """Vectorized Scan: terminal consumption of Arrow batches —
        fn(shard_id, pandas_DataFrame) per batch. The Arrow twin of
        ``scan`` (which hands out row tuples through the pickled-RDD
        path for reference-faithful semantics); prefer this for bulk
        side-effecting consumption."""
        def _each(it):
            from pyspark import TaskContext
            shard = TaskContext.get().partitionId()
            for pdf in it:
                fn(shard, pdf)
            return iter(())

        self.df.mapInPandas(
            _each, schema="__x__ int").count()

    def scan_rows(self):
        """Driver-side scanner (reference sliceio/scanner.go:27-101)."""
        return self.df.toLocalIterator()

    def prefixed(self, k: int) -> "Slice":
        """bigslice.Prefixed (reference slice.go:1034-1071): widen the key
        prefix to the first k columns."""
        return Slice(self.df, prefix=k)

    def writer_func(self, fn: Callable) -> "Slice":
        """bigslice.WriterFunc (reference slice.go:404-548): pass-through
        sink tap — fn(shard, pdf) sees every batch; result is identity.

        Terminal-call contract, like the reference (slice.go:404-548
        invokes the write fn once more with the final error or EOF so
        sinks can flush or abort): after a shard's last batch, fn is
        called with ``None``; if the shard fails mid-stream, fn is
        called with the raised exception before it propagates."""
        schema = self.df.schema

        def _tap(it):
            from pyspark import TaskContext
            shard = TaskContext.get().partitionId()
            try:
                for pdf in it:
                    fn(shard, pdf)
                    yield pdf
            except GeneratorExit:
                raise
            except BaseException as ex:
                fn(shard, ex)
                raise
            else:
                fn(shard, None)

        return self._with(self.df.mapInPandas(_tap, schema=schema))

    # -- caching (reference cache.go:16-95) --------------------------------

    def cache(self, prefix: str) -> "Slice":
        """bigslice.Cache: materialize to ``prefix`` (parquet dir); on
        rerun, short-circuits recomputation by reading the files. Cache
        invalidation is the caller's job, like the reference
        (cache.go:38-44) — with Session.drop_cache/list_caches as the
        convenience the reference lacks. The completeness marker is
        checked through the Hadoop FS API (a driver-local exists() would
        see an hdfs:// or s3a:// prefix as absent and rewrite the cache
        every call)."""
        spark = self.df.sparkSession
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(prefix)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        marker = jvm.org.apache.hadoop.fs.Path(jpath, "_SUCCESS")
        if not fs.exists(marker):
            self.df.write.mode("overwrite").parquet(prefix)
        return Slice(spark.read.parquet(prefix), prefix=self.prefix)

    def cache_partial(self, prefix: str, shard_col: Column,
                      nshard: int) -> "Slice":
        """bigslice CachePartial (reference cache.go:45-66 +
        internal/slicecache/slicecache.go:1-120): per-shard cache
        granularity — a rerun recomputes ONLY the shards whose cache
        files are missing, short-circuiting the rest.

        Spark emulation: shard membership is a deterministic function of
        the row (``pmod(shard_col, nshard)``), materialized as a
        Hive-partitioned parquet layout ``prefix/__shard__=k/``. On each
        call, shards whose directory exists are served from the files;
        only the missing shards' rows are computed and appended — and
        when the upstream plan is native (no opaque Python map), Catalyst
        pushes the shard predicate toward the scan, so the recompute
        reads less too. Shards with zero rows leave no directory and are
        recomputed per call (cheap by construction); cache invalidation
        is the caller's job, like ``cache``.

        Shard discovery goes through the Hadoop FileSystem API, so any
        supported scheme (file://, hdfs://, s3a://) works — a
        driver-local listdir would silently see a remote prefix as
        empty and re-append the full dataset on every call."""
        spark = self.df.sparkSession
        tmp = "__shard__"
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(prefix)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        have = set()
        if fs.exists(jpath):
            for st in fs.listStatus(jpath):
                name = st.getPath().getName()
                if name.startswith(f"{tmp}="):
                    val = name.split("=", 1)[1]
                    # tolerate non-integer dirs (e.g. a
                    # __HIVE_DEFAULT_PARTITION__ left by a writer whose
                    # shard expression produced NULLs) instead of
                    # bricking the prefix
                    try:
                        have.add(int(val))
                    except ValueError:
                        continue
        missing = [s for s in range(nshard) if s not in have]
        if missing:
            # NULL shard values deterministically land in shard 0 —
            # otherwise they write a __HIVE_DEFAULT_PARTITION__ dir that
            # is never matched by the missing-shard recompute
            ann = self.df.withColumn(
                tmp, F.coalesce(F.pmod(shard_col, F.lit(nshard)),
                                F.lit(0)).cast("int"))
            if have:
                ann = ann.filter(F.col(tmp).isin(missing))
            ann.write.mode("append").partitionBy(tmp).parquet(prefix)
        out = spark.read.parquet(prefix).select(*self.df.columns)
        return Slice(out, prefix=self.prefix)

    def persist(self, level: str = "MEMORY_AND_DISK") -> "Slice":
        from pyspark import StorageLevel
        self.df.persist(getattr(StorageLevel, level))
        return self

    def unpersist(self) -> "Slice":
        self.df.unpersist()
        return self

    def write_parquet(self, path: str, mode: str = "overwrite",
                      partition_by: Sequence[str] | None = None) -> None:
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    # -- relational surface beyond the reference (SURVEY §2.3) -------------

    def join(self, other: "Slice", on: Any = None,
             how: str = "inner") -> "Slice":
        return self._with(self.df.join(other.df, on=on, how=how))

    def union(self, other: "Slice") -> "Slice":
        return self._with(self.df.unionByName(other.df))

    def intersect(self, other: "Slice") -> "Slice":
        return self._with(self.df.intersect(other.df))

    def except_all(self, other: "Slice") -> "Slice":
        return self._with(self.df.exceptAll(other.df))

    def distinct(self) -> "Slice":
        return self._with(self.df.distinct())

    def order_by(self, *cols: Column | str) -> "Slice":
        return self._with(self.df.orderBy(*cols))

    def top_k(self, k: int, *order: Column | str) -> "Slice":
        """Global top-k: orderBy().limit() — Spark plans TakeOrderedAndProject
        (per-partition heap + driver merge), no global sort materialized."""
        return self._with(self.df.orderBy(*order).limit(k))

    def window(self, **named: Column) -> "Slice":
        return self._with(self.df.withColumns(dict(named)))

    def select(self, *cols: Column | str) -> "Slice":
        return Slice(self.df.select(*cols),
                     prefix=min(self.prefix, len(cols) or 1))

    def group_agg(self, keys: Sequence[str],
                  aggs: dict[str, Column]) -> "Slice":
        out = self.df.groupBy(*keys).agg(
            *[c.alias(n) for n, c in aggs.items()])
        return Slice(out, prefix=len(keys))

    # -- driver-side collection --------------------------------------------

    def collect(self) -> list[tuple]:
        return [tuple(r) for r in self.df.collect()]

    def columns_collected(self) -> list[list[Any]]:
        """Collect column-wise, like the reference's scanner tests."""
        rows = self.collect()
        if not rows:
            return [[] for _ in self.df.columns]
        return [list(c) for c in zip(*rows)]

    def count(self) -> int:
        return self.df.count()
