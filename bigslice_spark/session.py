"""Session: a thin facade over SparkSession, mirroring bigslice's exec.Session.

Reference: /root/reference/exec/session.go:214-251 — ``Session.Run`` invokes a
registered Func to build a Slice DAG, compiles it, and evaluates it. In the
Spark build, plan construction/compilation/scheduling are Catalyst's job, so
Session is: (a) a tuned SparkSession factory with 100TB-oriented defaults,
(b) the root of the source API (const/read/reader_func), and (c) the place
where shard-count policy lives (bigslice ``nshard`` ↔ shuffle partitions).
"""

from __future__ import annotations

import os
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

# Only settings that differ from Spark's own defaults (the defaults the
# plans rely on are pinned by test_session_conf_pins_plan_shaping_values):
# - shuffle.partitions: overridable; on a real cluster set ~2-3x total cores.
# - Arrow on: every Python-side operator (fold/flatmap custom paths) moves
#   batches, never rows — the analog of bigslice's 128-row Frames
#   (reference internal/defaultsize/defaultsize.go:14-16).
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Wide sketch aggregates (64-column minhash MINs, 384-term LSH
    # projections) generate single giant codegen methods whose Janino +
    # C2 compile time is superlinear in method size; splitting at 256
    # chars measured ~25% faster cold on the dedup/LSH pipelines with
    # no steady-state penalty (C2 re-inlines the split methods).
    "spark.sql.codegen.methodSplitThreshold": "256",
    # 64 MB, not Spark's 10 MB: a trade measured over the whole registry
    # (PERFORMANCE.md, "One session conf"). Mid-size build sides
    # (similarity_lsh, decontaminate_bloom, multimodal_gif) run faster
    # broadcast; triangle_count and q10 run faster at 10 MB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # driver testdata writes events.ts as INT64 TIMESTAMP(NANOS) which the
    # vectorized parquet reader rejects; read as long and rebuild a proper
    # timestamp in load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "bigslice_spark", master: str | None = None,
              conf: dict[str, str] | None = None,
              ui: bool | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    ``ui=True`` enables the Spark web UI — the live task-status display
    (the reference's status surface, exec/bigmachine.go:46-52 +
    cmd/slicetrace). Default off for headless/bench runs; also
    switchable via SPARK_GRAFT_UI=1. Query-level attribution in the UI
    comes from job-group tags (Session.job_group; the registry tags
    every query as ``bss:<name>``)."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        )
    builder = builder.master(master)
    merged = dict(_DEFAULT_CONF)
    if ui is None and os.environ.get("SPARK_GRAFT_UI"):
        ui = os.environ["SPARK_GRAFT_UI"] not in ("0", "false", "")
    if ui is not None:
        merged["spark.ui.enabled"] = "true" if ui else "false"
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Session:
    """Facade mirroring bigslice exec.Session (reference exec/session.go).

    ``Session.run`` in the reference compiles+evaluates a Func; here, Slices
    are lazy DataFrames, so "run" is any action (collect/scan/write). The
    Session carries the SparkSession and the default shard count.
    """

    def __init__(self, spark: SparkSession | None = None,
                 nshard: int | None = None) -> None:
        self.spark = spark or get_spark()
        # bigslice requires explicit nshard per source; we default to the
        # session's shuffle parallelism (reference slice.go:202-290 Const).
        self.nshard = nshard or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # -- sources ---------------------------------------------------------

    def const(self, nshard: int, *columns: Sequence[Any],
              names: Sequence[str] | None = None,
              schema: Any = None) -> "Slice":
        """bigslice.Const (reference slice.go:202-290): literal in-memory
        table split into nshard partitions. Columns are given column-wise
        like the reference; rows are zipped."""
        from .slice import Slice
        if not columns:
            raise ValueError("const requires at least one column")
        columns = [list(c) for c in columns]
        lens = {len(c) for c in columns}
        if len(lens) > 1:
            # construction-time check, like the reference's Const panic on
            # ragged columns (slice.go:202-290) — zip would silently
            # truncate to the shortest column
            raise ValueError(
                f"const: columns have unequal lengths {sorted(lens)}")
        ncol = len(columns)
        names = list(names) if names else [f"c{i}" for i in range(ncol)]
        rows = list(zip(*columns))
        df = self.spark.createDataFrame(rows, schema=schema or names)
        if schema is None:
            df = df.toDF(*names)
        return Slice(df.repartition(nshard))

    def read_parquet(self, path: str, prefix: int = 1) -> "Slice":
        from .slice import Slice
        return Slice(self.spark.read.parquet(path), prefix=prefix)

    def read_text(self, path: str, nshard: int | None = None) -> "Slice":
        """bigslice.ScanReader (reference scan.go:22-69) reads a text stream,
        striping lines across shards; Spark's splittable text source is the
        strictly-better equivalent."""
        from .slice import Slice
        df = self.spark.read.text(path).withColumnRenamed("value", "line")
        if nshard:
            df = df.repartition(nshard)
        return Slice(df)

    def write_bucketed(self, df: "DataFrame", name: str,
                       keys: Sequence[str], nbuckets: int,
                       sort_by: Sequence[str] | None = None,
                       path: str | None = None) -> "DataFrame":
        """Materialize ``df`` as a bucketed parquet table: rows are hash-
        placed into ``nbuckets`` files per partition by ``keys``, so any
        later join or aggregation on those keys runs WITHOUT an exchange
        (both sides pre-partitioned — the Spark analog of co-locating
        bigslice shards that share a partitioner, SURVEY §1.1 Dep).

        At 100TB this is the difference between shuffling the fact table
        once per query and never: bucket the canonical tables at ingest,
        size nbuckets so one bucket ≈ 100-500MB. sort_by additionally
        pre-sorts within buckets (SMJ without the sort step).
        """
        w = (df.write.mode("overwrite").format("parquet")
             .bucketBy(nbuckets, *keys))
        if sort_by:
            w = w.sortBy(*sort_by)
        if path:
            w = w.option("path", path)
        w.saveAsTable(name)
        return self.spark.table(name)

    def write_partitioned(self, df: "DataFrame", path: str,
                          partition_by: Sequence[str],
                          mode: str = "overwrite") -> None:
        """Hive-style partitioned parquet layout (`k=v/` directories).
        The other half of the 100TB ingest story next to write_bucketed:
        filters on the partition columns become directory pruning (zero
        I/O for excluded partitions), and joins against a filtered dim
        trigger dynamic partition pruning at runtime. Partition by
        low-cardinality columns only (date, category) — one directory
        per value."""
        df.write.mode(mode).partitionBy(*partition_by).parquet(path)

    def write_indexed(self, df: "DataFrame", path: str,
                      bloom_cols: Sequence[str] = (),
                      bloom_ndv: int | None = None,
                      sort_within: Sequence[str] = (),
                      partition_by: Sequence[str] = (),
                      mode: str = "overwrite") -> None:
        """Scan-skipping parquet layout — the third leg of the 100 TB
        ingest story next to write_bucketed / write_partitioned:

        - ``bloom_cols``: per-column parquet BLOOM FILTERS
          (parquet.bloom.filter.enabled#col). Point lookups on
          high-cardinality keys (user_id, doc_id, url hash) skip row
          groups whose filter rejects the value — the case where
          min/max statistics are useless because every row group
          spans the whole key range. Size with ``bloom_ndv`` ≈
          distinct keys per row group; the filter costs ~1.25 MB per
          100k NDV per row group at the default FPP.
        - ``sort_within``: sortWithinPartitions before writing — NO
          exchange (unlike a global sort), but min/max column stats
          per row group / page become tight disjoint ranges, so
          range predicates prune at the footer. Combine with
          range_sorted_layout when a global total order is worth one
          exchange.
        - ``partition_by``: hive-style directory pruning on top.

        Readers need nothing special: Spark's parquet scan consults
        bloom filters and stats automatically when the predicate is
        a literal equality/range on the indexed column."""
        w = df
        if sort_within:
            w = df.sortWithinPartitions(*sort_within)
        wr = w.write.mode(mode)
        for c in bloom_cols:
            wr = wr.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if bloom_ndv:
                wr = wr.option(
                    f"parquet.bloom.filter.expected.ndv#{c}",
                    str(int(bloom_ndv)))
        if partition_by:
            wr = wr.partitionBy(*partition_by)
        wr.parquet(path)

    def compact_parquet(self, src: str, dst: str,
                        target_file_mb: int = 256) -> "DataFrame":
        """Small-files compaction — the streaming-sink/incremental-ingest
        hangover at scale: a parquet dir with thousands of KB-sized
        files costs a scheduler task + a footer read each. Re-writes
        ``src`` into ``dst`` with file count sized from the ACTUAL input
        bytes (Hadoop ContentSummary, no data scan), ~target_file_mb
        per output file."""
        import os
        s, d = os.path.abspath(src), os.path.abspath(dst)
        if d == s or (d + os.sep).startswith(s + os.sep) \
                or (s + os.sep).startswith(d + os.sep):
            # the overwrite write would destroy the input it is lazily
            # reading from
            raise ValueError(
                f"compact_parquet: dst {dst!r} overlaps src {src!r}; "
                "write to a fresh directory, then swap")
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(src)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        total = fs.getContentSummary(jpath).getLength()
        nfiles = max(1, int(total // (target_file_mb * 1024 * 1024)) + 1)
        df = self.spark.read.parquet(src)
        df.repartition(nfiles).write.mode("overwrite").parquet(dst)
        return self.spark.read.parquet(dst)

    def reader_func(self, nshard: int, fn, schema: Any) -> "Slice":
        """bigslice.ReaderFunc (reference slice.go:292-402): a custom
        vectorized per-shard source. Implemented as mapInPandas over a seed
        DataFrame of shard ids — fn(shard:int) must YIELD pandas DataFrames
        matching ``schema`` (the Arrow-batch analog of filling Frames)."""
        from .slice import Slice
        seed = self.spark.range(0, nshard, 1, nshard) \
            .withColumnRenamed("id", "__shard__")

        def _gen(batches):
            for pdf in batches:
                for shard in pdf["__shard__"].tolist():
                    yield from fn(int(shard))

        return Slice(seed.mapInPandas(_gen, schema=schema))

    def sql(self, query: str, prefix: int = 1) -> "Slice":
        from .slice import Slice
        return Slice(self.spark.sql(query), prefix=prefix)

    def wrap(self, df: DataFrame, prefix: int = 1) -> "Slice":
        from .slice import Slice
        return Slice(df, prefix=prefix)

    # -- cache management ------------------------------------------------
    # The reference pushes cache invalidation entirely onto the user
    # (cache.go:38-44: "the cache is NOT automatically invalidated");
    # these helpers are the missing convenience: enumerate and delete
    # cache(prefix)/cache_partial(prefix) parquet dirs through the
    # Hadoop FS API (file://, hdfs://, s3a:// alike).

    def _fs(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()), jpath, jvm

    def list_caches(self, root: str) -> list[dict]:
        """Enumerate cache dirs under ``root``: name, bytes, file count,
        and whether the cache is complete (_SUCCESS present — a partial
        cache means a writer died mid-flight and the next cache() call
        will overwrite it)."""
        fs, jroot, jvm = self._fs(root)
        out: list[dict] = []
        if not fs.exists(jroot):
            return out
        for st in fs.listStatus(jroot):
            if not st.isDirectory():
                continue
            sub = st.getPath()
            s = fs.getContentSummary(sub)
            out.append({
                "prefix": sub.toString(),
                "bytes": s.getLength(),
                "files": s.getFileCount(),
                "complete": fs.exists(
                    jvm.org.apache.hadoop.fs.Path(sub, "_SUCCESS")),
            })
        return sorted(out, key=lambda d: d["prefix"])

    def drop_cache(self, prefix: str) -> bool:
        """Delete the cache dir at ``prefix``. Returns False if absent.
        Refuses (ValueError) unless the dir actually looks like a
        parquet cache — a _SUCCESS marker, part files, or
        cache_partial's __shard__= subdirs — so a typo'd path can't
        recursively delete arbitrary data."""
        fs, jpath, _ = self._fs(prefix)
        if not fs.exists(jpath):
            return False
        looks = any(
            (n := st.getPath().getName()) == "_SUCCESS"
            or n.endswith(".parquet") or n.startswith("part-")
            or n.startswith("__shard__=")
            for st in fs.listStatus(jpath))
        if not looks:
            raise ValueError(
                f"drop_cache: {prefix} does not look like a "
                "bigslice_spark cache dir; refusing to delete")
        return bool(fs.delete(jpath, True))

    # -- status / introspection ------------------------------------------
    # The reference keeps a live per-task status display and a trace tool
    # (exec/bigmachine.go:46-52, :457-477 + cmd/slicetrace). Spark's web
    # UI is that surface (enable via get_spark(ui=True) / SPARK_GRAFT_UI);
    # job groups map its jobs/stages back to named queries.

    def job_group(self, name: str, description: str | None = None,
                  interrupt_on_cancel: bool = True):
        """Context manager: tag every action run inside with a job group,
        so the Spark UI / history server attributes its jobs+stages to
        ``name``, and ``cancel_job_group(name)`` can stop them — the
        analog of the reference's per-invocation task naming
        (exec/session.go:214-251).

        >>> with sess.job_group("nightly-dedup"):
        ...     pairs.collect()
        """
        import contextlib

        sc = self.spark.sparkContext

        @contextlib.contextmanager
        def _grp():
            sc.setJobGroup(name, description or name, interrupt_on_cancel)
            try:
                yield self
            finally:
                sc.setJobGroup("", "")

        return _grp()

    def cancel_job_group(self, name: str) -> None:
        """Cancel all running jobs tagged with ``name`` (reference:
        ctx-cancellation of an invocation's tasks)."""
        self.spark.sparkContext.cancelJobGroup(name)

    def release_materialized(self) -> int:
        """Free the executor blocks of every intermediate this
        session's operators materialized (checkpoint.release_all):
        the between-queries hygiene call for long-lived drivers
        running query after query in one JVM. Only call at a point
        where no previously returned DataFrame will be re-collected —
        released frames have truncated lineage and cannot recompute.
        Returns the number of RDDs unpersisted."""
        from .checkpoint import release_all
        return release_all(self.spark)


_TABLE_CACHE: dict[tuple, dict[str, "DataFrame"]] = {}


def load_tables(spark: SparkSession, sf_dir: str,
                tables: Iterable[str] = (
                    "region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents",
                    "embeddings")) -> dict[str, DataFrame]:
    """Load the driver's star schema; registers each as a temp view too.

    Memoized per (application, sf_dir): re-resolving ten parquet footers
    per query call costs ~0.3s of driver time each — measured as several
    seconds across a bench run. DataFrames are plans, not data; reuse is
    safe within one SparkSession."""
    tables = tuple(tables)  # normalize once: a generator would be
    # exhausted by the cache key below, silently caching {}
    app_id = spark.sparkContext.applicationId
    # evict entries from stopped sessions — they pin dead DataFrame/session
    # references for the process lifetime otherwise
    for k in [k for k in _TABLE_CACHE if k[0] != app_id]:
        del _TABLE_CACHE[k]
    ck = (app_id, os.path.abspath(sf_dir), tables)
    hit = _TABLE_CACHE.get(ck)
    if hit is not None:
        # views are global session state: re-point them at THIS sf_dir
        # (the driver switches dirs mid-session; plans stay cached)
        for name, df in hit.items():
            df.createOrReplaceTempView(name)
        return dict(hit)
    out: dict[str, DataFrame] = {}
    from pyspark.sql import functions as F

    # The driver may hand us a session without these confs; both are
    # runtime SQLConfs, so set them here — events.parquet is INT64
    # TIMESTAMP(NANOS), which the reader otherwise rejects, and the
    # ntz→timestamp normalization below is only identity under a UTC
    # session zone (a non-UTC session would shift ntz-path instants
    # relative to the bigint path and the DuckDB oracle).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                df = normalize_events_ts(df)
            df.createOrReplaceTempView(name)
            out[name] = df
    _TABLE_CACHE[ck] = out
    return dict(out)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-tz TIMESTAMP.

    ts has shipped as either int64 nanos (rounds 1-2 testdata, read as
    long via the nanosAsLong conf) or a native timestamp[us]/ntz.
    Shared by the batch reader (load_tables) and the streaming source
    (streaming.stream_events) so a third encoding is handled in exactly
    one place. UTC session => values equal DuckDB's naive read."""
    from pyspark.sql import functions as F
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Integer division is required: ns values (~1.7e18) exceed
        # double's 2^53 integer range, so `/ 1000` would round by ±1µs.
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
