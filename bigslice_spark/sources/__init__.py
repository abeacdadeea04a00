"""Sources beyond parquet, mirroring the reference's source operators.

- scan_reader:  line-oriented text (reference scan.go:22-69 ScanReader —
                which re-reads the whole stream per shard; Spark's
                splittable text source is strictly better).
- tar_reader:   tar-archive entries as (name, size, body) rows (reference
                archive/tarslice/tarslice.go:29-87) — binaryFile scan +
                per-partition tarfile decode over Arrow batches.
- csv/json:     thin passthroughs with schema pinning (never inferSchema
                in production paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..slice import flatmap_rows


def ddl_field_names(spark: SparkSession, schema: str) -> list[str]:
    """Field names of a Spark DDL schema in declaration order, parsed
    by Spark's own DDL parser (StructType.fromDDL — needs the live
    session, hence the parameter). The naive ``schema.split(",")``
    this replaces broke on any type containing commas —
    decimal(10,2), map<string,int>, struct<...> — failing legal
    schemas with a bogus name-mismatch error."""
    from pyspark.sql.types import StructType

    assert spark is not None
    return [f.name for f in StructType.fromDDL(schema).fields]


def scan_reader(spark: SparkSession, path: str,
                nshard: int | None = None) -> DataFrame:
    """Line source: (line string). Splittable, properly sharded."""
    df = spark.read.text(path).withColumnRenamed("value", "line")
    return df.repartition(nshard) if nshard else df


def tar_reader(spark: SparkSession, path: str) -> DataFrame:
    """Tar entries: (archive string, name string, size long, body binary).

    binaryFile gives (path, content) per archive; a mapInPandas stage
    unpacks entries. Archives parallelize across partitions; entries
    within one archive stream through a single task (tar is not
    splittable — same constraint as the reference)."""
    import io
    import tarfile

    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.tar").load(path)

    def unpack(row):
        apath, content = row
        with tarfile.open(fileobj=io.BytesIO(content)) as tf:
            for m in tf.getmembers():
                if m.isfile():
                    yield apath, m.name, m.size, tf.extractfile(m).read()

    return flatmap_rows(
        raw.select("path", "content"), unpack,
        "archive string, name string, size long, body binary")


def zip_reader(spark: SparkSession, path: str) -> DataFrame:
    """Zip entries: (archive string, name string, size long,
    compressed long, method string, body binary).

    binaryFile gives (path, content) per archive; a mapInPandas stage
    walks the central directory and inflates each member (stored and
    deflate methods, via stdlib zipfile/zlib). Archives parallelize
    across partitions — the same file-granular contract as tar/WARC
    (README §6). Unlike tar, zip's central directory would support
    entry-range splitting WITHIN one archive on a range-readable
    store; that variant needs a cluster filesystem with positioned
    reads, so the single-task-per-archive path is the contract here
    and oversized archives should be sharded at write time."""
    import io
    import zipfile

    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.zip").load(path)
    methods = {zipfile.ZIP_STORED: "stored", zipfile.ZIP_DEFLATED: "deflate"}

    def unpack(row):
        apath, content = row
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            for info in zf.infolist():
                if not info.is_dir():
                    yield (apath, info.filename, info.file_size,
                           info.compress_size,
                           methods.get(info.compress_type,
                                       str(info.compress_type)),
                           zf.read(info))

    return flatmap_rows(
        raw.select("path", "content"), unpack,
        "archive string, name string, size long, compressed long, "
        "method string, body binary")


def webdataset_samples(spark: SparkSession, path: str) -> DataFrame:
    """WebDataset-convention samples from tar archives: members named
    ``<key>.<ext>`` group into one row per training sample —
    (archive, key, parts map<ext, binary>) — where key is the member
    basename up to its FIRST dot and ext everything after (the public
    webdataset convention: 0001.jpg + 0001.json + 0001.cls = one
    sample). Grouping is a plain codegen groupBy over the tar rows;
    directories in member names stay in the key (samples are unique
    per path prefix). Multimodal training shards are exactly this
    shape — pair the parts with the media decoders."""
    entries = tar_reader(spark, path)
    base = F.element_at(F.split(F.col("name"), "/"), -1)
    dirp = F.expr("substring(name, 1, length(name) - length("
                  "element_at(split(name, '/'), -1)))")
    key = F.concat(dirp, F.substring_index(base, ".", 1))
    ext = F.when(base.contains("."),
                 F.expr("substring(element_at(split(name, '/'), -1), "
                        "instr(element_at(split(name, '/'), -1), '.')"
                        " + 1)")).otherwise(F.lit(""))
    return (entries
            .select("archive", key.alias("key"), ext.alias("ext"),
                    "body")
            .groupBy("archive", "key")
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("ext", "body"))))
                .alias("parts")))


def binary_files(spark: SparkSession, path: str,
                 glob: str | None = None) -> DataFrame:
    """Opaque media/blob ingest: one row per file —
    (path string, modificationTime timestamp, length long,
    content binary). The front door for multimodal pipelines
    (operators/multimodal.py consumes the content column); files
    parallelize across partitions, each blob stays whole (pair with
    repartition_by_bytes before any Arrow stage)."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_csv(spark: SparkSession, path: str, schema: str,
             header: bool = True, mode: str = "PERMISSIVE",
             corrupt_record_col: str | None = None,
             **options: str) -> DataFrame:
    """CSV source with an explicit malformed-row policy — the first
    thing every real-world CSV ingest hits:

    - ``mode='PERMISSIVE'`` (default): malformed fields become NULL;
      pass ``corrupt_record_col`` to additionally capture each broken
      raw line in that column (added to the schema as a string) so bad
      rows can be quarantined with a plain ``filter`` instead of lost —
      the badRecordsPath pattern without a side-channel write.
    - ``mode='DROPMALFORMED'``: silently drop rows that don't parse.
    - ``mode='FAILFAST'``: abort the read on the first malformed row.

    Extra ``options`` pass through to the reader (sep, quote, escape,
    multiLine, ...). Schema is always pinned — never inferSchema in a
    production path (a sampling inference pass over 100 TB is a full
    extra read, and a wrong guess poisons every downstream cast)."""
    valid = {"PERMISSIVE", "DROPMALFORMED", "FAILFAST"}
    if mode.upper() not in valid:
        raise ValueError(f"mode {mode!r} not in {sorted(valid)}")
    r = (spark.read.option("header", header)
         .option("mode", mode.upper()))
    if corrupt_record_col is not None:
        if mode.upper() != "PERMISSIVE":
            raise ValueError(
                "corrupt_record_col requires mode='PERMISSIVE'")
        schema = f"{schema}, {corrupt_record_col} string"
        r = r.option("columnNameOfCorruptRecord", corrupt_record_col)
    for k, v in options.items():
        r = r.option(k, v)
    return r.schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def arrow_ipc_reader(spark: SparkSession, path: str,
                     schema: str) -> DataFrame:
    """Arrow IPC files (the Feather v2 on-disk format — record
    batches + footer) under ``path`` as rows: pyarrow opens each blob
    zero-copy, batches concatenate per file, and the PINNED Spark DDL
    is checked by field name/order against the file schema. The
    interchange format of the Arrow ecosystem (Feather, Polars, Ray
    datasets); file-granular parallelism like the other container
    sources. Streaming-IPC blobs (no footer) and schema drift raise."""
    import io

    import pyarrow as pa

    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.arrow").load(path)
    want = ddl_field_names(spark, schema)

    def unpack(batches):
        import pandas as pd
        for pdf in batches:
            frames = []
            for apath, content in zip(pdf["path"], pdf["content"]):
                rd = pa.ipc.open_file(io.BytesIO(bytes(content)))
                tbl = rd.read_all()
                names = [f.name for f in tbl.schema]
                if names != want:
                    raise ValueError(
                        f"arrow_ipc: {apath} schema fields {names} "
                        f"!= pinned {want}")
                frames.append(tbl.to_pandas())
            yield (pd.concat(frames) if frames
                   else pd.DataFrame(columns=want))

    return raw.select("path", "content").mapInPandas(unpack, schema)


def read_xml(spark: SparkSession, path: str, row_tag: str,
             schema: str) -> DataFrame:
    """XML source (Spark 4 native reader — spark-xml folded into core):
    one row per ``row_tag`` element, schema ALWAYS pinned (XML is the
    format where inferSchema hurts most: a sampling pass over 100 TB,
    and element-vs-attribute ambiguity makes guesses unstable).
    Splittable at file granularity; multi-GB single documents should
    be sharded at write time like tar/zip archives."""
    return (spark.read.format("xml").option("rowTag", row_tag)
            .schema(schema).load(path))


def read_orc(spark: SparkSession, path: str,
             schema: str | None = None) -> DataFrame:
    """ORC source (columnar alternative to parquet; Spark-native reader
    with the same pushdown/pruning machinery). Schema pinning optional —
    ORC carries its own types."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.orc(path)
