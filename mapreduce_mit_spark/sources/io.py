"""Sources & sinks.

The reference's only source is a whole-file text scan
(/root/reference/src/mapreduce/common_map.go:53-57: one file read fully
into a string, one file per map task) and its only sinks are local JSON
spill files and a merged key-sorted text file
(master_splitmerge.go:39-48). This module re-expresses those plus the
full set a Spark engine is expected to have: parquet (columnar,
pushdown-friendly — the primary format for the driver tables), line text,
CSV, JSON.

Scale notes:
- ``load_table`` is a schema-supplied ``spark.read.parquet`` — column
  pruning and predicate pushdown reach the scan automatically when
  queries are declarative (verified via ``.explain`` in tests).
- ``read_corpus`` keeps the reference's one-row-per-file granularity via
  ``wholeTextFiles``; this is only for golden-parity workloads (16 small
  books). At 100 TB, documents live in parquet (the ``documents`` table),
  not in millions of tiny files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_name", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def ensure_reader_confs(spark: SparkSession) -> None:
    """Make the engine work on ANY caller-supplied SparkSession.

    The driver (and any downstream user) builds its own bare session, so
    confs the engine depends on must be applied at the source boundary,
    not only in our session factory. Both are runtime-settable:

    - ``spark.sql.legacy.parquet.nanosAsLong``: ``events.parquet`` stores
      TIMESTAMP(NANOS), which Spark otherwise rejects outright
      (PARQUET_TYPE_ILLEGAL). With the conf, ts arrives as a long of
      nanoseconds and ``normalize_ns_timestamps`` converts it to a µs
      timestamp — the same truncation DuckDB applies, so oracles agree.
    - ``spark.sql.session.timeZone=UTC``: timestamp→date/display
      conversions are session-TZ-dependent in Spark but naive in the
      DuckDB oracle; pinning UTC makes date functions deterministic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _per_file(spark: SparkSession, kind: str, path: str, make):
    """``make()`` once per (session, ``kind``, version of the file at
    ``path``), keyed (kind, realpath, size, mtime_ns): a file rewritten
    in place supersedes its entry. The dict is the session's own, apart
    from the index cache (plans/_util._session_cache): a serve pass is
    checked to add nothing to that one."""
    from ..plans._util import _cache_put, source_fingerprint

    key = (kind,) + source_fingerprint(path)
    cache = getattr(spark, "_mms_table_cache", None)
    if cache is None:
        cache = spark._mms_table_cache = {}
    if key not in cache:
        _cache_put(cache, key, make())
    return cache[key]


def read_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema a table file is read with: one footer-read job
    per file version, none after, so query construction is pure plan
    analysis (zero jobs, pinned by
    tests/test_plan_shapes.py::test_plan_construction_runs_no_jobs).

    TIMESTAMP_NTZ columns (ordinary parquet written without a tz, e.g.
    by DuckDB/pandas/pyarrow) are declared TIMESTAMP, so the scan reads
    them as such: strict consumers (``unix_micros``, range frames over
    event time) work on ANY parquet source, and with the session TZ
    pinned UTC the values are identical, with no per-row cast."""
    ensure_reader_confs(spark)  # before inference: ts reads as nanos-as-long
    return _per_file(spark, "schema", path, lambda: T.StructType([
        T.StructField(f.name, T.TimestampType(), f.nullable, f.metadata)
        if isinstance(f.dataType, T.TimestampNTZType) else f
        for f in spark.read.parquet(path).schema
    ]))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table: ``{sf_dir}/{name}.parquet``.

    The same DataFrame object comes back for every call on one version
    of the file: a fresh read cost ~12 ms (file index, Hadoop conf,
    analysis) per table per warm query.

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long of
    nanoseconds and is converted here to a µs timestamp (truncation —
    exactly what DuckDB does reading the same file)."""
    ensure_reader_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _per_file(spark, "table", path, lambda: normalize_ns_timestamps(
        spark.read.schema(read_schema(spark, path)).parquet(path)
    ))


def normalize_ns_timestamps(df: DataFrame) -> DataFrame:
    """nanos-as-long ``ts`` (a TIMESTAMP(NANOS) parquet column read
    under ``nanosAsLong``) → µs timestamp via integer division (ns
    values ~1.7e18 exceed double precision)."""
    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster iff it under-parallelizes.

    The driver's testdata parquet files are written as a single row
    group, so the scan yields ONE partition and any CPU-bound per-row
    work downstream (tokenization, minhash, simhash, embedding math)
    runs on one core. On a real 100 TB dataset the scan has thousands
    of splits and this is a no-op — the repartition is inserted only
    when the scan's partition count is below the cluster's default
    parallelism, so we never pay a gratuitous shuffle at scale.
    Round-robin (no key) keeps the spread skew-free.
    """
    sc = df.sparkSession.sparkContext
    n = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several driver tables at once."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def read_corpus(
    spark: SparkSession,
    path_glob: str,
    max_bytes_per_partition: int | None = None,
) -> DataFrame:
    """Whole-file text scan: one row per file, `(doc_name, text)`.

    Mirrors the reference's dataset model (one input file = one split;
    map receives (filename, full contents) — common_map.go:53-61,
    master.go:63-65) with the basename as doc_name, exactly the string
    the inverted-index app joins into its output (ii.go:27).

    ``max_bytes_per_partition`` routes the scan through the planner-
    native ``wholefile_text`` DataSource with its binpack option
    (sources/pydatasource.py): small files greedily coalesce into
    multi-file tasks under the byte cap — the crawl-scale path, where
    partition-per-file would schedule millions of tiny tasks. Same
    (doc_name, text) contract either way."""
    if max_bytes_per_partition is not None:
        from .pydatasource import register_wholefile_source

        register_wholefile_source(spark)
        return (
            spark.read.format("wholefile_text")
            .option("path", path_glob)
            .option("maxBytesPerPartition", str(max_bytes_per_partition))
            .load()
            .select(
                F.element_at(F.split("path", "/"), -1).alias("doc_name"),
                F.col("content").alias("text"),
            )
        )
    return spark.createDataFrame(corpus_rdd(spark, path_glob), CORPUS_SCHEMA)


def corpus_rdd(spark: SparkSession, paths: str):
    """RDD of (basename, contents), one record per file. ``minPartitions``
    asks for one split per core: without it Spark packs a small corpus
    into min(defaultParallelism, 2) splits, so the map side of word
    count and inverted index ran 2 tasks on a 4-core session."""
    sc = spark.sparkContext
    return sc.wholeTextFiles(paths, minPartitions=sc.defaultParallelism).map(
        lambda kv: (os.path.basename(kv[0]), kv[1])
    )


def read_text_lines(spark: SparkSession, path_glob: str) -> DataFrame:
    """Line-oriented text source with file provenance column."""
    return spark.read.text(path_glob).withColumn(
        "doc_name", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None, **opts) -> DataFrame:
    reader = spark.read.options(header="true", **{k: str(v) for k, v in opts.items()})
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_sorted_text(df: DataFrame, key: str, value: str, path: str) -> None:
    """The reference's merged sink: ``"key: value"`` lines, byte-sorted by key.

    master_splitmerge.go:39-48 materializes everything on the master and
    sorts in one process; here ``orderBy`` is a distributed range-
    partitioned sort and only the final file-count is collapsed. The
    ``coalesce(1)`` exists solely for golden-output byte parity — at real
    scale callers should omit it and keep one sorted file per partition.
    """
    (
        df.orderBy(key)
        .select(F.concat(F.col(key), F.lit(": "), F.col(value)).alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
