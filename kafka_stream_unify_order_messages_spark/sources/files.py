"""Parquet table loaders for the driver testdata.

The testdata stores ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark's
reader rejects outright (PARQUET_TYPE_ILLEGAL). With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set by session.get_spark) the
column arrives as a raw nanosecond LongType; we convert it back to
``timestamp_ntz`` by integer-dividing to microseconds — the same truncation
DuckDB applies when it narrows ns→us — so oracle comparisons agree exactly.

Only the parquet *footer* is inspected (driver-side, O(1)) to find ns
columns; the data path stays fully vectorized and column-pruned.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyarrow.types as patypes
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

TABLE_NAMES = [
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
]


# cached()'s store: load_table's plans and the artifacts queries build once
# and share. Bounded, as entries pin py4j refs (and their sessions).
_CACHE: dict[tuple, object] = {}
_CACHE_CAP = 512

# Session confs that change what `spark.read.parquet` RESOLVES (not just how
# a later action plans it): the V1/V2 source split is baked into the relation
# at read time, and mergeSchema/defaultParallelism-shaped splits feed the
# min_partitions decision below. A memo hit under different values of these
# would silently return a stale relation (round-13 regression:
# test_parquet_v2_aggregate_pushdown got a V1 FileScan back after flipping
# useV1SourceList, because the key ignored confs).
_READ_CONFS = (
    "spark.sql.sources.useV1SourceList",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.files.maxPartitionBytes",
)


def clear_cache() -> None:
    """Drop every cached entry (for callers and tests that need a miss)."""
    _CACHE.clear()


def _conf_val(spark: SparkSession, key: str) -> str:
    # no default arg: Spark 4 type-checks a passed default against the
    # conf's declared type, and these confs all have built-in defaults
    try:
        return spark.conf.get(key)
    except Exception:
        return ""


def _tree_mtime(path: str) -> float:
    """Max mtime over the path and everything under it: an in-place part
    file rewrite moves no directory's mtime, nested partitions included."""
    try:
        mtime = os.path.getmtime(path)
        if os.path.isdir(path):
            with os.scandir(path) as entries:
                for entry in entries:
                    mtime = max(mtime, _tree_mtime(entry.path))
    except OSError:
        return -1.0
    return mtime


def cached(spark: SparkSession, inputs: list, params: tuple, build):
    """The one cache: ``build()``'s value for this session, input paths
    and ``params`` (naming the artifact and its arguments), built only on
    a miss. A hit returns the very object, so a persisted frame is never
    re-armed. The key holds ``applicationId`` (a restarted session misses),
    ``id(spark)`` (not reusable while a cached frame keeps its session
    alive), the ``_READ_CONFS`` values and each input's ``_tree_mtime``.
    At the cap the oldest entry goes, not the whole store."""
    key = (
        spark.sparkContext.applicationId,
        id(spark),
        tuple(_conf_val(spark, c) for c in _READ_CONFS),
        tuple((p, _tree_mtime(p)) for p in inputs),
        params,
    )
    if key in _CACHE:
        return _CACHE[key]
    for p in inputs:
        # else a rebuilt plan still matches frames persisted on old files
        spark.catalog.refreshByPath(p)
    value = build()
    if len(_CACHE) >= _CACHE_CAP:
        del _CACHE[next(iter(_CACHE))]
    _CACHE[key] = value
    return value


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns, from the parquet footer only."""
    schema = pq.ParquetFile(_first_parquet_file(path)).schema_arrow
    return [
        field.name
        for field in schema
        if patypes.is_timestamp(field.type) and field.type.unit == "ns"
    ]


def _first_parquet_file(path: str) -> str:
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(".parquet"):
                return os.path.join(root, name)
    return path


def pin_file_arrival_order(
    path: str,
    pattern: str = "part-*",
    spacing_s: float = 1.0,
) -> list[str]:
    """Make a directory of files arrive IN NAME ORDER when read as a
    rate-limited file stream (``maxFilesPerTrigger``), by stamping
    strictly increasing modification times in sorted-name order (ending
    in the past, so files written later still sort after).

    Why this exists: Spark's file streaming source admits files by
    modification time, and a bulk DataFrame write gives every part file
    the SAME mtime — so a rate-limited replay arrives in arbitrary
    listing order. Processing-time pipelines only see jitter; for
    event-time pipelines it is data loss: one early batch containing a
    late-timeline file advances the watermark past everything still
    unread and the engine silently drops the rest as late (round-11
    measured failure: a sustained event-time run froze at 467/2000
    projections — STREAMING.md narrative, docs/DEPLOYMENT.md §5).
    Range-partitioned writes name part files in key order, so name
    order IS event-time order for a ``repartitionByRange(ts)`` layout.

    Returns the ordered file list. ``spacing_s`` must exceed the file
    source's mtime granularity (1 s is safe everywhere).
    """
    import glob as _glob
    import time as _time

    files = sorted(_glob.glob(os.path.join(path, pattern)))
    base = _time.time() - spacing_s * (len(files) + 3600)
    for i, f in enumerate(files):
        ts = base + i * spacing_s
        os.utime(f, (ts, ts))
    return files


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    min_partitions: int | None = None,
) -> DataFrame:
    """Load one testdata table, normalizing ns-timestamps to timestamp_ntz.

    Sets the runtime SQL confs this read path depends on, so it works on any
    caller-provided session (the driver builds its own vanilla session), not
    just one from session.get_spark().

    ``min_partitions``: parquet splits at ROW-GROUP granularity, so a small
    single-row-group file always scans as one partition and serializes any
    scan-heavy (CPU-bound per-row) downstream work on one core. Callers
    doing heavy scan-local compute (winnowing, minhash, trigram votes)
    pass ``spark.sparkContext.defaultParallelism``; the round-robin
    repartition fires ONLY when the scan yields fewer partitions, so on a
    real many-file dataset it is a no-op and costs no shuffle.

    The returned (lazy, immutable) DataFrame is held by cached() under
    its shared key (session, read confs, max mtime over everything under
    the path) plus min_partitions: ``spark.read.parquet`` costs ~90 ms of
    driver-side relation resolution (file listing + footer schema read)
    per call, and a bench sweep re-loads the same static tables ~600
    times (round-13 measurement). Only the PLAN is reused; every action
    still scans parquet (nothing is persisted), so measurements and the
    no-result-caching contract are untouched. A rewrite anywhere under
    the path, a restarted session or a flipped read conf (e.g. the V1/V2
    parquet source split) each miss.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        for col in _nanos_timestamp_columns(path):
            # `div` = integer division: ns→us truncation without double-
            # precision loss (epoch-ns ≈ 1.7e18 overflows a double mantissa)
            us = F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            df = df.withColumn(col, us.cast("timestamp_ntz"))
        if min_partitions and df.rdd.getNumPartitions() < min_partitions:
            df = df.repartition(min_partitions)
        return df

    return cached(spark, [path], ("load_table", min_partitions), build)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names or TABLE_NAMES}


def register_temp_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> None:
    """Register each table as a temp view so spark.sql can reference it."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_evolving_dataset(
    spark: SparkSession, path: str, merge_schema: bool = True
) -> DataFrame:
    """Read a parquet dataset whose schema evolved across writes (newer
    files carry added columns). ``mergeSchema`` reconciles the footers —
    union of columns, older files surface the added columns as null —
    the append-only schema-evolution contract (add-only, no renames /
    type changes) a long-lived 100 TB table relies on.

    Cost note: schema merging reads every file's FOOTER at planning
    time (no data pages); on tables with many files, pin the merged
    schema once and pass ``merge_schema=False`` thereafter — Spark then
    trusts the requested schema and older files still null-fill.
    """
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower())
        .parquet(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-enforced JSONL file source with the reference's
    strict/reject deserializer semantics (kafka.py:json_deserialize is
    the Kafka-column twin; this is the file-landing-zone path):

    - ``PERMISSIVE`` — malformed lines survive with every schema column
      null and the raw line captured in ``corrupt_col`` (quarantine-
      and-audit: count them, route them, never lose them)
    - ``DROPMALFORMED`` — malformed lines silently dropped (the lossy
      mode; prefer PERMISSIVE + explicit filter so the drop is audited)
    - ``FAILFAST`` — first malformed line fails the job (the strict
      contract for sources that must be clean)

    The schema is REQUIRED: schema inference reads the data twice and
    silently widens types on dirty files — never acceptable on a
    100 TB landing zone.
    """
    from pyspark.sql.types import StringType, StructType

    full = schema
    if mode.upper() == "PERMISSIVE" and corrupt_col not in schema.names:
        full = StructType(schema.fields).add(corrupt_col, StringType())
    return (
        spark.read.schema(full)
        .option("mode", mode.upper())
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
