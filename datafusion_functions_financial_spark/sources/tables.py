"""Parquet table access for the driver's testdata layout (TESTDATA.md)."""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _parquet_ts_is_nanos(path: str) -> bool:
    """True when the parquet ``ts`` column is TIMESTAMP(NANOS).

    Footer-only probe via pyarrow (handles single files and directory
    datasets); conservative False on any probe failure — a genuine
    nanos file would then fail the Spark read loudly rather than be
    silently misread.
    """
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        t = ds.dataset(path, format="parquet").schema.field("ts").type
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return False


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# SparkSession -> {path: ((file stamps, nanosAsLong), schema)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def _local_stamp(path: str):
    """``(relative name, st_mtime_ns, st_size)`` of every file of a local
    parquet path (a single file or a directory dataset), sorted; None for
    a non-local or missing path."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    if os.path.isfile(local):
        st = os.stat(local)
        return (("", st.st_mtime_ns, st.st_size),)
    if not os.path.isdir(local):
        return None
    out = []
    for root, _dirs, files in os.walk(local):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, local), st.st_mtime_ns,
                        st.st_size))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per session.

    Inference reads a footer in a Spark job; a read with a known schema
    (``spark.read.schema(s)``) fires none. The cached schema is reused
    while the path's files keep their ``(mtime_ns, size)`` and
    ``nanosAsLong`` keeps its value; non-local paths are not cached.
    """
    stamp = _local_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (stamp, spark.conf.get(_NANOS_AS_LONG))
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[path] = (key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; parquet scans keep pushdown + pruning.

    ``events.ts`` is normalized to **epoch-nanosecond LongType** no
    matter the parquet physical type — the engine models tick time the
    way the reference does (nanosecond integers; SURVEY.md §7 hard
    part 4), and the testdata generator has shipped the column both as
    TIMESTAMP(NANOS) (reads as long under ``nanosAsLong``) and as
    TIMESTAMP(MICROS) (reads as timestamp). Session timezone must be
    UTC (conftest/bench set it) so the NTZ->epoch conversion agrees
    with DuckDB's naive ``epoch_us(ts)``.

    The parquet schema is inferred once per session and path (inference
    costs a Spark job; a read with the cached schema fires none). It is
    inferred again when any data file of the path (a single file or a
    directory dataset) changes its ``(mtime_ns, size)``, a file is added
    or removed, or ``spark.sql.legacy.parquet.nanosAsLong`` changes.
    Non-local paths (``s3a://``, ``hdfs://``...) are inferred on every
    call.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name != "events":
        return _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    path = f"{sf_dir}/{name}.parquet"
    # TIMESTAMP(NANOS) files need spark.sql.legacy.parquet.nanosAsLong.
    # Spark's ParquetFileFormat re-reads that conf at PHYSICAL PLANNING /
    # execution time (buildReaderWithPartitionValues), not only at schema
    # inference — so a set-then-restore dance would make df.schema
    # succeed and execution fail with "Illegal Parquet type" (ADVICE
    # r03). Instead, probe the parquet footer with pyarrow and, only
    # when the file really is nanos, set the conf FOR THE SESSION (the
    # session-level effect is deliberate and harmless: the conf only
    # changes how TIMESTAMP(NANOS) columns read, as epoch-ns longs —
    # exactly this engine's tick-time model).
    if _parquet_ts_is_nanos(path):
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = _read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, (TimestampType, TimestampNTZType)):
        # The NTZ -> epoch conversion interprets the naive timestamp in
        # the SESSION timezone; anything but UTC silently shifts every
        # tick relative to the oracle's naive epoch_us(ts) (ADVICE r02).
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise RuntimeError(
                "load('events') requires spark.sql.session.timeZone=UTC "
                f"for the naive-timestamp -> epoch-ns conversion (got "
                f"{tz!r}); set it in the session builder"
            )
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast(TimestampType()))
             * F.lit(1000)).cast(LongType()),
        )
    return df
