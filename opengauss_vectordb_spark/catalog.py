"""Table catalog over the driver's parquet star schema (TESTDATA.md).

The reference declares fixed schemas via DDL in pg_class/pg_attribute
(SURVEY.md §1.3); we treat the parquet footers as the declared schema and
register temp views so both the DataFrame and spark.sql() entry points see
the same relations — mirroring how the reference's row and vectorized
engines converge on one catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Per-table DataFrame-HANDLE cache: ``spark.read.parquet`` costs
    # ~90 ms per call on this harness (py4j round-trips + footer/schema
    # read) regardless of table size, and the 151-query bench paid it
    # 1-6 times per query per round — ~1/3 of total bench wall time was
    # query CONSTRUCTION (guide §1 measurement, OPTIMIZATION_r12.md).
    # The cached object is an immutable LAZY plan over the parquet
    # files: every action still scans parquet from scratch, so this is
    # plan reuse, never result caching.  Keyed on the session OBJECT
    # (held strongly, so an id() is never reused by a different live
    # session — the _DF_CACHE convention below).
    key = (id(spark), sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS), which Spark 4 has no type for:
        # required conf is set here (not only in session.py) because the
        # driver harness hands us ITS OWN SparkSession
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # nanos long → TimestampNTZ by pure arithmetic (timestampadd
            # on an NTZ base): wall-clock equals DuckDB's nanos→micros
            # truncation REGARDLESS of the session timezone. Integer DIV,
            # not double /: nanos ≈ 1.7e18 exceeds double's 53-bit exact
            # range. The other tables' timestamps are read as NTZ already
            # (isAdjustedToUTC=false), so the whole catalog is TZ-proof.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    _TABLE_CACHE[key] = (spark, df)
    return df


# (session, sf_dir, table) → lazy DataFrame handle (see table()).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def invalidate_table_cache(sf_dir: str | None = None) -> None:
    """Drop cached parquet handles (all, or those under one sf_dir).
    The cached plan pins the file listing captured at first read — a
    caller that regenerates a directory's parquet in-process must
    invalidate, or stale handles reference deleted files (ADVICE r12)."""
    keys = [
        k for k in _TABLE_CACHE
        if sf_dir is None or k[1] == sf_dir
    ]
    for k in keys:
        del _TABLE_CACHE[k]
    keys = [
        k for k in _PARQUET_CACHE
        if sf_dir is None or k[1].startswith(str(sf_dir))
    ]
    for k in keys:
        del _PARQUET_CACHE[k]


def parquet_handle(spark: SparkSession, path: str,
                   schema=None) -> DataFrame:
    """Memoized LAZY ``spark.read.parquet(path)`` handle for index/layout
    paths outside the star schema (IVF data/centroids, IVF×PQ codes) —
    the same ~90 ms footer/py4j cost per call the table() cache removes
    (guide §5; r12's 37 s construction finding).  Plan reuse only: every
    action re-scans the parquet files.  A caller that knows the files'
    ``schema`` (directory partition columns left out, as they are still
    discovered from the paths) saves the inferring read its job."""
    key = (id(spark), path)
    hit = _PARQUET_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    _PARQUET_CACHE[key] = (spark, df)
    return df


# (session, path) → lazy parquet handle (see parquet_handle()).
_PARQUET_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


# (session, sf_dir) → loaded frames.  The parquet-footer reads cost
# ~1.2 s per catalog load and every Engine() constructs one — gate
# queries build throwaway Engines, so the cache removes the dominant
# fixed cost of each.  Keyed on the SESSION OBJECT (kept strongly, so
# an id() is never reused for a different live session); the frames
# are immutable lazy plans, safe to share across Engines.
_DF_CACHE: dict[tuple[int, str], tuple[SparkSession, dict]] = {}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for spark.sql() queries.

    The view registration itself is NEVER skipped: downstream state
    (RLS denied-views, flashback snapshots) replaces base-name views,
    and a fresh Engine restores the unfiltered catalog exactly by
    re-registering — only the footer reads are cached."""
    key = (id(spark), sf_dir)
    hit = _DF_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        dfs = hit[1]
    else:
        dfs = load_all(spark, sf_dir)
        _DF_CACHE[key] = (spark, dfs)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
