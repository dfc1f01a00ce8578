"""COPY TO / COPY FROM as Engine.sql statements.

Reference: ``optimizer/commands/copy.cpp`` — ``DoCopy`` dispatches the
utility statement; the format list (text, csv, binary, fixed) is parsed
at :1614-1620. The wire formats themselves are already implemented in
``sources/readers.py`` (csv/text/fixed readers, PGCOPY binary
encode/decode with byte-exact framing, gated by
``copy_binary_roundtrip`` / ``copy_fixed_format_roundtrip``); this
module adds the STATEMENT surface so the reference's ``COPY t TO
'/path' (FORMAT csv)`` / ``COPY t FROM '/path' (FORMAT csv)`` text runs
through ``Engine.sql`` like every other utility command, returning the
``COPY n`` command tag psql shows.

Semantics matched to the reference:
  * COPY FROM requires the target table to exist (copy.cpp errors
    otherwise); here the target is a managed table (CREATE TABLE [AS])
    and loaded rows append through the same position-cast INSERT path.
  * COPY TO accepts a managed table, a catalog table, or any
    registered view name.
  * text format defaults: tab delimiter, ``\\N`` for NULL, no header
    (copy.cpp text defaults); csv: comma, empty-string NULL, optional
    HEADER.

Scale: both directions are distributed reads/writes (one task per
file); nothing is materialized on the driver except the command tag.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..registry import query
from ._util import status_frame

_COPY = re.compile(
    r"^\s*COPY\s+(?P<table>\w+)\s+(?P<dir>TO|FROM)\s+'(?P<path>[^']+)'"
    r"(?:\s+(?:WITH\s+)?\((?P<opts>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _parse_opts(opts: str | None) -> dict:
    out = {"format": "text", "header": False, "delimiter": None}
    if not opts:
        return out
    m = re.search(r"FORMAT\s+(\w+)", opts, re.I)
    if m:
        out["format"] = m.group(1).lower()
    m = re.search(r"HEADER(?:\s+(true|false|on|off))?", opts, re.I)
    if m:
        out["header"] = (m.group(1) or "true").lower() in ("true", "on")
    m = re.search(r"DELIMITER\s+'(.)'", opts, re.I)
    if m:
        out["delimiter"] = m.group(1)
    return out


def _resolve_source(engine, name: str) -> DataFrame:
    name = name.lower()
    if name in engine.managed_tables.tables:
        from .rls import protected_tables

        if name in protected_tables(engine):
            # COPY TO is a scan like any other: a protected table must
            # export through the RLS-filtered/masked view, never the
            # raw parquet (rewriteRlsPolicy applies to every scan; PG
            # likewise runs COPY under the caller's policies)
            return engine.spark.table(name)
        return engine.managed_tables.scan(name)
    return engine.spark.table(name)


# COPY (query) TO '...' — copy.cpp's query form (BeginCopyTo with a
# raw_query): any SELECT exports, not just a relation
_COPY_QUERY_TO = re.compile(
    r"^\s*COPY\s*\(\s*(?P<stmt>.+?)\s*\)\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+(?:WITH\s+)?\((?P<opts>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def try_handle_stmt(engine, query_text: str) -> DataFrame | None:
    """Route COPY statements; None when the text is not a COPY."""
    mq = _COPY_QUERY_TO.match(query_text)
    if mq is not None:
        from ..sources import readers

        opts = _parse_opts(mq.group("opts"))
        fmt = opts["format"]
        if fmt not in ("csv", "text", "binary"):
            raise ValueError(f"COPY: unsupported format {fmt!r}")
        df = engine.sql(mq.group("stmt"))
        n = df.count()
        path = mq.group("path")
        if fmt == "binary":
            readers.write_pg_binary(df, path)
        else:
            (
                df.write.mode("overwrite")
                .option("header", opts["header"] if fmt == "csv"
                        else False)
                .option("delimiter", opts["delimiter"]
                        or ("," if fmt == "csv" else "\t"))
                .option("nullValue", "" if fmt == "csv" else r"\N")
                .csv(path)
            )
        return status_frame(engine.spark, ("COPY", "(query)", "TO", fmt, n), "tag STRING, table STRING, direction STRING, format STRING,"
            " rows BIGINT",)
    m = _COPY.match(query_text)
    if m is None:
        return None
    from ..sources import readers

    name = m.group("table").lower()
    path = m.group("path")
    opts = _parse_opts(m.group("opts"))
    fmt = opts["format"]
    if fmt not in ("csv", "text", "binary"):
        raise ValueError(f"COPY: unsupported format {fmt!r}")

    if m.group("dir").upper() == "TO":
        df = _resolve_source(engine, name)
        n = df.count()
        if fmt == "binary":
            readers.write_pg_binary(df, path)
        elif fmt == "csv":
            (
                df.write.mode("overwrite")
                .option("header", opts["header"])
                .option("delimiter", opts["delimiter"] or ",")
                .option("nullValue", "")
                .csv(path)
            )
        else:  # text: tab-separated, \N nulls, no header
            (
                df.write.mode("overwrite")
                .option("header", False)
                .option("delimiter", opts["delimiter"] or "\t")
                .option("nullValue", r"\N")
                .csv(path)
            )
    else:  # FROM — target managed table must exist (copy.cpp semantics)
        if name not in engine.managed_tables.tables:
            raise KeyError(f"COPY FROM: managed table {name!r} does not exist")
        target = engine.managed_tables.scan(name)
        schema = target.schema
        if fmt == "binary":
            df = readers.read_pg_binary(engine.spark, path, schema)
        elif fmt == "csv":
            df = readers.read_csv(
                engine.spark, path, schema,
                delimiter=opts["delimiter"] or ",", header=opts["header"],
            )
        else:
            df = readers.read_text_copy(
                engine.spark, path, schema,
                delimiter=opts["delimiter"] or "\t",
            )
        n = df.count()
        engine.managed_tables.insert_into(name, df)

    return status_frame(engine.spark, ("COPY", name, m.group("dir").upper(), fmt, n), "tag STRING, table STRING, direction STRING, format STRING,"
        " rows BIGINT",)


@query(
    "copy_sql_roundtrip",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM src GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def copy_sql_roundtrip(spark, sf_dir):
    """The COPY statement surface end-to-end through Engine.sql
    (copy.cpp DoCopy): CTAS a slice, COPY it TO a csv directory, CTAS
    an empty twin (LIMIT 0 — schema only), COPY the files FROM into it,
    and aggregate the loaded table. A hash match against the direct
    aggregation proves the statement parse, the distributed write, the
    schema-bound distributed read, and the append path all preserve the
    rows exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="copy_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE copy_src AS"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders WHERE o_orderkey <= 300"
        )
        eng.sql(
            f"COPY copy_src TO '{tmp}/out_csv' (FORMAT csv, HEADER true)"
        )
        eng.sql(
            "CREATE TABLE copy_dst AS"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders LIMIT 0"
        )
        eng.sql(
            f"COPY copy_dst FROM '{tmp}/out_csv' (FORMAT csv, HEADER true)"
        )
        out = eng.sql(
            "SELECT o_orderstatus,"
            " COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total"
            " FROM copy_dst GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP TABLE copy_src PURGE")
        eng.sql("DROP TABLE copy_dst PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], float(r[2])) for r in rows],
            "o_orderstatus STRING, n BIGINT, total DOUBLE",
        ).select(
            "o_orderstatus", "n", F.col("total").cast("double")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "copy_sql_binary_roundtrip",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM src GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def copy_sql_binary_roundtrip(spark, sf_dir):
    """COPY ... (FORMAT binary) end-to-end through Engine.sql — the
    PGCOPY byte layout (copy.cpp CopyTo/CopyFrom binary path:
    PGCOPY\\n\\377\\r\\n\\0 signature, int16 field count, int32
    per-field byte lengths, -1 NULL sentinel, big-endian payloads):
    COPY TO writes the binary files distributed, COPY FROM reads them
    back schema-bound, and the aggregate over the loaded table must
    hash-match the direct aggregation — int64/string/double all survive
    the byte round-trip exactly (doubles are bit-preserved IEEE, never
    text-formatted).

    Scale: the binary writer/reader run per-partition (mapInArrow-style
    batches, no driver collect); one shuffle for the final aggregate."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="copy_bin_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE copyb_src AS"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders WHERE o_orderkey <= 300"
        )
        eng.sql(f"COPY copyb_src TO '{tmp}/out_bin' (FORMAT binary)")
        eng.sql(
            "CREATE TABLE copyb_dst AS"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders LIMIT 0"
        )
        eng.sql(f"COPY copyb_dst FROM '{tmp}/out_bin' (FORMAT binary)")
        out = eng.sql(
            "SELECT o_orderstatus,"
            " COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,"
            " MIN(o_orderkey) AS min_key,"
            " MAX(o_orderkey) AS max_key"
            " FROM copyb_dst GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP TABLE copyb_src PURGE")
        eng.sql("DROP TABLE copyb_dst PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], float(r[2]), r[3], r[4]) for r in rows],
            "o_orderstatus STRING, n BIGINT, total DOUBLE,"
            " min_key BIGINT, max_key BIGINT",
        ).select(
            "o_orderstatus", "n", F.col("total").cast("double"),
            "min_key", "max_key",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
