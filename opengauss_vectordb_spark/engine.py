"""Engine facade — the user-facing entry point, converging the SQL and
DataFrame APIs on one session/catalog the way the reference's row and
vectorized engines converge on one planner (SURVEY.md §3).

    from opengauss_vectordb_spark.engine import Engine
    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.sql("SELECT ... FROM lineitem ...")      # Spark SQL + PG-name fns
    eng.table("orders").groupBy(...)             # DataFrame API
    eng.knn("embeddings", "embedding", qvec, 10) # ANN entry (index-routed)
    eng.models.create_model(...)                 # DB4AI surface

The statement surface of ``Engine.sql`` is one ordered table.  Text
passes run first: ``REWRITES``, then ``OPERATOR_REWRITES`` unless the
statement is an EXPLAIN (its inner ``Engine.sql`` call rewrites once
the index-routing collector is armed).  The pg_* catalog views answer
next, unrecorded.  Then each ``(name, handler)`` row of ``STATEMENTS``
is tried in order — a handler takes ``(engine, query)`` and returns a
DataFrame or None — and the first non-None result wins.  A statement
no row claims goes to the canonical ANN router (``ann_route``), else
to ``translate`` + ``spark.sql`` (``spark_sql``).  pg_stat_statements'
``handler`` column names the row that served each statement.

Adding a statement means adding one row, and order matters: an earlier
row shadows every later row whose grammar overlaps it.  The rows live
here (index DDL, transactions, GUCs, catalog probes) or in the module
that owns the statement: matviews, prepared statements, cursors and
EXPLAIN (portal), ANALYZE (stats), COPY, partition DDL, TIMECAPSULE,
CREATE TYPE, schemas, managed tables and sequences (ddl_tables),
CREATE FUNCTION in SQL, plpgsql and plpython, DO blocks and procedures,
DB4AI statements, MERGE, triggers, dblink, row-level security and
packages.
"""

from __future__ import annotations

import glob
import os
import re
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, register_views
from .catalog import table as _table
from .functions import register_pg_functions
from .functions.sql_compat import translate
from .ml import ModelWarehouse
from .operators import (
    copy_stmt,
    create_aggregate,
    create_function,
    dblink,
    ddl_tables,
    do_block,
    gin_index,
    gist_index,
    index_lifecycle,
    matview,
    merge,
    ml_stmt,
    packages,
    partition_ddl,
    plpgsql,
    plpython,
    portal,
    prepared,
    range_types,
    rls,
    schemas,
    start_with,
    stats,
    timecapsule,
    triggers,
    tsdb_fill,
    user_types,
)
from .operators._util import status_frame, sub_outside_literals
from .plans.ann_rewrite import AM as ANN_AM
from .plans.ann_rewrite import AnnCatalog

# ---------------------------------------------------------------- GUCs

# pgvector's typed session GUCs: name -> (default, lo, hi).  Defaults
# are ivfflat.cpp:35 probes=1 and hnsw.h:39 ef_search=40; probes stops
# at the lists maximum (SURVEY §2.8).  Every other GUC is stored as
# the text given.
TYPED_GUCS = {
    "ivfflat.probes": (1, 1, 32768),
    "hnsw.ef_search": (40, 1, 1000),
}


def set_guc(engine, name: str, raw: str):
    """Store GUC ``name`` from its SQL text and return the value: an
    int for a typed GUC, else the unquoted text.  An out-of-range or
    non-integer typed value raises, as PG's "invalid value for
    parameter" does."""
    name, val = name.lower(), raw.strip().strip("'")
    if name in TYPED_GUCS:
        _default, lo, hi = TYPED_GUCS[name]
        if not re.fullmatch(r"[+-]?\d+", val) or not lo <= int(val) <= hi:
            raise ValueError(
                f'invalid value for parameter "{name}": {val!r} '
                f"(an integer in {lo}..{hi})"
            )
        val = int(val)
    engine._gucs[name] = val
    return val


def guc(engine, name: str):
    """The session value of GUC ``name``, a typed GUC's default when
    unset; KeyError for an unset untyped one."""
    if name in engine._gucs:
        return engine._gucs[name]
    if name in TYPED_GUCS:
        return TYPED_GUCS[name][0]
    raise KeyError(f"unrecognized configuration parameter {name!r}")


def _guc_frame(engine, head: tuple, name: str, val, cols: str):
    """A SET/SHOW row ending in ``value``: INT for a typed GUC, STRING
    for the rest."""
    if name in TYPED_GUCS:
        return status_frame(engine.spark, (*head, val), cols + " INT")
    return status_frame(engine.spark, (*head, str(val)), cols + " STRING")


# ------------------------------------------------------ rewrite passes

_LAST_INSERT_ID = re.compile(r"\blast_insert_id\s*\(\s*\)", re.IGNORECASE)


def _last_insert_id(engine, query: str) -> str:
    """last_insert_id() → the session's literal (B-format; MySQL's rule:
    the FIRST id of the latest identity INSERT, 0 before any).  Inert
    inside string literals."""
    return sub_outside_literals(
        _LAST_INSERT_ID, lambda _m: str(engine.last_insert_id), query)


_TSDB_CALL = re.compile(
    r"\b(?:time_window|time_fill|fill_last|fill_first)\s*\("
    r"|\b(?:first|last)\s*\(.*\barray_agg\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def _tsdb_fill(engine, query: str) -> str:
    """tsdb bucket spellings: time_window epoch-floor, GROUP BY
    time_fill gapfill with fill_last/fill_first LOCF, first/last array
    pairs; identity otherwise."""
    if _TSDB_CALL.search(query):
        return tsdb_fill.rewrite_tsdb_fill(engine, query)
    return query


def rewrite_call_sites(engine, query: str) -> str:
    """User-aggregate call sites → aggregate() folds, then PL/Python
    SETOF call sites → explode() generators; identity when neither
    kind is registered.  Aggregates declaring a CFUNC fold per
    (group × slice) and merge slice states where the statement's shape
    allows it."""
    two = create_aggregate.rewrite_agg_two_level(engine, query)
    query = two if two is not None \
        else create_aggregate.rewrite_agg_calls(engine, query)
    return plpython.rewrite_setof_calls(engine, query)


# Every statement, in order: package member calls and variable reads
# first (so every handler sees the mangled names), flashback scans,
# then schema-qualified names, search_path and synonyms.
REWRITES = (
    packages.rewrite_member_calls,
    packages.substitute_var_reads,
    _last_insert_id,
    timecapsule.rewrite_flashback,
    schemas.rewrite_qualified_names,
    schemas.resolve_search_path,
    schemas.resolve_synonyms,
)
# Operator passes, skipped for an EXPLAIN wrapper: rewriting there would
# erase the operators before EXPLAIN could attribute them to an index.
# @@ and array operators (GIN), box operators (GiST), range operators,
# START WITH ... CONNECT BY, tsdb buckets.
OPERATOR_REWRITES = (
    gin_index.rewrite_tsmatch,
    gin_index.rewrite_array_ops,
    gist_index.rewrite_gist_ops,
    range_types.rewrite_range_ops,
    start_with.rewrite_start_with,
    _tsdb_fill,
)
_EXPLAIN = re.compile(r"^\s*EXPLAIN\b", re.IGNORECASE)

# ------------------------------------------------------- catalog views

_CATALOG_VIEW = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+"
    r"(?P<cat>pg_stat_statements|pg_tables|pg_indexes|pg_policies"
    r"|pg_description)\s*;?\s*$",
    re.IGNORECASE,
)


def _catalog_view(engine, query: str) -> DataFrame | None:
    """SELECT * FROM pg_stat_statements / pg_tables / pg_indexes /
    pg_policies / pg_description, answered from the engine's
    registries."""
    m = _CATALOG_VIEW.match(query)
    if m is None:
        return None
    cat = m.group("cat").lower()
    if cat == "pg_stat_statements":
        return engine.stat_statements()
    if cat == "pg_description":
        # one row per COMMENT ON target (comment.cpp)
        rows = [(kind, obj, txt)
                for (kind, obj), txt in sorted(engine.comments.items())]
        return engine.spark.createDataFrame(
            rows, "objtype STRING, objname STRING, description STRING",
        )
    if cat == "pg_tables":
        # the parquet star schema plus managed (CTAS) tables, tagged by
        # origin; temp relations surface like pg_temp_* schema entries,
        # members of a registered schema render qualified
        mt = engine.managed_tables

        def _render(t: str) -> str:
            head, sep, rest = t.partition("__")
            return f"{head}.{rest}" if sep and head in engine.schemas else t

        rows = [(t, "catalog") for t in sorted(engine.tables)] + [
            (_render(t), "temp" if mt.tables[t].get("temp") else "managed")
            for t in sorted(mt.tables)
        ]
        return engine.spark.createDataFrame(
            rows, "tablename STRING, origin STRING")
    if cat == "pg_policies":
        # one row per RLS policy and per masking policy
        rows = [
            (tbl, name, "rls",
             ",".join(sorted(p["roles"])) if p["roles"] else "public",
             p["pred"])
            for tbl, pols in sorted(engine.rls_policies.items())
            for name, p in sorted(pols.items())
        ] + [
            (engine.resource_labels[p["label"]][0][0], name, "masking",
             ",".join(sorted(p["roles"])) if p["roles"] else "public",
             p["fn"])
            for name, p in sorted(engine.masking_policies.items())
            if engine.resource_labels.get(p["label"])
        ]
        return engine.spark.createDataFrame(
            rows,
            "tablename STRING, policyname STRING, kind STRING,"
            " roles STRING, qual STRING",
        )
    rows = [
        (name, tbl, col, "btree")
        for name, (tbl, col) in sorted(engine._btree_indexes.items())
    ] + index_lifecycle.catalog_rows(engine)
    return engine.spark.createDataFrame(
        rows,
        "indexname STRING, tablename STRING, colname STRING, am STRING",
    )


# ---------------------------------------------------------- index DDL

# CREATE INDEX [name] ON tbl USING ivfflat|hnsw (col opclass)
# [WITH (k = v, ...)] — the datavec DDL shape (README.md:75,
# datavec--0.7.2.sql:353-403 opclasses)
_CREATE_ANN_INDEX = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:(?P<name>\w+)\s+)?ON\s+(?P<table>\w+)\s+"
    r"USING\s+(?P<am>ivfflat|hnsw)\s*\(\s*(?P<col>\w+)\s+"
    r"(?P<opclass>\w+)\s*\)(?:\s*WITH\s*\(\s*(?P<opts>[^)]*)\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_OP_METRIC = {"<->": "l2", "<#>": "ip", "<=>": "cosine", "<+>": "l1"}
_OPCLASS_METRIC = {
    "vector_l2_ops": "l2",
    "vector_ip_ops": "ip",
    "vector_cosine_ops": "cosine",
    "vector_l1_ops": "l1",
    "halfvec_l2_ops": "l2",
    "sparsevec_ip_ops": "ip",
    "bit_hamming_ops": "hamming",
}


def _create_ann_index(engine, query: str) -> DataFrame | None:
    m = _CREATE_ANN_INDEX.match(query)
    if m is None:
        return None
    table_name = m.group("table").lower()
    col = m.group("col")
    am = m.group("am").lower()
    opclass = m.group("opclass").lower()
    if opclass not in _OPCLASS_METRIC:
        raise ValueError(f"unknown operator class {opclass!r}")
    metric = _OPCLASS_METRIC[opclass]
    opts = {}
    for part in (m.group("opts") or "").split(","):
        if "=" in part:
            k, v = part.split("=", 1)
            opts[k.strip().lower()] = v.strip()
    name = (m.group("name") or f"{table_name}_{col}_{am}").lower()
    if am == "ivfflat":
        params = {"lists": int(opts.get("lists", 100))}
    else:
        params = {
            "id_col": opts.get("id_col") or index_lifecycle.source_df(
                engine, table_name).columns[0],
            "m": int(opts.get("m", 16)),
            "ef_construction": int(opts.get("ef_construction", 64)),
        }
    index_lifecycle.create(engine, ANN_AM, name, {
        "table": table_name, "col": col, "kind": am,
        "params": {"metric": metric, **params},
    })
    return status_frame(
        engine.spark, ("CREATE INDEX", name, am, table_name, col, metric),
        "tag STRING, index STRING, am STRING, tbl STRING, col STRING,"
        " metric STRING")


# CREATE INDEX [name] ON tbl [USING btree] (col) — the relational
# index shape (indexcmds.cpp DefineIndex); on parquet the honest
# equivalent is a sorted data-skipping layout
# trailing LOCAL/GLOBAL is the reference's partitioned-index form
# (gram.y index_including_option): LOCAL per-partition order is
# exactly what CLUSTER produces on a partitioned managed table
# (within-partition sort); GLOBAL has no cross-partition structure
# to build here, but the sorted rewrite gives the same rowgroup
# min/max skipping, so both route to the one layout
# UNIQUE is tolerated as metadata, like PRIMARY KEY on CREATE
# TABLE (no constraint enforcement on the immutable store)
_CREATE_BTREE = re.compile(
    r"^\s*CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:CONCURRENTLY\s+)?"
    r"(?:(?P<name>\w+)\s+)?ON\s+"
    r"(?P<table>\w+)\s+(?:USING\s+BTREE\s*)?"
    r"\(\s*(?P<col>\w+)\s*\)\s*(?:LOCAL|GLOBAL)?"
    r"(?:\s+WHERE\s+.+?)?\s*;?\s*$",
    re.IGNORECASE,
)


def _create_btree_index(engine, query: str) -> DataFrame | None:
    m = _CREATE_BTREE.match(query)
    if m is None:
        return None
    table, col = m.group("table").lower(), m.group("col")
    name = (m.group("name") or f"{table}_{col}_idx").lower()
    if table not in engine.managed_tables.tables:
        if table in engine.tables:
            raise NotImplementedError(
                "btree CREATE INDEX on a read-only catalog "
                "table: use the zorder/bucketed layouts "
                "(sources/zorder.py, sources/bucketed.py) for "
                "the star schema"
            )
        raise KeyError(f"CREATE INDEX: table {table!r} not found")
    # sorted rewrite = the index: disjoint per-file key ranges so
    # rowgroup min/max stats prune scans on the key
    engine.sql(f"CLUSTER {table} ON ({col})")
    engine._btree_indexes[name] = (table, col)
    return status_frame(
        engine.spark, ("CREATE INDEX", name, "btree", table, col),
        "tag STRING, index STRING, am STRING, tbl STRING, col STRING")


def _reindex(engine, query: str) -> DataFrame | None:
    """REINDEX [INDEX] name: the explicit from-scratch rebuild of any AM
    from its table (indexcmds.cpp; hnswbuild.cpp and ivfbuild.cpp build
    from scratch too) — the answer to centroid drift after heavy
    appends.  An unknown name falls through."""
    m = re.match(r"^\s*REINDEX\s+(?:INDEX\s+)?(?P<name>\w+)\s*;?\s*$",
                 query, re.IGNORECASE)
    if m and (m.group("name").lower() in engine._btree_indexes
              or index_lifecycle.find(engine, m.group("name").lower())):
        return engine._alter_index(m.group("name").lower(), rebuild=True)
    return None


def _alter_index_stmt(engine, query: str) -> DataFrame | None:
    m = re.match(
        r"^\s*ALTER\s+INDEX\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s+"
        r"(?:RENAME\s+TO\s+(?P<new>\w+)|(?P<rebuild>REBUILD)"
        r"|(?P<unusable>UNUSABLE))\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    return engine._alter_index(
        m.group("name").lower(),
        new=(m.group("new") or "").lower() or None,
        rebuild=m.group("rebuild") is not None,
        unusable=m.group("unusable") is not None,
    )


def _text_search(engine, query: str) -> DataFrame | None:
    """CREATE/ALTER/DROP TEXT SEARCH CONFIGURATION|DICTIONARY
    (tsearchcmds.cpp).  The engine's one tokenizer is the documented
    simple config and to_tsvector('cfg', col) accepts any config name,
    so these are catalog entries: CREATE registers, DROP removes, ALTER
    ADD/DROP MAPPING is metadata."""
    m = re.match(
        r"^\s*(?P<verb>CREATE|ALTER|DROP)\s+TEXT\s+SEARCH\s+"
        r"(?P<kind>CONFIGURATION|DICTIONARY)\s+"
        r"(?:IF\s+EXISTS\s+)?(?P<name>\w+)\b.*?;?\s*$",
        query, re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        return None
    name = m.group("name").lower()
    verb = m.group("verb").upper()
    if verb == "CREATE":
        engine.ts_configs.add(name)
    elif verb == "DROP":
        engine.ts_configs.discard(name)
    elif name not in engine.ts_configs:
        raise KeyError(
            f"ALTER TEXT SEARCH: {name!r} is not a registered "
            "configuration/dictionary"
        )
    return status_frame(engine.spark, (f"{verb} TEXT SEARCH", name),
                        "tag STRING, name STRING")


def _reindex_table(engine, query: str) -> DataFrame | None:
    """REINDEX TABLE t (indexcmds.cpp ReindexTable): rebuild EVERY index
    on the relation (CONCURRENTLY is a locking detail with no analogue
    on immutable parquet — accepted, ignored)."""
    m = re.match(
        r"^\s*REINDEX\s+TABLE\s+(?:CONCURRENTLY\s+)?(?P<t>\w+)\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    t = m.group("t").lower()
    rebuilt = [name for name, (tbl, _c) in engine._btree_indexes.items()
               if tbl == t]
    rebuilt += [name for _am, name, _idx
                in index_lifecycle.on_table(engine, t)]
    for name in rebuilt:
        engine._alter_index(name, rebuild=True)
    return status_frame(engine.spark, ("REINDEX TABLE", t, len(rebuilt)),
                        "tag STRING, tbl STRING, indexes INT")


def _drop_index(engine, query: str) -> DataFrame | None:
    """DROP INDEX of any AM.  Dropping a btree index keeps the clustered
    layout (it is just data order) — only the catalog entry goes."""
    m = re.match(
        r"^\s*DROP\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+EXISTS\s+)?"
        r"(?P<name>\w+)\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    name = m.group("name").lower()
    bkey = engine._btree_indexes.pop(name, None)
    existed = index_lifecycle.drop(engine, name) or bkey is not None
    return status_frame(engine.spark, ("DROP INDEX", name, existed),
                        "tag STRING, index STRING, existed BOOLEAN")


# ------------------------------------------------------- transactions

def _transaction(engine, query: str) -> DataFrame | None:
    """BEGIN / START TRANSACTION / COMMIT / END (gram.y:19519
    TransactionStmt).  The batch engine is autocommit — every
    statement's write is already the durable snapshot swap — so these
    are accepted no-ops and scripts keep their shape.  Transaction
    modes (ISOLATION LEVEL x / READ ONLY / READ WRITE / [NOT]
    DEFERRABLE) are isolation metadata with no meaning in a
    single-session snapshot-swap engine — accepted and named in the
    status frame (gram.y transaction_mode_list)."""
    m = re.match(
        r"^\s*(?P<verb>BEGIN|START\s+TRANSACTION|COMMIT|END)"
        r"(?:\s+WORK|\s+TRANSACTION)?"
        r"(?P<modes>(?:\s*,?\s*(?:ISOLATION\s+LEVEL\s+\w+(?:\s+\w+)?"
        r"|READ\s+(?:ONLY|WRITE)|(?:NOT\s+)?DEFERRABLE))*)\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    note = "autocommit no-op"
    if (m.group("modes") or "").strip():
        note += (" (modes " + re.sub(r"\s+", " ", m.group("modes").strip())
                 + " are isolation metadata)")
    return status_frame(engine.spark, (m.group("verb").upper(), note),
                        "tag STRING, note STRING")


_SAVEPOINT = re.compile(
    r"^\s*(?:(?P<verb>SAVEPOINT)\s+"
    r"|(?P<rollback>ROLLBACK)\s+(?:WORK\s+|TRANSACTION\s+)?TO\s+"
    r"(?:SAVEPOINT\s+)?"
    r"|(?P<release>RELEASE)\s+(?:SAVEPOINT\s+)?)"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


def _savepoint(engine, query: str) -> DataFrame | None:
    """SAVEPOINT / ROLLBACK TO / RELEASE (gram.y:19519 savepoints).  In
    a single-session autocommit engine a savepoint is a NAMED RESTORE
    FRAME over the commit log: SAVEPOINT snapshots every managed
    table's latest CSN, ROLLBACK TO restores the frame through the
    TIMECAPSULE machinery (dropping tables created after it), RELEASE
    discards it.  The reference's subtransaction-visibility semantics
    collapse to exactly this when no concurrent session exists to
    observe intermediate commits.  PG keeps the savepoint alive after
    ROLLBACK TO — so does this.  A bare ROLLBACK/ABORT has nothing to
    undo and refuses."""
    m = _SAVEPOINT.match(query)
    if m is None:
        if re.match(r"^\s*(?:ROLLBACK|ABORT)\b", query, re.IGNORECASE):
            raise NotImplementedError(
                "autocommit batch engine: each statement commits on "
                "its own, so a bare ROLLBACK/ABORT has nothing to undo — "
                "frame the work with SAVEPOINT ... / ROLLBACK TO "
                "SAVEPOINT ..., or undo committed changes with "
                "TIMECAPSULE (flashback query / TIMECAPSULE TABLE "
                "... TO CSN)"
            )
        return None
    name, frames = m.group("name").lower(), engine._savepoints
    if m.group("verb"):
        frames[name] = timecapsule.snapshot_csns(engine)
        return status_frame(engine.spark, ("SAVEPOINT", name, len(frames[name])),
                            "tag STRING, savepoint STRING, tables_framed INT")
    if name not in frames:
        raise KeyError(f"savepoint {name!r} does not exist")
    if m.group("rollback"):
        touched = timecapsule.restore_csns(engine, frames[name])
        return status_frame(
            engine.spark, ("ROLLBACK TO SAVEPOINT", name, touched),
            "tag STRING, savepoint STRING, tables_restored INT")
    del frames[name]
    return status_frame(engine.spark, ("RELEASE SAVEPOINT", name),
                        "tag STRING, savepoint STRING")


def _extension(engine, query: str) -> DataFrame | None:
    """CREATE EXTENSION (gram.y:1250 CreateExtensionStmt): the extension
    SURFACES this engine ships are built in (datavec vector ops,
    pg_trgm, fuzzystrmatch, pgcrypto, hll, dblink, pg_stat_statements,
    auto_explain, ... — see COVERAGE.md §2.7/§2.8), so the statement is
    an idempotent no-op and migration scripts keep their preamble."""
    m = re.match(
        r"^\s*CREATE\s+EXTENSION\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(?P<name>\w+)(?:\s+WITH)?(?:\s+SCHEMA\s+\w+)?"
        r"(?:\s+VERSION\s+\S+)?(?:\s+CASCADE)?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m:
        return status_frame(
            engine.spark,
            ("CREATE EXTENSION", m.group("name").lower(), "built in"),
            "tag STRING, extension STRING, note STRING")
    if re.match(r"^\s*DROP\s+EXTENSION\b", query, re.IGNORECASE):
        raise NotImplementedError(
            "built-in surfaces cannot be unloaded — DROP "
            "EXTENSION has nothing to remove here"
        )
    return None


def _discard(engine, query: str) -> DataFrame | None:
    """DISCARD ALL/PLANS/TEMP (DiscardStmt): session-state reset."""
    m = re.match(r"^\s*DISCARD\s+(?P<what>ALL|PLANS|TEMP|TEMPORARY)\s*;?\s*$",
                 query, re.IGNORECASE)
    if m is None:
        return None
    what = m.group("what").upper()
    if what in ("ALL", "TEMP", "TEMPORARY"):
        engine.managed_tables.drop_temp_tables()
    if what in ("ALL", "PLANS"):
        engine.prepared.deallocate(None)
    if what == "ALL":
        engine._gucs.clear()
        engine.current_role = None
    return status_frame(engine.spark, ("DISCARD", what),
                        "tag STRING, what STRING")


def _set_transaction(engine, query: str) -> DataFrame | None:
    """SET [SESSION|GLOBAL] TRANSACTION <characteristics>: accepted
    no-op like BEGIN/COMMIT — each statement's snapshot is already a
    consistent read, so READ ONLY and isolation levels change nothing.
    PREPARE TRANSACTION (two-phase commit) refuses: an autocommit
    snapshot-swap engine has no in-doubt state to hold open."""
    if re.match(r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?TRANSACTION\b",
                query, re.IGNORECASE):
        return status_frame(engine.spark,
                            ("SET TRANSACTION", "autocommit no-op"),
                            "tag STRING, note STRING")
    if re.match(r"^\s*PREPARE\s+TRANSACTION\b", query, re.IGNORECASE):
        raise NotImplementedError(
            "two-phase commit: each statement's snapshot swap is "
            "already the durable commit, so there is no prepared "
            "in-doubt state to hold — coordinate at the workflow "
            "layer instead"
        )
    return None


def _refuse_cast_operator(engine, query: str) -> None:
    """CREATE CAST / CREATE OPERATOR: catalog declarations whose behavior
    would need a parser hook per operator — refuse naming the working
    alternative."""
    if re.match(r"^\s*CREATE\s+CAST\b", query, re.IGNORECASE):
        raise NotImplementedError(
            "CREATE CAST: use CAST(x AS type) directly — every "
            "supported conversion is built in (cast_semantics "
            "gate row), and custom conversions are SQL functions "
            "(CREATE FUNCTION ... LANGUAGE SQL)"
        )
    if re.match(r"^\s*CREATE\s+OPERATOR\b", query, re.IGNORECASE):
        raise NotImplementedError(
            "CREATE OPERATOR: call the underlying function "
            "directly (CREATE FUNCTION registers it; the engine's "
            "operator rewrites cover the built-in @@ / % / @> / "
            "<-> families)"
        )


def _refuse_rule_event(engine, query: str) -> None:
    if re.match(r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?RULE\b",
                query, re.IGNORECASE):
        raise NotImplementedError(
            "CREATE RULE: query-rewrite rules have no planner "
            "hook here — ON SELECT rules are views (CREATE VIEW),"
            " ON INSERT/UPDATE/DELETE rules are triggers "
            "(operators/triggers.py)"
        )
    if re.match(r"^\s*(?:CREATE|ALTER|DROP)\s+EVENT\b", query, re.IGNORECASE):
        raise NotImplementedError(
            "CREATE EVENT: a batch session has no scheduler "
            "daemon — run the statement from your orchestrator "
            "(cron/Airflow) against the engine instead"
        )


# -------------------------------------------------- GUC statements

_GUC_STMT = re.compile(
    r"^\s*(?P<sys>ALTER\s+SYSTEM\s+)?"
    r"(?:SET\s+(?:SESSION\s+|LOCAL\s+)?(?P<name>[\w.]+)"
    r"\s*(?:=|\s+TO\s+)\s*(?P<val>.+?)"
    r"|RESET\s+(?P<rname>[\w.]+))\s*;?\s*$",
    re.IGNORECASE,
)


def _guc_set(engine, query: str) -> DataFrame | None:
    """SET [SESSION|LOCAL] name {=|TO} value, RESET name and ALTER
    SYSTEM SET/RESET (VariableSetStmt gram.y:2277; guc.cpp
    AlterSystemSetConfigFile), all on the session GUC store.  SET LOCAL
    collapses to session scope (one implicit transaction per session);
    ALTER SYSTEM's honest single-session analogue is the same store,
    tagged so the user sees which statement set it.  SET/RESET ROLE
    stays with the security layer (operators/rls.py)."""
    m = _GUC_STMT.match(query)
    if m is None:
        return None
    tag = "ALTER SYSTEM " if m.group("sys") else ""
    name = (m.group("name") or m.group("rname")).lower()
    if name == "role" and not tag:
        return None
    if m.group("rname"):
        engine._gucs.pop(name, None)
        return status_frame(engine.spark, (tag + "RESET", name),
                            "tag STRING, guc STRING")
    val = set_guc(engine, name, m.group("val"))
    return _guc_frame(engine, (tag + "SET", name), name, val,
                      "tag STRING, guc STRING, value")


def _set_config(engine, query: str) -> DataFrame | None:
    """set_config('name', 'value', is_local) (guc.cpp; the functional
    SET spelling) with literal arguments; is_local collapses to session
    scope."""
    m = re.match(
        r"^\s*SELECT\s+set_config\s*\(\s*'(?P<n>[\w.]+)'\s*,\s*"
        r"'(?P<v>[^']*)'\s*,\s*(?:true|false)\s*\)\s*"
        r"(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    val = set_guc(engine, m.group("n"), m.group("v"))
    return _probe_frame(engine, m, "set_config", str(val))


def _current_setting(engine, query: str) -> DataFrame | None:
    """current_setting('name' [, missing_ok]) with literal arguments."""
    m = re.match(
        r"^\s*SELECT\s+current_setting\s*\(\s*'(?P<n>[\w.]+)'\s*"
        r"(?:,\s*(?P<ok>true|false)\s*)?\)\s*"
        r"(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    try:
        val = str(guc(engine, m.group("n").lower()))
    except KeyError:
        if (m.group("ok") or "").lower() != "true":
            raise
        val = None  # missing_ok
    return _probe_frame(engine, m, "current_setting", val)


def _show(engine, query: str) -> DataFrame | None:
    """SHOW WARNINGS / ERRORS (B-format diagnostics area, gram.y
    ShowStmt): statements either succeed or raise here — no warning
    accumulates between statements — so the frame is structurally
    empty; SHOW COUNT(*) WARNINGS is its count.  SHOW name reads a GUC
    back, a typed GUC's default when unset."""
    m = re.match(
        r"^\s*SHOW\s+(?:(?P<cnt>COUNT\s*\(\s*\*\s*\)\s+)?"
        r"(?P<kind>WARNINGS|ERRORS))(?:\s+LIMIT\s+\d+"
        r"(?:\s*,\s*\d+)?)?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m and m.group("cnt"):
        return engine.spark.sql("SELECT CAST(0 AS INT) AS `count(*)`")
    if m:
        return engine.spark.createDataFrame(
            [], "level STRING, code INT, message STRING")
    m = re.match(r"^\s*SHOW\s+(?P<name>[\w.]+)\s*;?\s*$", query,
                 re.IGNORECASE)
    if m is None:
        return None
    name = m.group("name").lower()
    return _guc_frame(engine, (name,), name, guc(engine, name),
                      "guc STRING, value")


# ---------------------------------------------- catalog probe functions

def _probe_frame(engine, m: re.Match, fn: str, val, typ: str = "STRING"):
    """The one-column result of a top-level probe function, named by
    the statement's ``AS a`` alias or else by the function."""
    alias = (m.group("a") or fn).lower()
    return status_frame(engine.spark, (val,), f"`{alias}` {typ}")


def _has_table_privilege(engine, query: str) -> DataFrame | None:
    """has_table_privilege (acl.cpp; 122 regress uses) with literal
    arguments, answered from the ACL registry: 2-arg = session role,
    3-arg = named role; a comma list of privileges is an OR, PG's
    rule."""
    m = re.match(
        r"^\s*SELECT\s+has_table_privilege\s*\(\s*"
        r"(?:'(?P<u>\w+)'\s*,\s*)?'(?P<t>\w+)'\s*,\s*"
        r"'(?P<p>[\w\s,]+)'\s*\)\s*(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    u = (m.group("u") or "").lower()
    if u and u not in engine.roles:
        raise KeyError(f"role {u!r} does not exist")
    privs = [p.strip() for p in m.group("p").split(",")]
    if u:
        ok = any(rls.has_privilege_for(engine, u, m.group("t"), p)
                 for p in privs)
    else:
        ok = any(rls.has_privilege(engine, m.group("t"), p) for p in privs)
    alias = (m.group("a") or "has_table_privilege").lower()
    return engine.spark.sql(f"SELECT {str(bool(ok)).upper()} AS {alias}")


def _pg_get_viewdef(engine, query: str) -> DataFrame | None:
    """pg_get_viewdef('v') (ruleutils.cpp; 92 regress uses): the stored
    view text."""
    m = re.match(
        r"^\s*SELECT\s+pg_get_viewdef\s*\(\s*'(?P<v>\w+)'"
        r"(?:\s*,\s*\w+)?\s*\)\s*(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    name = m.group("v").lower()
    if name not in engine.view_defs:
        raise KeyError(f"view {name!r} does not exist")
    return _probe_frame(engine, m, "pg_get_viewdef", engine.view_defs[name])


_PG_TYPE_NAMES = {
    "int": "integer", "bigint": "bigint",
    "smallint": "smallint", "tinyint": "smallint",
    "double": "double precision", "float": "real",
    "string": "text", "boolean": "boolean",
    "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp without time zone",
    "binary": "bytea",
}


def _pg_get_tabledef(engine, query: str) -> DataFrame | None:
    """pg_get_tabledef('t') (ruleutils.cpp's openGauss table sibling;
    121 regress uses): CREATE TABLE text from the relation's CURRENT
    schema."""
    m = re.match(
        r"^\s*SELECT\s+pg_get_tabledef\s*\(\s*'(?P<t>\w+)'\s*\)"
        r"\s*(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
        query, re.IGNORECASE,
    )
    if m is None:
        return None
    name = m.group("t").lower()
    if name in engine.managed_tables.tables:
        fields = engine.managed_tables.read(name).schema.fields
    elif name in engine.tables:
        fields = engine.table(name).schema.fields
    else:
        raise KeyError(f"table {name!r} does not exist")
    cols = ",\n".join(
        f"    {f.name} "
        + _PG_TYPE_NAMES.get(f.dataType.simpleString(),
                             f.dataType.simpleString())
        + ("" if f.nullable else " NOT NULL")
        for f in fields
    )
    return _probe_frame(engine, m, "pg_get_tabledef",
                        f"CREATE TABLE {name} (\n{cols}\n);")


def _tree_bytes(root: str) -> int:
    """Bytes of the file, or of every file under the directory, at
    ``root``."""
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(root, "**"), recursive=True)
               if os.path.isfile(p))


_RELATION_SIZE = re.compile(
    r"^\s*SELECT\s+(?:pg_size_pretty\s*\(\s*)?"
    r"pg_(?P<fn>total_relation|relation|table|partition|partition_indexes)"
    r"_size\s*\(\s*'(?P<t>\w+)'(?:\s*,\s*'(?P<p>\w+)')?"
    r"\s*\)\s*(?P<pretty>\))?\s*(?:AS\s+(?P<a>\w+))?\s*;?\s*$",
    re.IGNORECASE,
)


def _relation_size(engine, query: str) -> DataFrame | None:
    """The disk-bytes probes (dbsize.cpp), optionally under
    pg_size_pretty.  pg_relation_size / pg_total_relation_size /
    pg_table_size('t') sum the relation's CURRENT file bytes — on
    parquet there is no separate index/toast fork, so all three report
    the data bytes.  pg_partition_size('t', 'p') (pg_partition_size6)
    sums ONE partition's directory tree, subpartition leaves included;
    pg_partition_indexes_size('t', 'p') reports the table's GIN/GiST
    and ANN layout bytes, since indexes here are table-level layouts,
    not partition-split (a btree is the CLUSTERed table layout itself
    and adds no bytes) — a documented deviation."""
    m = _RELATION_SIZE.match(query)
    if m is None:
        return None
    fn, name = m.group("fn").lower(), m.group("t").lower()
    mt = engine.managed_tables
    if fn.startswith("partition") != (m.group("p") is not None):
        return None
    if m.group("p") is None:
        if name in mt.tables:
            nbytes = _tree_bytes(mt._path(name))
        elif name in engine.tables:
            nbytes = _tree_bytes(
                os.path.join(engine.sf_dir, f"{name}.parquet"))
        else:
            raise KeyError(f"relation {name!r} does not exist")
    else:
        part = m.group("p").lower()
        if name not in mt.tables:
            raise KeyError(f"relation {name!r} does not exist")
        spec = partition_ddl.PartitionSpec.from_meta(
            mt.tables[name].get("partition_spec"))
        if spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        if part not in {n for n, _ in spec.parts}:
            raise KeyError(f"partition {part!r} of {name!r} does not exist")
        if fn == "partition_indexes":
            nbytes = sum(_tree_bytes(idx["path"]) for _am, _n, idx
                         in index_lifecycle.on_table(engine, name))
        else:
            nbytes = _tree_bytes(os.path.join(
                mt._path(name), f"{partition_ddl.PART_COL}={part}"))
    if m.group("pretty"):
        alias = (m.group("a") or "pg_size_pretty").lower()
        return engine.spark.sql(
            f"SELECT pg_size_pretty({nbytes}L) AS {alias}")
    return _probe_frame(engine, m, f"pg_{fn}_size", nbytes, "BIGINT")


# ---------------------------------------------------- statement table

# (name, handler) rows, tried in order; the first non-None result wins.
STATEMENTS = (
    ("create_ann_index", _create_ann_index),
    ("gin_ddl", gin_index.try_handle_ddl),
    ("gist_ddl", gist_index.try_handle_ddl),
    ("btree_index", _create_btree_index),
    ("transaction", _transaction),
    ("savepoint", _savepoint),
    ("extension", _extension),
    ("discard", _discard),
    ("set_transaction", _set_transaction),
    ("refuse_cast_operator", _refuse_cast_operator),
    ("aggregate", create_aggregate.try_handle_stmt),
    ("refuse_rule_event", _refuse_rule_event),
    ("guc_set", _guc_set),
    ("has_table_privilege", _has_table_privilege),
    ("set_config", _set_config),
    ("current_setting", _current_setting),
    ("pg_get_viewdef", _pg_get_viewdef),
    ("pg_get_tabledef", _pg_get_tabledef),
    ("relation_size", _relation_size),
    ("show", _show),
    ("reindex", _reindex),
    ("alter_index", _alter_index_stmt),
    ("text_search", _text_search),
    ("reindex_table", _reindex_table),
    ("drop_index", _drop_index),
    ("matview", matview.try_handle_ddl),
    ("prepared", prepared.try_handle_stmt),
    ("portal", portal.try_handle_stmt),
    ("analyze", stats.try_handle_stmt),
    ("copy", copy_stmt.try_handle_stmt),
    ("partition", partition_ddl.try_handle_stmt),
    ("timecapsule", timecapsule.try_handle_stmt),
    ("user_types", user_types.try_handle_stmt),
    ("schemas", schemas.try_handle_stmt),
    ("tables", ddl_tables.try_handle_stmt),
    ("sequences", ddl_tables.try_handle_sequence),
    ("create_function", create_function.try_handle_stmt),
    ("plpgsql", plpgsql.try_handle_stmt),
    ("plpython", plpython.try_handle_stmt),
    ("do", do_block.try_handle_stmt),
    ("procedure", do_block.try_handle_procedure),
    ("plpgsql_call", do_block.try_handle_fncall),
    ("ml", ml_stmt.try_handle_stmt),
    ("merge", merge.try_handle_stmt),
    ("triggers", triggers.try_handle_stmt),
    ("dblink", dblink.try_handle_stmt),
    ("rls", rls.try_handle_stmt),
    ("packages", packages.try_handle_stmt),
)

# The canonical ANN query text (contrib/datavec/README.md:88):
#   SELECT cols FROM tbl [WHERE quals] ORDER BY col <op> '[...]' LIMIT k
# Deliberately strict — a single table, a plain column list, the
# distance operator against a vector literal. Anything else falls
# through to the exact translate+spark.sql path (identical
# semantics, no index).
_ANN_SELECT = re.compile(
    r"^\s*SELECT\s+(?P<cols>\*|[\w]+(?:\s*,\s*[\w]+)*)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"(?:WHERE\s+(?P<where>.+?)\s+)?"
    r"ORDER\s+BY\s+(?P<col>\w+)\s*(?P<op><->|<#>|<=>|<\+>)\s*"
    r"'(?P<vec>\[[^\]']*\])'\s*(?:ASC\s+)?LIMIT\s+(?P<k>\d+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


class Engine:
    def __init__(self, spark: SparkSession | None = None,
                 sf_dir: str = DEFAULT_SF_DIR):
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = register_views(spark, sf_dir)
        register_pg_functions(spark)
        # IVF/HNSW indexes (ann.indexes: name -> index entry), run by
        # the same lifecycle as GIN and GiST below
        self.ann = AnnCatalog()
        self.models = ModelWarehouse()
        # btree indexes over managed tables: name -> (table, col).
        # A btree index on parquet IS a data-skipping layout — CREATE
        # INDEX runs the CLUSTER sorted rewrite so rowgroup min/max
        # stats prune (the CStoreIndex/roughcheck analogue)
        self._btree_indexes: dict[str, tuple[str, str]] = {}
        # delta-maintained GIN and GiST indexes: name -> index dict
        # (operators/index_lifecycle.py)
        self.gin_indexes: dict[str, dict] = {}
        self.gist_indexes: dict[str, dict] = {}
        # session GUCs (SET / SHOW / set_config ...): name -> value, an
        # int for TYPED_GUCS, else text; knn() and the ANN router read
        # ivfflat.probes and hnsw.ef_search from here
        self._gucs: dict[str, int | str] = {}
        # contrib/pg_stat_statements analogue: normalized-statement
        # call counters, serving handler and time, queryable as
        # SELECT * FROM pg_stat_statements
        self._stmt_stats: dict[str, dict] = {}
        # materialized views (commands/matview.cpp) + prepared
        # statements (commands/prepare.cpp) — both reachable through
        # Engine.sql DDL text and as Python APIs
        self.matviews = matview.MatviewManager(
            spark, os.path.join(self._warehouse_dir(), "_matviews")
        )
        self.prepared = prepared.PreparedStatements(spark)
        # portals (commands/portalcmds.cpp) + EXPLAIN (explain.cpp)
        self.cursors = portal.CursorRegistry(spark)
        # EXPLAIN's index-routing collector: a list while EXPLAIN runs
        # its inner statement, None when not armed
        self.last_index_routing: list[str] | None = None
        # ANALYZE results (commands/analyze.cpp → pg_statistic):
        # table → {column → stats row dict}
        self.statistics: dict[str, dict[str, dict]] = {}
        # managed tables (commands/createas.cpp CTAS + INSERT sink)
        # + sequences (commands/sequence/sequence.cpp)
        self.managed_tables = ddl_tables.TableManager(
            spark, os.path.join(self._warehouse_dir(), "_tables")
        )
        # back-reference so post-DML view registration consults
        # RLS/masking state and DROP TABLE purges per-table policies
        self.managed_tables.engine = self
        self.sequences = ddl_tables.SequenceRegistry()
        # SAVEPOINT frames: name → {table → CSN} (timecapsule)
        self._savepoints: dict[str, dict] = {}
        # CREATE VIEW text for pg_get_viewdef: view → body
        self.view_defs: dict[str, str] = {}
        # CREATE SYNONYM aliases: synonym → target relation
        self.synonyms: dict[str, str] = {}
        # CREATE TEXT SEARCH CONFIGURATION/DICTIONARY names
        self.ts_configs: set[str] = set()
        # SQL-language functions (commands/functioncmds.cpp): name →
        # the Spark SQL-UDF DDL the PG text translated into, and the
        # parsed spec CREATE AGGREGATE inlines
        self.sql_functions: dict[str, str] = {}
        self.sql_fn_specs: dict[str, dict] = {}
        # plpgsql functions the interpreter runs:
        # name → (params, return type, body, kind)
        self.plfn_interpreted: dict[str, tuple] = {}
        # CREATE AGGREGATE definitions: name → fold spec
        self.aggregates: dict[str, dict] = {}
        # PL/Python SETOF functions (call sites explode), and the
        # subset returning composite rows
        self.plpython_setof: set[str] = set()
        self.plpython_setof_composite: set[str] = set()
        # CREATE PROCEDURE: name → (params, body); CREATE PACKAGE:
        # name → {members, variables, ...}
        self.procedures: dict[str, tuple] = {}
        self.packages: dict[str, dict] = {}
        # row triggers (commands/trigger.cpp + contrib/spi):
        # table → {trigger name → definition}; clock/user knobs make
        # moddatetime/insert_username deterministic under test
        self.triggers: dict[str, dict[str, dict]] = {}
        self.trigger_clock: str | None = None
        self.session_user: str | None = None
        # dblink connections (contrib/dblink): name → remote Engine on
        # an isolated sub-session (separate temp-view namespace)
        self.dblink_conns: dict[str, "Engine"] = {}
        # contrib/auto_explain analogue: when enabled, Engine.sql
        # records (normalized statement, formatted physical plan) for
        # every SELECT it plans — queryable post-hoc like the PG log
        self.auto_explain: bool = False
        self.plan_log: list[tuple[str, str]] = []
        # row-level security (sec_rls_cmds.cpp / pg_rlspolicy):
        # protected tables, table → {policy → {pred, roles}}, and the
        # session role (None = owner, bypasses RLS)
        self.rls_enabled: set[str] = set()
        self.rls_policies: dict[str, dict[str, dict]] = {}
        self.current_role: str | None = None
        # dynamic data masking (gs_policy_masking.cpp): resource labels
        # (label → [(table, column)]) and masking policies bound to them
        self.resource_labels: dict[str, list[tuple[str, str]]] = {}
        self.masking_policies: dict[str, dict] = {}
        # COMMENT ON ... (commands/comment.cpp → pg_description):
        # (objtype, objname) → text
        self.comments: dict[tuple[str, str], str] = {}
        # GRANT/REVOKE table ACLs (catalog/aclchk.cpp):
        # table → {role → {privileges}}; enforcement in operators/rls
        self.acl: dict[str, dict[str, set[str]]] = {}
        # extended (multi-column) statistics declarations
        # (gram.y:4807 ADD STATISTICS; analyze.cpp ES path):
        # table → [ (col, col, ...) ]
        self.ext_stats: dict[str, list[tuple[str, ...]]] = {}
        # CREATE ROLE/USER registry + GRANT <role> TO <member>
        # membership (gram.y:1391/:14286); has_privilege walks the
        # transitive closure (the INHERIT default)
        self.roles: set[str] = set()
        self.role_members: dict[str, set[str]] = {}
        # CREATE TYPE/DOMAIN catalog (typecmds.cpp):
        # name → {kind: enum|composite|domain, ...}
        self.user_types: dict[str, dict] = {}
        # CREATE SCHEMA registry (schemacmds.cpp): qualified names
        # under these rewrite to mangled flat names (operators/schemas)
        self.schemas: set[str] = set()
        # B-format last_insert_id(): the FIRST identity value the
        # most recent identity-assigning INSERT generated (MySQL's
        # documented rule; 0 before any — ddl_tables assign path)
        self.last_insert_id: int = 0

    def sql(self, query: str) -> DataFrame:
        """SQL entry: Spark SQL dialect + the PG/datavec-name function
        layer (l2_distance, nvl, decode, ... — functions/pg_compat.py)
        + Oracle-compat translation (ROWNUM→LIMIT per preprownum.cpp,
        FROM dual, SYSDATE) + datavec's vector operators
        (`embedding <-> '[...]'`, <#>, <=>, <+> —
        functions/sql_compat.py), so the reference's canonical ANN
        query text runs verbatim — including its index DDL:
        ``CREATE INDEX ON t USING ivfflat (col vector_l2_ops) WITH
        (lists = 100)`` / ``USING hnsw (col vector_cosine_ops) WITH
        (m = 16, ef_construction = 64)`` build and register the index
        (utility statements return a one-row status frame, as psql
        shows a command tag), and DROP INDEX deregisters it.  The
        statement table is described in the module docstring."""
        t0 = time.perf_counter()
        for rewrite in REWRITES:
            query = rewrite(self, query)
        if not _EXPLAIN.match(query):
            for rewrite in OPERATOR_REWRITES:
                query = rewrite(self, query)
        view = _catalog_view(self, query)
        if view is not None:
            return view
        stat = self._record_statement(query)
        try:
            for name, handler in STATEMENTS:
                out = handler(self, query)
                if out is not None:
                    stat["handler"] = name
                    return out
            out = self._maybe_route_ann_select(query)
            if out is not None:
                stat["handler"] = "ann_route"
                return self._maybe_log_plan(out, query)
            query = rewrite_call_sites(self, query)
            out = self.spark.sql(translate(query))
            stat["handler"] = "spark_sql"
            return self._maybe_log_plan(out, query)
        finally:
            stat["total_ms"] += (time.perf_counter() - t0) * 1000

    def _maybe_log_plan(self, df: DataFrame, query: str) -> DataFrame:
        """contrib/auto_explain analogue: capture the formatted physical
        plan at plan time (PG logs at execution; Spark's lazy model makes
        plan-time the faithful interception point — the executed plan is
        this one, modulo AQE re-optimization)."""
        if self.auto_explain:
            self.plan_log.append(
                (query.strip(), df._jdf.queryExecution().toString())
            )
        return df

    def _record_statement(self, query: str) -> dict:
        """contrib/pg_stat_statements: statements are aggregated under a
        queryid computed from the NORMALIZED text — literals replaced by
        parameter markers (pg_stat_statements.c generate_normalized_query)
        — so `WHERE k = 1` and `WHERE k = 2` share one counter.  Returns
        the statement's entry, whose ``handler`` Engine.sql sets to the
        row that served the call."""
        norm = re.sub(r"'(?:[^']|'')*'", "?", query.strip())
        norm = re.sub(r"\b\d+(?:\.\d+)?\b", "?", norm)
        norm = re.sub(r"\s+", " ", norm)
        import hashlib

        qid = hashlib.md5(norm.encode()).hexdigest()[:16]
        ent = self._stmt_stats.setdefault(
            qid, {"query": norm, "calls": 0, "handler": None,
                  "total_ms": 0.0}
        )
        ent["calls"] += 1
        return ent

    def stat_statements(self) -> DataFrame:
        """The pg_stat_statements view: one row per normalized
        statement with its call count, the statement-table row that
        served its latest call, and ``total_ms``/``mean_ms``: the wall
        time Engine.sql spent serving it, over all calls and per call.
        Engine.sql returns a SELECT's frame unexecuted, so a SELECT's
        time is its frame build (rewrites, handler, Spark analysis),
        not its execution; an eager statement (DDL, DML, SET) runs
        inside Engine.sql and its time is the whole statement.  Plan
        and row counts are execution-side metrics that Spark exposes
        through its own UI and metrics system."""
        rows = [
            (qid, e["query"], e["calls"], e["handler"], e["total_ms"],
             e["total_ms"] / e["calls"])
            for qid, e in sorted(self._stmt_stats.items())
        ]
        return self.spark.createDataFrame(
            rows,
            "queryid STRING, query STRING, calls BIGINT, handler STRING,"
            " total_ms DOUBLE, mean_ms DOUBLE",
        )

    def _alter_index(self, name: str, new: str | None = None,
                     rebuild: bool = False, unusable: bool = False):
        """ALTER INDEX name RENAME TO / REBUILD / UNUSABLE
        (indexcmds.cpp ATExecRenameIndex / reindex; UNUSABLE is the
        A-format marker): RENAME moves the catalog entry across every
        index registry; REBUILD routes to REINDEX; UNUSABLE records
        nothing — scans here never require an index, so the honest
        analogue of "stop using it" is a catalog no-op row."""
        def known(n: str) -> bool:
            return (n in self._btree_indexes
                    or index_lifecycle.find(self, n) is not None)

        if not known(name):
            raise KeyError(f"ALTER INDEX: index {name!r} not found")
        if rebuild:
            if name in self._btree_indexes:
                tbl, col = self._btree_indexes[name]
                self.sql(f"CLUSTER {tbl} ON ({col})")
            else:
                am, _idx = index_lifecycle.find(self, name)
                index_lifecycle.rebuild(self, am, name)
            return status_frame(self.spark, ("REINDEX", name), "tag STRING, index STRING")
        if unusable:
            return status_frame(self.spark, ("ALTER INDEX", name, "UNUSABLE"), "tag STRING, index STRING, action STRING",)
        # RENAME TO
        if known(new):
            raise ValueError(f"ALTER INDEX RENAME: {new!r} already exists")
        if name in self._btree_indexes:
            self._btree_indexes[new] = self._btree_indexes.pop(name)
        else:
            index_lifecycle.rename(self, name, new)
        return status_frame(self.spark, ("ALTER INDEX", name, f"RENAME TO {new}"), "tag STRING, index STRING, action STRING",)

    def _warehouse_dir(self) -> str:
        import tempfile
        from urllib.parse import urlparse

        try:
            return (
                urlparse(
                    self.spark.conf.get("spark.sql.warehouse.dir")
                ).path
                or tempfile.gettempdir()
            )
        except Exception:
            return tempfile.gettempdir()

    def _maybe_route_ann_select(self, query: str) -> DataFrame | None:
        """Index-route the reference's canonical ANN SELECT text when an
        index with the operator's opclass metric is registered on
        (table, column) — the planner behavior datavec's FOR ORDER BY
        opclasses produce after CREATE INDEX (sql:353-403): the same
        query text silently switches from exact scan to probed/beamed
        index scan at the session's GUC operating point. A canonical
        shape WITHOUT a matching index runs the exact scan through the
        same engine path (identical semantics; also necessary because
        Spark 4 refuses SQL-registered functions like l2_distance in a
        Sort — UNSUPPORTED_SQL_UDF_USAGE — so the operator text cannot
        naively rewrite into ORDER BY). Non-canonical shapes → None →
        translate + spark.sql."""
        from pyspark.sql import functions as F

        from .plans.explain import note_routing

        m = _ANN_SELECT.match(query)
        if m is None:
            return None
        try:
            qvec = [float(x) for x in m.group("vec").strip("[]").split(",")]
        except ValueError:
            # not a numeric pgvector literal (e.g. Spark's native <=>
            # null-safe equality against an unlucky string) — not ours
            return None
        table_name = m.group("table").lower()
        col = m.group("col")
        metric = _OP_METRIC[m.group("op")]
        k = int(m.group("k"))
        probes = guc(self, "ivfflat.probes")
        ef = guc(self, "hnsw.ef_search")
        df, hit = self._ann_source(table_name, col, metric)
        if hit is not None:
            name, e = hit
            detail = (f"ef_search={ef}, beamed shard graphs"
                      if e["kind"] == "hnsw"
                      else f"probes={probes} of {e['index'].lists} lists")
            note_routing(self, f"Index Scan using {name} on {table_name} "
                               f"({e['kind']} {metric}): {detail}, k={k}")
        where = m.group("where")
        out = self.ann.topk(
            self.spark, table_name, df, col, qvec, k, metric=metric,
            probes=probes, id_col=df.columns[0], ef_search=ef,
            where=F.expr(where) if where is not None else None,
        )
        cols = m.group("cols").strip()
        if cols != "*":
            out = out.select(*[c.strip() for c in cols.split(",")])
        return out

    def _ann_source(self, table_name: str, col: str, metric: str
                    ) -> tuple[DataFrame, tuple[str, dict] | None]:
        """The table's frame and the (name, entry) of the index topk
        routes through, brought current with the table first."""
        df = index_lifecycle.source_df(self, table_name)
        hit = self.ann.entry(table_name, col, metric)
        if hit is not None:
            index_lifecycle.ensure_fresh(self, ANN_AM, hit[0])
        return df, hit

    def table(self, name: str) -> DataFrame:
        return _table(self.spark, self.sf_dir, name)

    def knn(
        self,
        table_name: str,
        vec_col: str,
        qvec: Sequence[float],
        k: int = 10,
        metric: str = "l2",
        id_col: str | None = None,
        probes: int | None = None,
        ef_search: int | None = None,
    ) -> DataFrame:
        """ORDER BY distance LIMIT k — routed through a registered
        index (IVF or HNSW) when one matches, exact scan otherwise.
        Session GUCs set via ``sql("SET ivfflat.probes = n")`` /
        ``sql("SET hnsw.ef_search = n")`` supply the defaults when the
        caller passes no override, mirroring the reference's
        GUC-then-query workflow; unset, they are the GUC defaults the
        canonical SQL text routes at (probes 1, ef_search 40)."""
        if probes is None:
            probes = guc(self, "ivfflat.probes")
        if ef_search is None:
            ef_search = guc(self, "hnsw.ef_search")
        df, _hit = self._ann_source(table_name, vec_col, metric)
        return self.ann.topk(
            self.spark, table_name, df, vec_col, qvec, k,
            metric=metric, probes=probes, id_col=id_col, ef_search=ef_search,
        )

    def suggest_broadcast(
        self, table_name: str, max_rows: int = 1_000_000
    ) -> bool:
        """Planner consumer of ANALYZE statistics (the selectivity-
        reader analogue): True when the analyzed row count says the
        table is safely below a broadcast threshold. Raises if the
        table was never ANALYZEd — estimates without statistics are
        the failure mode ANALYZE exists to prevent."""
        stats = self.statistics.get(table_name.lower())
        if not stats:
            raise KeyError(f"no statistics for {table_name!r}; run ANALYZE")
        n_rows = next(iter(stats.values()))["n_rows"]
        return n_rows <= max_rows

    # -------------------------------------------------- pipeline verbs

    def dedup_pairs(self, verified: bool = False) -> DataFrame:
        """Near-duplicate candidate pairs over the ``documents`` table
        via MinHash-LSH banding (operators/dedup.py); ``verified=True``
        gates candidates through exact n-gram Jaccard (the 100 TB
        pipeline form)."""
        from .operators.dedup import dedup_lsh_verified, dedup_minhash_lsh

        fn = dedup_lsh_verified if verified else dedup_minhash_lsh
        return fn(self.spark, self.sf_dir)

    def zorder_write(self, df: DataFrame, path: str, col_a: str,
                     col_b: str) -> None:
        """Cluster a table by the Morton code of two keys so rectangle
        predicates prune multiplicatively (sources/zorder.py)."""
        from .sources.zorder import write_zordered

        write_zordered(df, path, col_a, col_b)

    def zorder_read(self, path: str, a_range: tuple, b_range: tuple
                    ) -> DataFrame:
        """Rectangle-pruned scan over a z-ordered layout; callers apply
        the exact predicate on top (pruning is a superset filter)."""
        from .sources.zorder import read_pruned

        return read_pruned(self.spark, path, a_range, b_range)

    def weighted_sample(self, df: DataFrame, weight_col: str, k: int,
                        id_col: str) -> DataFrame:
        """Deterministic weight-proportional sample without replacement:
        exponential-race keys -ln(u)/w with u derived from md5(id)
        (operators/pipeline.py sample_weighted_priority pattern)."""
        from pyspark.sql import functions as F

        h8 = F.expr(
            f"conv(substring(md5(cast({id_col} as string)), 1, 8), 16, 10)"
        )
        u = (h8 + 1) / F.lit(4294967297.0)
        key = -F.log(u) / F.col(weight_col).cast("double")
        return (
            df.withColumn("_k", key)
            .orderBy(F.col("_k").asc(), F.col(id_col).asc())
            .limit(k)
            .drop("_k")
        )
