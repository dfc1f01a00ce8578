"""TIMECAPSULE — flashback query, flashback table, recyclebin.

Reference: `src/gausskernel/storage/tcap/` — `tcap_version.cpp`
(TIMECAPSULE CSN/TIMESTAMP version scans + TimeCapsuleTable restore),
`tcap_drop.cpp` (DROP parks the relation in pg_recyclebin; TO BEFORE
DROP restores it, PURGE frees it), `tcap_truncate.cpp` (TRUNCATE keeps
the old relfilenode so TO BEFORE TRUNCATE can swap it back); grammar
`parser/gram.y:6416-6455`; regress `timecapsule_version_test_*.source`.

Spark-first shape — the commit-log model, not an undo log:

* Every managed-table mutation already commits a MANIFEST (csn,
  generation, file list) in TableManager (`ddl_tables.py::_commit`).
  Appends share a generation (the manifest pins the file subset);
  copy-on-write rewrites open a NEW generation directory and leave the
  old one on disk.  ``SELECT ... FROM t TIMECAPSULE CSN n`` is then a
  plain parquet scan over an old manifest's files — zero data copies,
  full predicate/column pushdown, exactly how Delta/Iceberg time
  travel reads an old snapshot at 100 TB.
* ``TIMECAPSULE TABLE t TO CSN/TIMESTAMP`` restores by writing the
  snapshot as the next generation (the reference rewrites the relation
  too — TvRestoreVersion); ``TO BEFORE TRUNCATE`` restores the commit
  preceding the last ``truncate``-tagged manifest.
* DROP renames the table directory into the recyclebin (O(1) metadata,
  `tcap_drop.cpp` TrDrop); ``TO BEFORE DROP [RENAME TO x]`` renames it
  back; PURGE unlinks.
* Flashback cannot cross DDL: ALTER/partition surgery marks a barrier
  manifest, and older CSNs raise (tcap_version.cpp refuses a restore
  point older than a definition change).

Retention: superseded generations are kept until ``PURGE TABLE``
(which also resets a live table's flashback window) — the
``version_retention_age`` knob of the reference maps to a retention
sweep in a production deployment.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame
from ._util import status_frame, sub_outside_literals

_TC_CLAUSE = re.compile(
    r"\b(?P<tbl>\w+)\s+TIMECAPSULE\s+"
    r"(?:CSN\s+(?P<csn>\d+)|TIMESTAMP\s+(?P<ts>'[^']*'))",
    re.IGNORECASE,
)
_TC_TABLE = re.compile(
    r"^\s*TIMECAPSULE\s+TABLE\s+(?P<name>\w+)\s+TO\s+(?P<to>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TO_BEFORE_DROP = re.compile(
    r"^BEFORE\s+DROP(?:\s+RENAME\s+TO\s+(?P<new>\w+))?$", re.IGNORECASE
)
_TO_BEFORE_TRUNC = re.compile(
    r"^BEFORE\s+TRUNCATE(?:\s+FORCE)?$", re.IGNORECASE
)
_TO_VERSION = re.compile(
    r"^(?:CSN\s+(?P<csn>\d+)|TIMESTAMP\s+'(?P<ts>[^']*)')$", re.IGNORECASE
)
_PURGE = re.compile(
    r"^\s*PURGE\s+(?:TABLE\s+(?P<name>\w+)|(?P<rb>RECYCLEBIN))\s*;?\s*$",
    re.IGNORECASE,
)
_RB_SELECT = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+(?:pg|gs)_recyclebin\s*;?\s*$",
    re.IGNORECASE,
)


def _ts_to_epoch(engine, lit: str) -> float:
    """Evaluate a TIMESTAMP literal to a unix epoch in the session
    timezone (manifests record time.time(); both sides are the same
    clock on one host — tcap_version.cpp maps timestamps onto the CSN
    log via the same commit-time bookkeeping)."""
    row = engine.spark.sql(
        f"SELECT CAST(unix_micros(TIMESTAMP '{lit}') AS DOUBLE) / 1e6 AS t"
    ).collect()[0]
    if row.t is None:
        raise ValueError(f"invalid timestamp specified: {lit!r}")
    return float(row.t)


def rewrite_flashback(engine, query: str) -> str:
    """``FROM t TIMECAPSULE CSN n | TIMESTAMP 'x'`` → a temp view over
    the manifest's snapshot, leaving plain SQL for every downstream
    handler (the reference plans a TvVersionScan node; here the
    snapshot IS a parquet relation, so the planner needs nothing
    special and keeps pushdown/pruning)."""
    if "timecapsule" not in query.lower():
        return query
    if re.match(r"^\s*(TIMECAPSULE|PURGE)\b", query, re.IGNORECASE):
        return query  # statement forms, handled below
    mt = engine.managed_tables

    def _sub(m: re.Match) -> str:
        tbl = m.group("tbl").lower()
        if tbl not in mt.tables:
            raise ValueError(
                f"TIMECAPSULE: {tbl!r} is not a managed table — "
                "flashback tracks managed-table commits only (the "
                "parquet star schema is an immutable input)"
            )
        if m.group("csn") is not None:
            csn = int(m.group("csn"))
        else:
            csn = mt.resolve_timestamp(
                tbl, _ts_to_epoch(engine, m.group("ts").strip("'"))
            )
        view = f"__tc_{tbl}_{csn}"
        mt.read_snapshot(tbl, csn).createOrReplaceTempView(view)
        return view

    # quoted spans are literals, not clauses — never rewrite inside
    return sub_outside_literals(_TC_CLAUSE, _sub, query)


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    mt = engine.managed_tables
    m = _RB_SELECT.match(query)
    if m:
        rows = [
            (os.path.basename(e["dir"]), e["name"], "d", e["csn"])
            for e in mt.recyclebin
        ]
        return engine.spark.createDataFrame(
            rows or [("", "", "", 0)][:0],
            "rcyname STRING, rcyoriginname STRING, rcyoperation STRING,"
            " rcycsn BIGINT",
        )
    m = _PURGE.match(query)
    if m:
        if m.group("rb"):
            n = len(mt.recyclebin)
            for e in mt.recyclebin:
                shutil.rmtree(e["dir"], ignore_errors=True)
            mt.recyclebin.clear()
            return status_frame(engine.spark, ("PURGE RECYCLEBIN", n), "tag STRING, purged INT")
        name = m.group("name").lower()
        purged = 0
        for e in [e for e in mt.recyclebin if e["name"] == name]:
            shutil.rmtree(e["dir"], ignore_errors=True)
            mt.recyclebin.remove(e)
            purged += 1
        if name in mt.tables:
            # extension in the PURGE spirit: reclaim a live table's
            # superseded generations; the flashback window resets to
            # the live generation's commits
            meta = mt.tables[name]
            live = meta.get("gen", 0)
            for h in meta.get("history", []):
                if h["gen"] != live:
                    shutil.rmtree(
                        mt._gen_path(name, h["gen"]), ignore_errors=True
                    )
                    purged += 1
            kept = [
                h for h in meta.get("history", []) if h["gen"] == live
            ]
            meta["history"] = kept
            if kept:
                meta["barrier_csn"] = max(
                    meta.get("barrier_csn", 0), kept[0]["csn"]
                )
        return status_frame(engine.spark, ("PURGE TABLE", name, purged), "tag STRING, tbl STRING, purged INT",)
    m = _TC_TABLE.match(query)
    if m is None:
        return None
    name = m.group("name").lower()
    to = m.group("to").strip()
    mm = _TO_BEFORE_DROP.match(to)
    if mm:
        hits = [e for e in mt.recyclebin if e["name"] == name]
        if not hits:
            raise KeyError(
                f"TIMECAPSULE: no dropped table {name!r} in the "
                "recyclebin"
            )
        entry = hits[-1]  # most recent drop wins (tcap_drop.cpp)
        target = (mm.group("new") or name).lower()
        if target in mt.tables:
            raise ValueError(
                f"TIMECAPSULE: table {target!r} already exists — "
                "RENAME TO a fresh name"
            )
        mt.recyclebin.remove(entry)
        os.rename(entry["dir"], os.path.join(mt.root, target))
        mt.tables[target] = entry["meta"]
        mt.mark_ddl(target, "restore drop")
        mt._register_view(target)
        return status_frame(engine.spark, ("TIMECAPSULE TABLE", name, f"RESTORED AS {target}"), "tag STRING, tbl STRING, action STRING",)
    if _TO_BEFORE_TRUNC.match(to):
        hist = mt.tables[name].get("history", [])
        idx = [i for i, h in enumerate(hist) if h["tag"] == "truncate"]
        if not idx or idx[-1] == 0:
            raise ValueError(
                f"TIMECAPSULE: no TRUNCATE commit on {name!r}"
            )
        snap = mt.read_snapshot(name, hist[idx[-1] - 1]["csn"])
        mt.tag_commit(name, "timecapsule")
        mt.rewrite(name, snap)
        return status_frame(engine.spark, ("TIMECAPSULE TABLE", name, "BEFORE TRUNCATE"), "tag STRING, tbl STRING, action STRING",)
    mm = _TO_VERSION.match(to)
    if mm is None:
        raise ValueError(f"TIMECAPSULE: cannot parse TO clause {to!r}")
    if name not in mt.tables:
        raise KeyError(f"TIMECAPSULE: managed table {name!r} not found")
    if mm.group("csn") is not None:
        csn = int(mm.group("csn"))
    else:
        csn = mt.resolve_timestamp(
            name, _ts_to_epoch(engine, mm.group("ts"))
        )
    snap = mt.read_snapshot(name, csn)
    mt.tag_commit(name, "timecapsule")
    mt.rewrite(name, snap)
    return status_frame(engine.spark, ("TIMECAPSULE TABLE", name, f"TO CSN {csn}"), "tag STRING, tbl STRING, action STRING",)


# ------------------------------------------------------- restore frames
# Shared undo machinery for SAVEPOINT (engine.py) and DO-block
# EXCEPTION frames (do_block.py): a frame is a {table: latest-CSN}
# snapshot; restoring rolls every advanced table back through the
# commit log (read_snapshot + rewrite — the same path TIMECAPSULE
# TABLE ... TO CSN takes) and drops tables created after the
# snapshot.  In a single-session autocommit engine this IS the
# subtransaction-visibility semantics: no other session exists to
# observe the intermediate commits.


def snapshot_csns(engine) -> dict:
    """{table: latest CSN} for every live managed table."""
    mt = engine.managed_tables
    return {t: (mt.latest_commit(t) or {"csn": 0})["csn"] for t in mt.tables}


def restore_csns(engine, entry: dict,
                 original: BaseException | None = None) -> int:
    """Roll the managed catalog back to a snapshot_csns() frame;
    returns how many tables changed (restored or dropped).  A table
    whose history cannot reach the frame (DDL barrier, purged
    generations) raises — chaining ``original`` when the restore runs
    on behalf of an exception frame."""
    mt = engine.managed_tables
    touched = 0
    for t in [t for t in mt.tables if t not in entry]:
        mt.drop(t, purge=True)
        touched += 1
    for t, csn in entry.items():
        # a table dropped since the frame is refused upfront by
        # callers that guard DDL: nothing to restore onto
        h = mt.latest_commit(t)
        if h is None or h["csn"] == csn:
            continue  # untouched
        try:
            snap = mt.read_snapshot(t, csn)
        except ValueError as roll_err:
            raise RuntimeError(
                f"cannot roll {t!r} back to its frame state "
                f"({roll_err})"
            ) from original
        mt.tag_commit(t, "frame rollback")
        mt.rewrite(t, snap)
        touched += 1
    return touched


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "timecapsule_flashback_query",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 2000
    ),
    newstate AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderstatus = 'F'
                  THEN price * CAST(1.1 AS DOUBLE) ELSE price END AS price
      FROM base WHERE o_orderstatus <> 'O'
    )
    SELECT 'asof' AS state, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM base GROUP BY o_orderstatus
    UNION ALL
    SELECT 'now' AS state, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM newstate GROUP BY o_orderstatus
    ORDER BY state, o_orderstatus
    """,
)
def timecapsule_flashback_query(spark, sf_dir):
    """Flashback query end-to-end (tcap_version.cpp + the regress
    t1 flow of timecapsule_version_test_1.source): CTAS a selection,
    note the head CSN, UPDATE one status band and DELETE another, then
    read BOTH the pre-DML snapshot (``TIMECAPSULE CSN``) and the live
    state in one statement.  The oracle recomputes both states from
    the base table — a hash match proves the old manifest's file list
    reconstructs the exact pre-DML relation after two copy-on-write
    generations."""
    import shutil as _shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="tcap_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE tc_t AS SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
            " WHERE o_orderkey <= 2000"
        )
        v0 = eng.managed_tables.tables["tc_t"]["history"][-1]["csn"]
        eng.sql(
            "UPDATE tc_t SET price = price * CAST(1.1 AS DOUBLE)"
            " WHERE o_orderstatus = 'F'"
        )
        eng.sql("DELETE FROM tc_t WHERE o_orderstatus = 'O'")
        out = eng.sql(
            f"""
            SELECT 'asof' AS state, o_orderstatus,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)
                     AS total
            FROM tc_t TIMECAPSULE CSN {v0}
            GROUP BY o_orderstatus
            UNION ALL
            SELECT 'now' AS state, o_orderstatus,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)
                     AS total
            FROM tc_t GROUP BY o_orderstatus
            ORDER BY state, o_orderstatus
            """
        )
        rows = [(r[0], r[1], r[2], float(r[3])) for r in out.collect()]
        return spark.createDataFrame(
            rows,
            "state STRING, o_orderstatus STRING, n BIGINT, total DOUBLE",
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


@query(
    "savepoint_rollback",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'POSTROLL' AS o_orderstatus, CAST(1 AS BIGINT) AS n,
           CAST(42.0 AS DOUBLE) AS total
    ORDER BY o_orderstatus
    """,
)
def savepoint_rollback(spark, sf_dir):
    """SAVEPOINT / ROLLBACK TO SAVEPOINT end-to-end (TransactionStmt
    savepoints as named restore frames over the commit log): a batch
    doubles prices, deletes a status class, and creates a scratch
    table; ROLLBACK TO the savepoint restores the table and drops the
    scratch; a post-rollback INSERT proves the session continues — so
    the final aggregate equals the pristine source plus the sentinel,
    exactly the oracle's statement.

    Scale: the frame is {table: CSN} metadata; the rollback is one
    snapshot rewrite per touched table (the same copy-on-write move
    any UPDATE makes) — no undo log, no locks."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="svp_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE svp_t AS SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS o_totalprice"
            " FROM orders WHERE o_orderkey <= 3000"
        )
        eng.sql("SAVEPOINT pristine")
        eng.sql("UPDATE svp_t SET o_totalprice = o_totalprice * 2")
        eng.sql("DELETE FROM svp_t WHERE o_orderstatus = 'F'")
        eng.sql("CREATE TABLE svp_scratch AS SELECT 1 AS a")
        eng.sql("ROLLBACK TO SAVEPOINT pristine")
        eng.sql("RELEASE SAVEPOINT pristine")
        eng.sql("INSERT INTO svp_t SELECT -1, 'POSTROLL', 42.0")
        out = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            " AS total FROM svp_t"
            " GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP TABLE svp_t PURGE")
        return spark.createDataFrame(
            rows, "o_orderstatus STRING, n BIGINT, total DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
