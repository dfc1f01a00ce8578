"""Row triggers on managed tables — the contrib/spi trigger family
(CREATE TRIGGER, commands/trigger.cpp) re-expressed as column
transforms on the INSERT and UPDATE pipelines.

The reference ships three canonical SPI trigger procedures:
  * moddatetime(col)      — stamp a timestamp column on insert/update
    (contrib/spi/moddatetime.c)
  * insert_username(col)  — stamp the session user
    (contrib/spi/insert_username.c)
  * check_primary_key(fkcol, reftable, refcol) — referential-integrity
    gate: every inserted fk value must exist in the referenced table
    (contrib/spi/refint.c)

Spark has no per-row interception point, and none is needed: a BEFORE
INSERT ... FOR EACH ROW trigger is semantically a column transform (or
a validating anti-join) applied to the inserted BATCH before the write.
That batch form is also the 100 TB-correct shape — stamping is a
codegen'd literal projection, and the FK check is one anti-join against
the referenced key column (broadcast when small, shuffle otherwise —
AQE decides), instead of the reference's per-row SPI probe.

Triggers fire in name order (PG's documented multi-trigger order).
Every INSERT form (VALUES, SELECT, a column list, DEFAULT VALUES)
fires the BEFORE INSERT ones through ``fire_insert_triggers`` on the
cast batch; both UPDATE forms (plain and FROM) fire the BEFORE UPDATE
ones through ``fire_update_triggers``, which stamps only the hit rows
and checks only the fk columns the SET list touched.  MERGE, ON
DUPLICATE KEY UPDATE and REPLACE INTO fire none.

Determinism knobs: ``engine.trigger_clock`` (None → current_timestamp)
and ``engine.session_user`` (None → sparkContext.sparkUser()).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..registry import query
from ..sqltext import split_top
from ._util import status_frame

_CREATE_TRIGGER = re.compile(
    r"^\s*CREATE\s+TRIGGER\s+(?P<name>\w+)\s+BEFORE\s+"
    r"(?P<events>INSERT(?:\s+OR\s+UPDATE)?|UPDATE(?:\s+OR\s+INSERT)?)\s+"
    r"ON\s+(?P<table>\w+)\s+FOR\s+EACH\s+ROW\s+"
    r"EXECUTE\s+(?:PROCEDURE|FUNCTION)\s+(?P<proc>\w+)\s*"
    r"\(\s*(?P<args>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_TRIGGER = re.compile(
    r"^\s*DROP\s+TRIGGER\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s+ON\s+"
    r"(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE,
)

_PROCS = {"moddatetime", "insert_username", "check_primary_key"}


def try_handle_stmt(engine, stmt: str):
    m = _CREATE_TRIGGER.match(stmt)
    if m:
        proc = m.group("proc").lower()
        if proc not in _PROCS:
            raise NotImplementedError(
                f"trigger procedure {proc!r} not supported; available:"
                f" {sorted(_PROCS)} (contrib/spi set)"
            )
        tbl = m.group("table").lower()
        if tbl not in engine.managed_tables.tables:
            raise KeyError(
                f"triggers attach to managed tables; {tbl!r} is not one"
            )
        name = m.group("name").lower()
        engine.triggers.setdefault(tbl, {})[name] = {
            "proc": proc,
            "args": [a.strip("'\"") for a in split_top(m.group("args"))],
            "events": {e.strip().lower()
                       for e in m.group("events").upper().split("OR")},
        }
        return status_frame(engine.spark, ("CREATE TRIGGER", name, tbl, proc), "tag STRING, trigger STRING, tbl STRING, proc STRING",)
    m = _DROP_TRIGGER.match(stmt)
    if m:
        tbl = m.group("table").lower()
        name = m.group("name").lower()
        existed = engine.triggers.get(tbl, {}).pop(name, None) is not None
        if not existed and not re.search(r"IF\s+EXISTS", stmt, re.IGNORECASE):
            raise KeyError(f"trigger {name!r} on {tbl!r} does not exist")
        return status_frame(engine.spark, ("DROP TRIGGER", name, tbl, existed), "tag STRING, trigger STRING, tbl STRING, existed BOOLEAN",)
    return None


def fire_insert_triggers(engine, tbl: str, df):
    """Apply BEFORE INSERT triggers to the batch, in trigger-name order."""
    trigs = engine.triggers.get(tbl.lower(), {})
    for name in sorted(trigs):
        t = trigs[name]
        if "insert" not in t["events"]:
            continue
        proc, args = t["proc"], t["args"]
        if proc == "moddatetime":
            clock = engine.trigger_clock
            stamp = (F.lit(clock).cast("timestamp") if clock is not None
                     else F.current_timestamp())
            df = df.withColumn(args[0], stamp)
        elif proc == "insert_username":
            user = (engine.session_user
                    or engine.spark.sparkContext.sparkUser())
            df = df.withColumn(args[0], F.lit(user))
        elif proc == "check_primary_key":
            fkcol, reftable, refcol = args
            ref = engine.spark.table(reftable).select(
                F.col(refcol).alias(fkcol)
            )
            missing = (
                df.select(fkcol).filter(F.col(fkcol).isNotNull())
                .join(ref, fkcol, "left_anti").limit(1).count()
            )
            if missing:
                raise ValueError(
                    f"trigger {name}: insert on {tbl!r} violates"
                    f" check_primary_key({fkcol} -> {reftable}.{refcol})"
                )
    return df


def fire_update_triggers(engine, tbl: str, df, cond, set_cols, schema):
    """BEFORE UPDATE triggers: stamp columns on the rows the UPDATE's
    WHERE condition hit (moddatetime's canonical use), validate fk
    columns the SET clauses touched (refint)."""
    trigs = engine.triggers.get(tbl.lower(), {})
    for name in sorted(trigs):
        t = trigs[name]
        if "update" not in t["events"]:
            continue
        proc, args = t["proc"], t["args"]
        if proc == "moddatetime":
            clock = engine.trigger_clock
            stamp = (F.lit(clock).cast("timestamp") if clock is not None
                     else F.current_timestamp())
            df = df.withColumn(
                args[0], F.when(cond, stamp).otherwise(F.col(args[0]))
            )
        elif proc == "insert_username":
            user = (engine.session_user
                    or engine.spark.sparkContext.sparkUser())
            df = df.withColumn(
                args[0], F.when(cond, F.lit(user)).otherwise(F.col(args[0]))
            )
        elif proc == "check_primary_key":
            fkcol, reftable, refcol = args
            if fkcol not in set_cols:
                continue  # fk column untouched by this UPDATE
            ref = engine.spark.table(reftable).select(
                F.col(refcol).alias(fkcol)
            )
            missing = (
                df.filter(cond).select(fkcol)
                .filter(F.col(fkcol).isNotNull())
                .join(ref, fkcol, "left_anti").limit(1).count()
            )
            if missing:
                raise ValueError(
                    f"trigger {name}: update on {tbl!r} violates"
                    f" check_primary_key({fkcol} -> {reftable}.{refcol})"
                )
    return df


@query(
    "trigger_spi_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           '2024-01-15 10:30:00' AS stamp,
           CAST(1 AS BIGINT) AS n_stamps,
           'data_loader' AS who,
           TRUE AS fk_rejected
    FROM orders WHERE o_orderkey <= 100
    """,
)
def trigger_spi_audit(spark, sf_dir):
    """The contrib/spi trigger suite end-to-end: CREATE TRIGGER x3 on a
    managed table (moddatetime stamps updated_at, insert_username
    stamps updated_by, check_primary_key validates o_orderkey against
    orders), a conforming INSERT that gets stamped, and a violating
    INSERT that the refint trigger must reject.  The oracle recomputes
    the audited aggregate straight from orders plus the literal stamps
    the triggers were configured to apply.

    Scale: stamping is a literal projection inside the insert batch's
    plan; the FK gate is ONE anti-join of the delta against the
    referenced key column — O(|delta|) work per insert, never a per-row
    probe."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.trigger_clock = "2024-01-15 10:30:00"
    eng.session_user = "data_loader"
    eng.sql("DROP TABLE IF EXISTS trig_audit")
    eng.sql(
        "CREATE TABLE trig_audit AS"
        " SELECT o_orderkey, o_totalprice,"
        " CAST(NULL AS TIMESTAMP) AS updated_at,"
        " CAST(NULL AS STRING) AS updated_by"
        " FROM orders WHERE 1 = 0"
    )
    eng.sql(
        "CREATE TRIGGER t1_stamp BEFORE INSERT OR UPDATE ON trig_audit"
        " FOR EACH ROW EXECUTE PROCEDURE moddatetime(updated_at)"
    )
    eng.sql(
        "CREATE TRIGGER t2_user BEFORE INSERT ON trig_audit"
        " FOR EACH ROW EXECUTE PROCEDURE insert_username(updated_by)"
    )
    eng.sql(
        "CREATE TRIGGER t3_fk BEFORE INSERT ON trig_audit"
        " FOR EACH ROW EXECUTE PROCEDURE"
        " check_primary_key('o_orderkey', 'orders', 'o_orderkey')"
    )
    eng.sql(
        "INSERT INTO trig_audit"
        " SELECT o_orderkey, o_totalprice, CAST(NULL AS TIMESTAMP),"
        " CAST(NULL AS STRING) FROM orders WHERE o_orderkey <= 100"
    )
    fk_rejected = False
    try:
        eng.sql(
            "INSERT INTO trig_audit"
            " VALUES (-999, 1.0, CAST(NULL AS TIMESTAMP),"
            " CAST(NULL AS STRING))"
        )
    except ValueError:
        fk_rejected = True
    out = eng.sql(
        "SELECT COUNT(*) AS n,"
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        "   AS sum_price,"
        " MIN(CAST(updated_at AS STRING)) AS stamp,"
        " COUNT(DISTINCT updated_at) AS n_stamps,"
        " MIN(updated_by) AS who"
        " FROM trig_audit"
    )
    rows = [tuple(r) + (fk_rejected,) for r in out.collect()]
    eng.sql("DROP TRIGGER t1_stamp ON trig_audit")
    eng.sql("DROP TRIGGER IF EXISTS t2_user ON trig_audit")
    eng.sql("DROP TABLE trig_audit PURGE")
    return spark.createDataFrame(
        rows,
        "n BIGINT, sum_price DOUBLE, stamp STRING, n_stamps BIGINT,"
        " who STRING, fk_rejected BOOLEAN",
    )
