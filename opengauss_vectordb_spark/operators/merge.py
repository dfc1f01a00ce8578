"""MERGE INTO emulation (reference: `executor/execMerge.cpp`,
`vecnode/vecmergeinto.cpp`, `parser/parse_merge.cpp`) and UPSERT
(`nodeModifyTable.cpp` ON DUPLICATE KEY UPDATE).

Without a transactional table format, MERGE is expressed as a full-outer
join producing the post-merge relation, which the caller writes back
atomically via overwrite (parquet) — the append-only analogue of the
reference's in-place DML. On a format with native MERGE (Delta/Iceberg)
the same plan maps 1:1 onto `MERGE INTO`.

Scale note: the join shuffles both sides on the key — unavoidable for
arbitrary MERGE; when the source is small it broadcasts automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..sqltext import split_top
from ._util import status_frame


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column] | None = None,
    when_matched_delete: Column | None = None,
    when_not_matched_insert: bool = True,
    insert_values: dict[str, Column] | None = None,
) -> DataFrame:
    """Returns the post-MERGE relation.

    * matched + when_matched_delete predicate → row dropped
    * matched (otherwise) → target columns replaced per
      when_matched_update ({col: expression over source/target})
    * unmatched target rows → kept as-is
    * unmatched source rows → inserted when when_not_matched_insert;
      with insert_values given, the inserted row takes
      insert_values[col] (NULL for unlisted columns) instead of the
      same-named source column — this keeps WHEN NOT MATCHED INSERT
      expressions OUT of the matched branch (execMerge.cpp evaluates
      each action's targetlist independently; mutating the shared
      source frame would leak INSERT transforms into UPDATE values)
    """
    # presence sentinels, not key nullability: a target row whose join key
    # is NULL never matches in the equi-join, but it is still a target row
    # and must be kept as-is (execMerge.cpp leaves unmatched target rows
    # unchanged) — deriving sides from t.<key> IS NULL would misclassify
    # it as a source-only insert and null out every column
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    cond = None
    for k in on:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")
    if not when_not_matched_insert:
        joined = joined.filter(F.col("t._t_present").isNotNull())

    matched = (
        F.col("t._t_present").isNotNull() & F.col("s._s_present").isNotNull()
    )
    s_only = F.col("t._t_present").isNull()

    out_cols = []
    for name in target.columns:
        tcol = F.col(f"t.{name}")
        scol = F.col(f"s.{name}") if name in source.columns else F.lit(None)
        updated = (
            when_matched_update.get(name, tcol)
            if when_matched_update is not None
            else scol if name in source.columns else tcol
        )
        inserted = (
            insert_values.get(name, F.lit(None))
            if insert_values is not None
            else scol
        )
        value = (
            F.when(matched, updated).when(s_only, inserted).otherwise(tcol)
        )
        out_cols.append(value.alias(name))

    result = joined.select(*out_cols)
    if when_matched_delete is not None:
        # re-derive the matched flag on the merged rows via an anti join
        # (NULL target keys never appear here, so they are never deleted)
        keep_keys = (
            joined.filter(matched & when_matched_delete)
            .select(*[F.col(f"t.{k}").alias(k) for k in on])
        )
        result = result.join(keep_keys, on, "left_anti")
    return result


def upsert(target: DataFrame, source: DataFrame, on: list[str]) -> DataFrame:
    """INSERT ... ON DUPLICATE KEY UPDATE: source wins on key collision."""
    return merge_into(target, source, on, when_matched_update=None)


# ---------------------------------------------------------------- queries

from ..catalog import table  # noqa: E402
from ..registry import query  # noqa: E402


@query(
    "merge_upsert_orders",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey <= 200
    ), source AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 150 AND 250
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    ORDER BY o_orderkey
    """,
)
def merge_upsert_orders(spark, sf_dir):
    # MERGE INTO through the driver gate: upsert a modified slice into a
    # target slice; matched rows take source values, unmatched source
    # rows insert (execMerge.cpp semantics over append-only storage)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") <= 200)
    source = o.filter(F.col("o_orderkey").between(150, 250)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    return upsert(target, source, ["o_orderkey"]).orderBy("o_orderkey")


@query(
    "merge_delete_action",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey <= 200
    ), source AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 150 AND 250
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
               AND s.o_totalprice > 300000.0)
    ORDER BY o_orderkey
    """,
)
def merge_delete_action(spark, sf_dir):
    """MERGE with a WHEN MATCHED AND <cond> THEN DELETE action
    (execMerge.cpp handles matched-delete alongside matched-update;
    parse_merge.cpp's action list): matched rows whose doubled source
    price exceeds the threshold are DELETED, other matched rows take
    source values, unmatched source rows INSERT, unmatched target rows
    survive untouched.  The oracle spells the same post-merge relation
    as a full-outer join with the delete predicate as a WHERE.

    Scale: one shuffle on the merge key (broadcast when the source is
    dim-sized); the delete path re-derives matched keys with a
    key-projected anti join — no second scan of the wide rows."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") <= 200)
    source = o.filter(F.col("o_orderkey").between(150, 250)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    merged = merge_into(
        target,
        source,
        ["o_orderkey"],
        when_matched_update=None,  # matched rows take source values
        when_matched_delete=F.col("s.o_totalprice") > 300000.0,
    )
    return merged.orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Incremental aggregate maintenance — the materialized-view refresh shape
# (the steady-state form of every 100 TB rollup: never re-aggregate the
# full history; merge the delta batch's partial aggregates into the
# stored aggregate state). Decomposable aggregates only (count/sum —
# avg derives); the merge is a full-outer join on the group key between
# two GROUP-KEY-sized relations, both orders of magnitude smaller than
# the fact history.
# --------------------------------------------------------------------------

from ..catalog import table  # noqa: E402
from ..registry import query  # noqa: E402


def merge_agg_state(
    state: DataFrame, delta_aggs: DataFrame, keys: list[str],
    counters: list[str],
) -> DataFrame:
    """state ⟗ delta on keys; each counter column sums coalesced sides —
    the generic decomposable-aggregate merge."""
    d = delta_aggs.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in counters]
    )
    out = state.join(d, keys, "full_outer")
    for c in counters:
        out = out.withColumn(
            c,
            F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"_d_{c}"), F.lit(0)),
        )
    return out.select(*keys, *counters)


@query(
    "incremental_agg_merge",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                     AS DECIMAL(28,6)) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def incremental_agg_merge(spark, sf_dir):
    """Materialized-view incremental refresh: the orders history is
    split into 'yesterday's state' (orderkey % 10 != 0, pre-aggregated)
    and 'today's delta' (orderkey % 10 == 0); the delta is aggregated
    ALONE and merged into the state via a full-outer group-key join of
    counter columns. The oracle is the full re-aggregation — hash
    equality proves merge(state, agg(delta)) == agg(full), the
    decomposability contract that lets a 100 TB rollup pay O(|delta|)
    per refresh. Exact DECIMAL counters make the split-order
    irrelevant (float sums would drift between the two paths); the
    FINAL column is cast to DOUBLE per the registry determinism
    convention — the driver hashes decimal representations, not
    values, so a DECIMAL(28,6) output red-flags even when bit-equal
    (r4 gate finding)."""
    o = table(spark, sf_dir, "orders")
    keys, counters = ["o_orderpriority"], ["n_orders", "total_price"]

    def agg(df):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .alias("total_price"),
        )

    state = agg(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = agg(o.filter(F.col("o_orderkey") % 10 == 0))
    merged = merge_agg_state(state, delta, keys, counters)
    return merged.select(
        *keys,
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("total_price").cast("decimal(28,6)").cast("double")
        .alias("total_price"),
    ).orderBy(*keys)


# --------------------------------------------------------------------------
# MERGE INTO as SQL text through Engine.sql (parse_merge.cpp grammar →
# execMerge.cpp actions).  The statement maps onto merge_into() above:
# one full-outer join on the extracted equi-keys, per-action column
# expressions evaluated against the t/s aliases, then one copy-on-write
# rewrite of the managed target.
# --------------------------------------------------------------------------

import re as _re

_MERGE_RE = _re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>\w+)(?:\s+(?:AS\s+)?(?P<talias>\w+))?"
    r"\s+USING\s+(?P<source>\w+|\(.+?\))(?:\s+(?:AS\s+)?(?P<salias>\w+))?"
    r"\s+ON\s+(?P<on>.+?)"
    r"\s+(?P<clauses>WHEN\s+.+?)\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
# a clause starts at WHEN [NOT] MATCHED, not at the WHEN of a CASE
_WHEN_CLAUSE = _re.compile(r"\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)", _re.IGNORECASE)
_M_UPDATE = _re.compile(
    r"^MATCHED\s*(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+UPDATE\s+SET\s+"
    r"(?P<sets>.+)$",
    _re.IGNORECASE | _re.DOTALL,
)
_M_DELETE = _re.compile(
    r"^MATCHED\s*(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+DELETE\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_M_INSERT = _re.compile(
    r"^NOT\s+MATCHED\s+THEN\s+INSERT\s*"
    r"(?:\(\s*(?P<cols>[\w\s,]+?)\s*\)\s*)?"
    r"VALUES\s*\(\s*(?P<vals>.+?)\s*\)\s*$",
    _re.IGNORECASE | _re.DOTALL,
)


def _norm_aliases(text: str, talias: str, salias: str) -> str:
    """Rewrite user aliases to the canonical t./s. the joined frame
    uses — both aliases in ONE pass via placeholders, so crossed or
    colliding user aliases (``MERGE INTO tbl s USING src t``, or any
    target alias literally named 's') cannot cascade: a sequential
    talias→t. then salias→s. rewrite would turn a target alias 's'
    into 't.' correctly but a target alias rewritten to 't.' whose
    source alias is 't' would then be re-rewritten to 's.'."""
    text = _re.sub(rf"\b{_re.escape(talias)}\.", "\x00T\x00.", text,
                   flags=_re.IGNORECASE)
    text = _re.sub(rf"\b{_re.escape(salias)}\.", "\x00S\x00.", text,
                   flags=_re.IGNORECASE)
    return text.replace("\x00T\x00.", "t.").replace("\x00S\x00.", "s.")


def try_handle_stmt(engine, query: str):
    """Engine.sql hook: MERGE INTO <managed target> USING <table |
    (subquery)> ON <equi-cond> WHEN ... — executed as the full-outer
    merge + copy-on-write rewrite.

    Clause order is honored as in PG/openGauss (parse_merge.cpp:
    first matching WHEN clause wins): when a conditional UPDATE
    precedes DELETE, rows satisfying the UPDATE condition are updated,
    not deleted; an unconditional UPDATE before DELETE makes the
    DELETE unreachable.  INSERT value expressions are evaluated
    against the source alone and carried in separate __ins_* columns,
    so they can never leak into matched-row UPDATE values or the join
    keys (execMerge.cpp evaluates each action's targetlist
    independently)."""
    m = _MERGE_RE.match(query)
    if m is None:
        return None
    tname = m.group("target").lower()
    mt = engine.managed_tables
    if tname not in mt.tables:
        raise KeyError(
            f"MERGE INTO: managed table {tname!r} does not exist — "
            "CTAS a managed copy to merge into"
        )
    from .rls import check_privilege

    check_privilege(engine, tname, "update")
    check_privilege(engine, tname, "insert")
    if mt.tables[tname].get("generated") or mt.tables[tname].get(
        "auto_col"
    ):
        raise NotImplementedError(
            "MERGE INTO a table with GENERATED/AUTO_INCREMENT columns "
            "does not recompute them — rewrite as INSERT ... SELECT "
            "plus UPDATE, whose paths do"
        )
    src_text = m.group("source")
    if src_text.startswith("("):
        source = engine.sql(src_text[1:-1])
    else:
        source = engine.spark.table(src_text.lower())
    talias = (m.group("talias") or m.group("target")).lower()
    salias = (m.group("salias") or
              (src_text if not src_text.startswith("(") else "s")).lower()
    target = mt.scan(tname)

    on_text = _norm_aliases(m.group("on"), talias, salias)
    keys: list[str] = []
    for conj in split_top(on_text, r"\bAND\b"):
        em = _re.match(
            r"^\(?\s*(?P<l>[ts])\.(?P<lc>\w+)\s*=\s*(?P<r>[ts])\."
            r"(?P<rc>\w+)\s*\)?$",
            conj.strip(), _re.IGNORECASE,
        )
        if em is None or em.group("l").lower() == em.group("r").lower():
            raise NotImplementedError(
                "MERGE ON supports equi-conditions t.col = s.col; "
                "express extra predicates as WHEN ... AND <cond> "
                "action conditions"
            )
        tcol = (em.group("lc") if em.group("l").lower() == "t"
                else em.group("rc")).lower()
        scol = (em.group("rc") if em.group("l").lower() == "t"
                else em.group("lc")).lower()
        if scol != tcol:
            # align the source key to the target key's name so the
            # equi-join key lists coincide (original column kept for
            # s.<name> references in action expressions)
            source = source.withColumn(tcol, F.col(scol))
        keys.append(tcol)

    update_sets: dict[str, Column] | None = None
    update_cond: str | None = None
    delete_cond: Column | None = None
    insert_clause = False
    insert_values: dict[str, Column] | None = None
    update_pos: int | None = None
    delete_pos: int | None = None
    for pos, clause in enumerate(split_top(m.group("clauses"), _WHEN_CLAUSE)):
        cm = _M_UPDATE.match(clause)
        if cm:
            if update_sets is not None:
                raise NotImplementedError(
                    "one WHEN MATCHED ... UPDATE clause is supported"
                )
            update_sets = {}
            update_cond = cm.group("cond")
            update_pos = pos
            for a in split_top(cm.group("sets")):
                col, _, expr = a.partition("=")
                col = col.strip().lower().removeprefix("t.")
                expr = _norm_aliases(expr.strip(), talias, salias)
                value = F.expr(expr)
                if update_cond is not None:
                    guard = F.expr(
                        _norm_aliases(update_cond, talias, salias)
                    )
                    value = F.when(guard, value).otherwise(
                        F.col(f"t.{col}")
                    )
                update_sets[col] = value
            continue
        cm = _M_DELETE.match(clause)
        if cm:
            dc = cm.group("cond")
            delete_pos = pos
            delete_cond = (
                F.expr(_norm_aliases(dc, talias, salias))
                if dc is not None else F.lit(True)
            )
            continue
        cm = _M_INSERT.match(clause)
        if cm:
            insert_clause = True
            vals = split_top(cm.group("vals"))
            cols = (
                [c.strip().lower() for c in cm.group("cols").split(",")]
                if cm.group("cols")
                else list(target.columns)[: len(vals)]
            )
            if len(cols) != len(vals):
                raise ValueError(
                    "MERGE INSERT: column/value count mismatch"
                )
            # evaluate each INSERT expression against the SOURCE frame
            # alone (PG scoping: only source columns are visible in the
            # INSERT targetlist) into a private __ins_<col> column —
            # never overwrite a source column in place: the shared
            # frame also feeds the ON keys and matched UPDATE values
            insert_values = {}
            for col, val in zip(cols, vals):
                expr = _norm_aliases(val, talias, salias)
                source = source.withColumn(
                    f"__ins_{col}", F.expr(_re.sub(r"\bs\.", "", expr))
                )
                insert_values[col] = F.col(f"s.__ins_{col}")
            continue
        raise NotImplementedError(
            f"MERGE clause not supported: WHEN {clause[:50]!r}"
        )

    if update_sets is None and delete_cond is None and not insert_clause:
        raise ValueError("MERGE needs at least one WHEN action")
    if (
        delete_cond is not None
        and update_pos is not None
        and update_pos < delete_pos
    ):
        # first-match-wins (parse_merge.cpp): an UPDATE clause ahead of
        # DELETE claims its rows before the DELETE predicate is tried
        if update_cond is None:
            delete_cond = F.lit(False)
        else:
            claimed = F.coalesce(
                F.expr(_norm_aliases(update_cond, talias, salias)),
                F.lit(False),
            )
            delete_cond = delete_cond & ~claimed
    merged = merge_into(
        target,
        source,
        keys,
        when_matched_update=(
            update_sets if update_sets is not None
            else {c: F.col(f"t.{c}") for c in target.columns}
        ),
        when_matched_delete=delete_cond,
        when_not_matched_insert=insert_clause,
        insert_values=insert_values,
    )
    before = target.count()
    mt.rewrite(tname, merged)
    after = mt.scan(tname).count()
    return status_frame(engine.spark, ("MERGE", tname, before, after), "tag STRING, tbl STRING, rows_before BIGINT, rows_after BIGINT",)


@query(
    "merge_sql_text",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey <= 200
    ), source AS (
      SELECT o_orderkey, o_totalprice * 2 AS newprice
      FROM orders WHERE o_orderkey BETWEEN 150 AND 250
    ), merged AS (
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
                  THEN 'M'
                  WHEN s.o_orderkey IS NOT NULL THEN 'I'
                  ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.newprice
                  ELSE t.o_totalprice END AS o_totalprice
      FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                 AND s.newprice > 300000.0)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def merge_sql_text(spark, sf_dir):
    """MERGE INTO as SQL TEXT end-to-end (parse_merge.cpp grammar →
    execMerge.cpp actions, through Engine.sql): CTAS a managed target
    slice, MERGE a subquery source into it — conditional DELETE,
    unconditional matched UPDATE, NOT MATCHED INSERT — then aggregate
    the post-merge table against the oracle's full-outer-join
    formulation of the same actions.

    Scale: the statement is one full-outer shuffle on the merge key +
    one copy-on-write rewrite; the key-projected anti join implements
    the delete without rescanning wide rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="merge_text_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE mtx AS"
            " SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
            " WHERE o_orderkey <= 200"
        )
        eng.sql("""
            MERGE INTO mtx t
            USING (SELECT o_orderkey, o_totalprice * 2 AS newprice
                   FROM orders WHERE o_orderkey BETWEEN 150 AND 250) s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.newprice > 300000.0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M',
                o_totalprice = s.newprice
            WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus,
                o_totalprice) VALUES (s.o_orderkey, 'I', s.newprice)
        """)
        out = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n,"
            " MIN(o_orderkey) AS min_key,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM mtx GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP TABLE mtx PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in rows],
            "o_orderstatus STRING, n BIGINT, min_key BIGINT, total DOUBLE",
        ).select(
            "o_orderstatus", "n", "min_key",
            F.col("total").cast("double"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
