"""Materialized views — CREATE / REFRESH / DROP MATERIALIZED VIEW, plus
openGauss's INCREMENTAL matviews.

Reference: `optimizer/commands/matview.cpp` (2,843 LoC) —
`ExecRefreshMatView` (:1217) repopulates a transient heap via
`refresh_matview_datafill` (:1392) then swaps physical files (:1159),
`ExecCreateMatViewInc` (:1316) / `ExecRefreshMatViewInc` (:810) implement
delta-driven incremental refresh over base-table mlogs; regression
surface `src/test/regress/sql/matview.sql` (WITH NO DATA, chained
matviews, refresh-after-insert).

Spark-first shape:

* A matview materializes to a VERSIONED parquet directory
  (``root/<name>/v<n>``) and registers a temp view over the current
  version — the transient-heap-then-swap protocol becomes
  write-new-version-then-repoint, which is atomic for readers (a query
  planned against v(n) keeps scanning v(n)'s files; nothing is
  overwritten in place). Both the SQL and DataFrame entry points then
  see the materialization through the one catalog (SURVEY §3).
* ``WITH NO DATA`` registers nothing: scanning an unpopulated matview
  fails analysis, mirroring PG's "materialized view has not been
  populated" error.
* INCREMENTAL matviews accept the same restricted query shape the
  reference enforces (matview.cpp checks and rejects unsupported
  queries): single base relation, optional WHERE, and either a
  projection (SPJ) or a GROUP BY over decomposable aggregates
  (COUNT(*) / SUM(expr) — AVG derives as sum/count). Refresh applies a
  caller-supplied delta frame (the mlog analogue):
    - SPJ: project+filter the delta, append O(|delta|) files;
    - aggregate: aggregate the DELTA ALONE and merge into the stored
      group-key-sized state via the full-outer counter join
      (operators/merge.py merge_agg_state) — O(|delta| + |groups|)
      per refresh, never a rescan of the base history. That is the
      only refresh shape that survives a 100 TB base table.

Exact DECIMAL counters are the user's job (write the cast into the
definition, as the gate queries do) — float sums would drift between
the incremental and full-recompute paths.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sqltext import split_top
from ._util import status_frame


# Restricted incremental shape (matview.cpp ExecCreateMatViewInc rejects
# anything it cannot maintain; so do we):
#   SELECT <items> FROM <table> [WHERE <pred>] [GROUP BY <keys>]
_INC_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<keys>[\w\s,]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# greedy .+ so the LAST "AS <word>" is the alias (CAST(... AS type)
# stays inside the expression)
_AGG_ITEM = re.compile(
    r"^(?P<fn>.+)\s+AS\s+(?P<alias>\w+)\s*$", re.IGNORECASE | re.DOTALL
)


def _is_decomposable(expr: str) -> bool:
    """COUNT(*)/SUM(...), optionally CAST-wrapped — the self-maintainable
    aggregates the incremental merge can carry."""
    flat = re.sub(r"\s+", "", expr.upper())
    if "COUNT(*)" in flat:
        return True
    return flat.startswith(("SUM(", "CAST(SUM(")) or "(SUM(" in flat


@dataclass
class MatView:
    name: str
    select_sql: str          # translated definition text
    root: str                # versioned storage root for this view
    incremental: bool = False
    populated: bool = False
    version: int = 0
    # parsed incremental shape (None for full-refresh matviews)
    base_table: str | None = None
    where: str | None = None
    group_keys: list[str] = field(default_factory=list)
    agg_items: list[tuple[str, str]] = field(default_factory=list)  # (expr, alias)
    proj_items: list[str] = field(default_factory=list)

    @property
    def current_path(self) -> str:
        return os.path.join(self.root, f"v{self.version}")


class MatviewManager:
    """The matview catalog: name → MatView, storage under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.views: dict[str, MatView] = {}

    # ------------------------------------------------------------ create

    def create(self, name: str, select_sql: str, with_data: bool = True,
               incremental: bool = False) -> MatView:
        name = name.lower()
        if name in self.views:
            raise ValueError(f"materialized view {name!r} already exists")
        mv = MatView(
            name=name, select_sql=select_sql,
            root=os.path.join(self.root, name), incremental=incremental,
        )
        if incremental:
            self._parse_incremental(mv)
        # analyze now (PG validates the query at CREATE even WITH NO DATA)
        self.spark.sql(select_sql).schema
        self.views[name] = mv
        if with_data:
            self._materialize(mv, self.spark.sql(select_sql))
        return mv

    def _parse_incremental(self, mv: MatView) -> None:
        m = _INC_SHAPE.match(mv.select_sql)
        if m is None:
            raise ValueError(
                "unsupported query shape for INCREMENTAL materialized view"
                " (single base table, optional WHERE, optional GROUP BY)"
            )
        mv.base_table = m.group("table").lower()
        mv.where = m.group("where")
        items = split_top(m.group("items"))
        if m.group("keys"):
            mv.group_keys = split_top(m.group("keys"))
            for item in items:
                if item in mv.group_keys:
                    continue
                am = _AGG_ITEM.match(item)
                if am is None or not _is_decomposable(am.group("fn")):
                    raise ValueError(
                        f"INCREMENTAL matview select item {item!r} is neither"
                        " a group key nor COUNT(*)/SUM(...) AS alias"
                        " (decomposable aggregates only — matview.cpp"
                        " rejects unsupported shapes the same way)"
                    )
                mv.agg_items.append((am.group("fn"), am.group("alias")))
            if not mv.agg_items:
                raise ValueError("INCREMENTAL aggregate matview needs"
                                 " at least one COUNT(*)/SUM(...) item")
        else:
            mv.proj_items = items

    # ----------------------------------------------------------- refresh

    def refresh(self, name: str) -> MatView:
        """Full refresh: recompute the definition against the CURRENT
        base state, write v(n+1), repoint the temp view
        (ExecRefreshMatView's transient-heap-and-swap, :1146-1162)."""
        mv = self._get(name)
        self._materialize(mv, self.spark.sql(mv.select_sql))
        return mv

    def refresh_incremental(self, name: str, delta: DataFrame) -> MatView:
        """Delta-driven refresh (ExecRefreshMatViewInc :810 applied to
        one mlog batch). ``delta`` holds newly-inserted base rows."""
        mv = self._get(name)
        if not mv.incremental:
            raise ValueError(f"{name!r} is not an INCREMENTAL matview")
        if mv.where is not None:
            delta = delta.filter(F.expr(mv.where))
        if mv.agg_items:
            from .merge import merge_agg_state

            delta_agg = delta.groupBy(
                *[F.expr(k).alias(k) for k in mv.group_keys]
            ).agg(*[F.expr(e).alias(a) for e, a in mv.agg_items])
            if not mv.populated:
                self._materialize(mv, delta_agg)
                return mv
            counters = [a for _, a in mv.agg_items]
            state = self.spark.read.parquet(mv.current_path)
            merged = merge_agg_state(
                state, delta_agg, mv.group_keys, counters
            )
            # counter columns keep the state's declared types across merges
            merged = merged.select(
                *mv.group_keys,
                *[
                    F.col(c).cast(state.schema[c].dataType).alias(c)
                    for c in counters
                ],
            )
            self._materialize(mv, merged)
        else:
            projected = delta.selectExpr(*mv.proj_items)
            if not mv.populated:
                self._materialize(mv, projected)
            else:
                # O(|delta|): append files into the current version
                projected.write.mode("append").parquet(mv.current_path)
                self._register(mv)
        return mv

    # ------------------------------------------------------------- misc

    def drop(self, name: str) -> bool:
        mv = self.views.pop(name.lower(), None)
        if mv is None:
            return False
        self.spark.catalog.dropTempView(mv.name)
        return True

    def _get(self, name: str) -> MatView:
        mv = self.views.get(name.lower())
        if mv is None:
            raise KeyError(f"materialized view {name!r} does not exist")
        return mv

    def _materialize(self, mv: MatView, df: DataFrame) -> None:
        mv.version += 1
        df.write.mode("overwrite").parquet(mv.current_path)
        mv.populated = True
        self._register(mv)

    def _register(self, mv: MatView) -> None:
        self.spark.read.parquet(mv.current_path).createOrReplaceTempView(
            mv.name
        )


# ------------------------------------------------------------------ DDL

_CREATE_MV = re.compile(
    r"^\s*CREATE\s+(?P<inc>INCREMENTAL\s+)?MATERIALIZED\s+VIEW\s+"
    r"(?P<name>\w+)\s+AS\s+(?P<select>.+?)"
    r"(?:\s+WITH\s+(?P<nodata>NO\s+)?DATA)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV = re.compile(
    r"^\s*REFRESH\s+(?:INCREMENTAL\s+)?MATERIALIZED\s+VIEW\s+"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_MV = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


def try_handle_ddl(engine, query: str) -> DataFrame | None:
    """Engine.sql hook: matview DDL text → manager calls; returns a
    one-row command-tag frame (as psql shows) or None if not matview
    DDL. REFRESH on an INCREMENTAL matview without a delta runs the
    full recompute — PG's REFRESH on an incremental view does the
    same when no mlog window applies."""
    from ..functions.sql_compat import translate

    m = _CREATE_MV.match(query)
    if m:
        mgr: MatviewManager = engine.matviews
        mv = mgr.create(
            m.group("name"),
            translate(m.group("select")),
            with_data=m.group("nodata") is None,
            incremental=m.group("inc") is not None,
        )
        return status_frame(engine.spark, ("CREATE MATERIALIZED VIEW", mv.name, mv.incremental,
              mv.populated), "tag STRING, view STRING, incremental BOOLEAN,"
            " populated BOOLEAN",)
    m = _REFRESH_MV.match(query)
    if m:
        mv = engine.matviews.refresh(m.group("name"))
        return status_frame(engine.spark, ("REFRESH MATERIALIZED VIEW", mv.name, mv.version), "tag STRING, view STRING, version INT",)
    m = _DROP_MV.match(query)
    if m:
        existed = engine.matviews.drop(m.group("name"))
        return status_frame(engine.spark, ("DROP MATERIALIZED VIEW", m.group("name").lower(), existed), "tag STRING, view STRING, existed BOOLEAN",)
    return None


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "matview_refresh_select",
    """
    WITH mv AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                  AS DECIMAL(28,6)) AS total_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
           CAST(total_price AS DOUBLE) AS total_price,
           CAST(CAST(total_price AS DOUBLE) / n_orders AS DOUBLE)
             AS avg_price
    FROM mv WHERE n_orders > 0 ORDER BY o_orderpriority
    """,
)
def matview_refresh_select(spark, sf_dir):
    """CREATE MATERIALIZED VIEW ... WITH NO DATA → REFRESH → query the
    materialization (matview.cpp ExecRefreshMatView + matview.sql's
    WITH NO DATA flow). The SELECT over the refreshed view runs a
    FURTHER filter/projection on top of the parquet materialization —
    hash-matching the oracle proves the stored state, the repointed
    catalog entry, and the no-data gate all behave. The materialized
    aggregate is exact DECIMAL so refresh order can't drift; the
    RETURNED column casts to DOUBLE per the registry determinism
    convention (the driver hashes decimal representations)."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="matview_gate_")
    eng.matviews.root = tmp
    try:
        eng.sql(
            "CREATE MATERIALIZED VIEW mv_priority_sales AS"
            " SELECT o_orderpriority,"
            " CAST(COUNT(*) AS BIGINT) AS n_orders,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
            "   AS DECIMAL(28,6)) AS total_price"
            " FROM orders GROUP BY o_orderpriority WITH NO DATA"
        )
        if eng.matviews.views["mv_priority_sales"].populated:
            raise AssertionError("WITH NO DATA must not populate")
        eng.sql("REFRESH MATERIALIZED VIEW mv_priority_sales")
        out = eng.sql(
            "SELECT o_orderpriority, n_orders,"
            " CAST(total_price AS DOUBLE) AS total_price,"
            " CAST(CAST(total_price AS DOUBLE) / n_orders AS DOUBLE)"
            "   AS avg_price"
            " FROM mv_priority_sales WHERE n_orders > 0"
            " ORDER BY o_orderpriority"
        )
        rows = out.collect()
        eng.sql("DROP MATERIALIZED VIEW mv_priority_sales")
        return spark.createDataFrame(
            rows,
            "o_orderpriority STRING, n_orders BIGINT,"
            " total_price DOUBLE, avg_price DOUBLE",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "matview_incremental_refresh",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                     AS DECIMAL(28,6)) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def matview_incremental_refresh(spark, sf_dir):
    """INCREMENTAL matview end-to-end (ExecCreateMatViewInc :1316 /
    ExecRefreshMatViewInc :810): create over 'yesterday's' base slice
    (orderkey % 10 != 0), then apply 'today's' delta (% 10 == 0)
    through the delta-merge path — the delta is aggregated ALONE and
    full-outer-merged into the group-key-sized stored state, O(|delta|)
    instead of a base rescan. The oracle aggregates the FULL orders
    table, so a hash match proves incremental-refresh(state, delta) ==
    full-recompute — the maintenance contract. Exact DECIMAL counters
    make the two paths bit-identical; the returned column casts to
    DOUBLE per the registry determinism convention."""
    import shutil
    import tempfile

    from ..catalog import table
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="matview_inc_gate_")
    eng.matviews.root = tmp
    try:
        o = table(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 10 != 0).createOrReplaceTempView(
            "orders_base_inc"
        )
        eng.sql(
            "CREATE INCREMENTAL MATERIALIZED VIEW mv_status_inc AS"
            " SELECT o_orderstatus,"
            " CAST(COUNT(*) AS BIGINT) AS n_orders,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
            "   AS DECIMAL(28,6)) AS total_price"
            " FROM orders_base_inc GROUP BY o_orderstatus"
        )
        delta = o.filter(F.col("o_orderkey") % 10 == 0)
        eng.matviews.refresh_incremental("mv_status_inc", delta)
        out = eng.sql(
            "SELECT o_orderstatus, n_orders,"
            " CAST(total_price AS DOUBLE) AS total_price"
            " FROM mv_status_inc ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP MATERIALIZED VIEW mv_status_inc")
        spark.catalog.dropTempView("orders_base_inc")
        return spark.createDataFrame(
            rows,
            "o_orderstatus STRING, n_orders BIGINT,"
            " total_price DOUBLE",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
