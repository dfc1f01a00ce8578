"""Prepared statements — PREPARE / EXECUTE / DEALLOCATE, the SQL-level
face of the reference's extended protocol (SURVEY §3 entry point 2).

Reference: `optimizer/commands/prepare.cpp` (2,417 LoC) —
`PrepareQuery` (:195) parse-analyzes once and stores a
`CachedPlanSource` (`StorePreparedStatement` :964), `ExecuteQuery`
(:352) binds parameters (`EvaluateParams` :563) and runs the cached
plan; regression surface `src/test/regress/sql/prepare.sql`
($n parameters, re-PREPARE after DEALLOCATE, wrong-arity errors).

Spark-first shape: PREPARE runs the compat translation ONCE (the
parse-analyze analogue) and rewrites PG's ``$n`` positional markers to
Spark SQL's named parameter markers ``:pn`` — outside string literals
(sql_compat's literal masking). EXECUTE binds Python values through
``spark.sql(text, args=...)``, Spark's native parameterized-query API,
so values arrive as TYPED literal expressions (never string-spliced —
the injection-safe bind path, exactly what the wire protocol's
Bind message gives the reference). Catalyst re-plans per execution;
with literal parameter values that is the reference's "custom plan"
mode, and AQE supersedes the generic-plan cache (plan caching without
parameter-blind cardinality guesses).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..functions.sql_compat import translate
from ..sqltext import mask, split_top
from ._util import status_frame, sub_outside_literals

_PARAM = re.compile(r"\$(\d+)")


class PreparedStatements:
    """name → (bound-ready SQL text, parameter count)."""

    def __init__(self, spark):
        self.spark = spark
        self.stmts: dict[str, tuple[str, int]] = {}

    def prepare(self, name: str, sql: str) -> int:
        """Translate + rewrite $n → :pn once; returns parameter count.
        Re-PREPARE of a live name errors (prepare.sql:13-17 expects
        "already exists")."""
        name = name.lower()
        if name in self.stmts:
            raise ValueError(f"prepared statement {name!r} already exists")
        nums = sorted({int(n) for n in _PARAM.findall(mask(sql))})
        if nums and nums != list(range(1, len(nums) + 1)):
            raise ValueError(f"parameter numbers must be $1..$n, got {nums}")
        text = translate(sub_outside_literals(
            _PARAM, lambda m: f":p{m.group(1)}", sql))
        self.stmts[name] = (text, len(nums))
        return len(nums)

    def execute(self, name: str, params: list) -> DataFrame:
        name = name.lower()
        if name not in self.stmts:
            raise KeyError(f"prepared statement {name!r} does not exist")
        text, nparams = self.stmts[name]
        if len(params) != nparams:
            raise ValueError(
                f"wrong number of parameters for {name!r}:"
                f" expected {nparams}, got {len(params)}"
            )
        args = {f"p{i + 1}": v for i, v in enumerate(params)}
        return self.spark.sql(text, args=args) if args else self.spark.sql(text)

    def deallocate(self, name: str | None) -> int:
        """DEALLOCATE name | ALL (None). Returns count removed."""
        if name is None:
            n = len(self.stmts)
            self.stmts.clear()
            return n
        return 1 if self.stmts.pop(name.lower(), None) is not None else 0


# ------------------------------------------------------------------ DDL

# lazy types group: stops at the first ") AS" boundary so a CAST inside
# the statement body is never swallowed into the parameter-type list
_PREPARE = re.compile(
    r"^\s*PREPARE\s+(?P<name>\w+)\s*(?:\(\s*(?P<types>[\w\s,()]*?)\s*\))?"
    r"\s+AS\s+(?P<stmt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE = re.compile(
    r"^\s*EXECUTE\s+(?P<name>\w+)\s*(?:\(\s*(?P<args>.*?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DEALLOCATE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(?P<name>\w+|ALL)\s*;?\s*$",
    re.IGNORECASE,
)
_ARG_CAST = re.compile(r"^(?P<lit>.+?)\s*::\s*\w+\s*$", re.DOTALL)


def _parse_args(argtext: str | None) -> list:
    """EXECUTE argument literals → Python values (the Bind message's
    typed values): 'string', numbers, true/false, NULL; a trailing
    PG ``::type`` cast is accepted and dropped (the value's Python type
    drives Spark's literal typing)."""
    if not argtext:
        return []
    out = []
    for raw in split_top(argtext):
        m = _ARG_CAST.match(raw)
        tok = m.group("lit").strip() if m else raw
        low = tok.lower()
        if low == "null":
            out.append(None)
        elif low in ("true", "false"):
            out.append(low == "true")
        elif re.fullmatch(r"'(?:[^']|'')*'", tok):
            out.append(tok[1:-1].replace("''", "'"))
        elif re.fullmatch(r"[+-]?\d+", tok):
            out.append(int(tok))
        else:
            out.append(float(tok))
    return out


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    """Engine.sql hook: PREPARE/EXECUTE/DEALLOCATE text. EXECUTE
    returns the bound result frame; the utility forms return one-row
    command tags."""
    m = _PREPARE.match(query)
    if m:
        n = engine.prepared.prepare(m.group("name"), m.group("stmt"))
        return status_frame(engine.spark, ("PREPARE", m.group("name").lower(), n), "tag STRING, name STRING, nparams INT",)
    m = _DEALLOCATE.match(query)
    if m:
        name = m.group("name")
        removed = engine.prepared.deallocate(
            None if name.upper() == "ALL" else name
        )
        return status_frame(engine.spark, ("DEALLOCATE", name.lower(), removed), "tag STRING, name STRING, removed INT",)
    m = _EXECUTE.match(query)
    if m and m.group("name").lower() in engine.prepared.stmts:
        return engine.prepared.execute(
            m.group("name"), _parse_args(m.group("args"))
        )
    return None


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "prepared_param_topn",
    """
    WITH a AS (
      SELECT 'F' AS run, o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
    ), b AS (
      SELECT 'O' AS run, o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 250000.0
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
    )
    SELECT run, o_orderkey, o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS o_totalprice
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    ORDER BY run, o_totalprice DESC, o_orderkey
    """,
)
def prepared_param_topn(spark, sf_dir):
    """PREPARE once, EXECUTE twice with different bindings
    (prepare.cpp PrepareQuery/ExecuteQuery; prepare.sql's q2/q3 $n
    flow): one parse/translate, two parameterized executions through
    Spark's native typed-literal bind (spark.sql args). The oracle
    inlines both bindings — a hash match proves the $n rewrite, the
    bind typing, and re-execution isolation. Also exercises the
    wrong-arity error and DEALLOCATE-then-reuse error contract. The
    price column rounds through DECIMAL(18,2) then returns as DOUBLE
    per the registry determinism convention (the driver hashes decimal
    representations, not values)."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "PREPARE top_orders(text, float) AS"
        " SELECT o_orderkey, o_orderstatus,"
        " CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice"
        " FROM orders WHERE o_orderstatus = $1 AND o_totalprice > $2"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"
    )
    first = eng.sql("EXECUTE top_orders('F', 150000.0)")
    second = eng.sql("EXECUTE top_orders('O', 250000.0)")
    try:
        eng.prepared.execute("top_orders", ["F"])
        raise AssertionError("wrong arity must raise")
    except ValueError:
        pass
    eng.sql("DEALLOCATE top_orders")
    try:
        eng.prepared.execute("top_orders", ["F", 1.0])
        raise AssertionError("deallocated name must raise")
    except KeyError:
        pass
    from pyspark.sql import functions as F

    out = first.withColumn("run", F.lit("F")).unionByName(
        second.withColumn("run", F.lit("O"))
    )
    return out.select(
        "run",
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    ).orderBy("run", F.col("o_totalprice").desc(), "o_orderkey")
