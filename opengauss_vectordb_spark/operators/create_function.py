"""CREATE FUNCTION ... LANGUAGE SQL through Engine.sql (SURVEY.md §2.10).

The reference declares SQL-language functions with the PostgreSQL shape
(commands/functioncmds.cpp CreateFunction; used throughout contrib, e.g.
contrib/earthdistance/earthdistance--1.0.sql:5-11):

    CREATE FUNCTION name(arg type, ...) RETURNS type
    AS 'SELECT <expr over args or $N>' LANGUAGE SQL [IMMUTABLE] [STRICT];

Spark 4 has native SQL UDFs (``CREATE FUNCTION ... RETURN expr``), so
the port is a syntax-level translation, not an execution engine:

* PG parameter / return types map to Spark types (int4→INT, float8→
  DOUBLE, text→STRING, numeric→DECIMAL(38,18), vector→ARRAY<DOUBLE>);
* the dollar- or single-quoted SQL body becomes the RETURN expression —
  a body that is itself a SELECT is wrapped as a scalar subquery, which
  Spark inlines, so both ``SELECT a+b`` and correlated
  ``SELECT ... FROM t WHERE ...`` bodies work;
* positional ``$N`` references are substituted with the declared
  parameter names (PG SQL functions predate named-arg references);
* STRICT (RETURNS NULL ON NULL INPUT, pg_proc.proisstrict) is spelled
  as an explicit null-propagation CASE around the body;
* IMMUTABLE/STABLE/VOLATILE are accepted and dropped — Catalyst decides
  foldability from the inlined expression itself.

Because Spark *inlines* SQL-UDF bodies into the calling plan, a routed
function stays inside whole-stage codegen like any other expression —
the same behavior the reference gets from SQL-function inlining in the
planner.  ``RETURNS TABLE(...)`` maps to Spark's table-function form.
``RETURNS SETOF`` has no Spark analogue and raises a clear error.
"""

from __future__ import annotations

import re

from ..sqltext import mask, split_top, strip_comments
from ._util import pin_schema, status_frame

# PG type name → Spark SQL type.  Multi-word PG names are normalized
# before lookup ("double precision" → "double_precision").
_TYPE_MAP = {
    "int2": "SMALLINT", "smallint": "SMALLINT",
    "int": "INT", "int4": "INT", "integer": "INT",
    "int8": "BIGINT", "bigint": "BIGINT",
    "float4": "FLOAT", "real": "FLOAT",
    "float8": "DOUBLE", "double_precision": "DOUBLE", "double": "DOUBLE",
    "numeric": "DECIMAL(38,18)", "decimal": "DECIMAL(38,18)",
    "text": "STRING", "varchar": "STRING", "char": "STRING",
    "character_varying": "STRING", "bpchar": "STRING", "name": "STRING",
    "bool": "BOOLEAN", "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP", "timestamptz": "TIMESTAMP",
    "bytea": "BINARY",
    "vector": "ARRAY<DOUBLE>",  # datavec--0.7.2.sql type, engine model
}

_CREATE_FN = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>\w+)\s*"
    # non-greedy up to the ')' directly before RETURNS so parameter
    # lists with parenthesized types — numeric(10,2) — parse
    # (parse_params splits only the top-level commas)
    r"\((?P<params>.*?)\)\s*"
    r"RETURNS\s+(?P<ret>SETOF\s+\w+|TABLE\s*\((?P<tcols>[^)]*)\)|"
    r"\w+(?:\s+\w+)?(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
    r"(?:\s*\[\s*\])?)\s+"
    r"AS\s+(?P<body>\$(?P<tag>\w*)\$.*?\$(?P=tag)\$|'(?:[^']|'')*')\s+"
    r"LANGUAGE\s+SQL(?P<flags>(?:\s+\w+(?:\s+\w+)*)?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_ALTER_FN = re.compile(
    r"^\s*ALTER\s+FUNCTION\s+(?P<name>\w+)\s*(?:\([^)]*\)\s*)?"
    r"(?P<action>RENAME\s+TO\s+\w+|OWNER\s+TO\s+\w+|SET\s+.+|RESET\s+.+"
    r"|(?:IMMUTABLE|STABLE|VOLATILE|STRICT|CALLED\s+ON\s+NULL\s+INPUT"
    r"|RETURNS\s+NULL\s+ON\s+NULL\s+INPUT|(?:NOT\s+)?LEAKPROOF"
    r"|SECURITY\s+(?:DEFINER|INVOKER)|COST\s+\d+|ROWS\s+\d+"
    r"|(?:NOT\s+)?SHIPPABLE)(?:\s+\w+)*)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FN = re.compile(
    r"^\s*DROP\s+FUNCTION\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"(?:\s*\([^)]*\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _map_type(pg_type: str) -> str:
    t = pg_type.strip()
    # PG array types: '<base>[]' → ARRAY<base> (datavec's
    # double precision[] accumulator states)
    am = re.match(r"^(.*?)\s*\[\s*\]$", t)
    if am:
        return f"ARRAY<{_map_type(am.group(1))}>"
    key = re.sub(r"\s+", "_", t.lower())
    base = re.match(r"^([a-z_0-9]+)", key)
    mapped = _TYPE_MAP.get(key) or (base and _TYPE_MAP.get(base.group(1)))
    if mapped:
        # preserve explicit decimal(p,s) over the default 38,18
        prec = re.search(r"\(\s*\d+(?:\s*,\s*\d+)?\s*\)$", pg_type.strip())
        if prec and mapped.startswith("DECIMAL"):
            return "DECIMAL" + re.sub(r"\s+", "", prec.group(0))
        return mapped
    return pg_type.strip().upper()  # already a Spark type name


def parse_params(params: str) -> list[tuple[str, str]]:
    """'name type, ...' → [(name, type)]; an unnamed parameter (PG
    allows bare types) is named argN."""
    parsed = []
    for i, p in enumerate(split_top(params)):
        toks = p.split(None, 1)
        if len(toks) == 1:
            parsed.append((f"arg{i + 1}", toks[0]))
        else:
            parsed.append((toks[0], toks[1]))
    return parsed


def _unquote_body(body: str, tag: str | None) -> str:
    if body.startswith("$"):
        open_q = f"${tag or ''}$"
        return body[len(open_q):-len(open_q)].strip()
    return body[1:-1].replace("''", "'").strip()


def translate_create_function(query: str) -> str | None:
    """PG CREATE FUNCTION ... LANGUAGE SQL → Spark SQL-UDF DDL text.

    Returns None when the text is not that statement shape.
    """
    m = _CREATE_FN.match(query)
    if m is None:
        return None
    ret = m.group("ret").strip()
    if re.match(r"^SETOF\b", ret, re.IGNORECASE):
        raise NotImplementedError(
            "RETURNS SETOF <type> has no Spark SQL-UDF analogue; declare "
            "RETURNS TABLE(col type, ...) instead"
        )
    name = m.group("name").lower()
    params = parse_params(m.group("params"))
    body = _unquote_body(m.group("body"), m.group("tag")).rstrip(";").strip()
    # PG SQL functions execute a statement LIST and return the last
    # statement's result, discarding the earlier ones
    # (functions.cpp init_sql_fcache → postquel_execute over the list).
    # Spark inlines one RETURN expression, so: earlier statements must
    # be side-effect-free (SELECT/VALUES) — they are planned away per
    # the PG discard rule — and the LAST statement becomes the body.
    # comments may contain ';' — strip them (string-aware) BEFORE the
    # statement split, or a '-- note; caveat' truncates the final
    # statement / misclassifies an earlier one
    stmts = split_top(strip_comments(body), ";")
    if len(stmts) > 1:
        for s in stmts[:-1]:
            if not re.match(r"^(SELECT|VALUES|WITH)\b", s, re.IGNORECASE):
                raise NotImplementedError(
                    "multi-statement SQL function bodies may only "
                    "contain side-effect-free statements before the "
                    "final one (got: " + s.split(None, 1)[0].upper() + ")"
                )
        body = stmts[-1]
    # positional $N → declared parameter names (earthdistance--1.0.sql:6)
    def _sub_pos(mt: re.Match) -> str:
        i = int(mt.group(1))
        if not 1 <= i <= len(params):
            raise ValueError(f"${i} out of range for {len(params)} params")
        return params[i - 1][0]

    body = re.sub(r"\$(\d+)", _sub_pos, body)
    flags = (m.group("flags") or "").upper().split()
    strict = "STRICT" in flags or (
        "RETURNS" in flags and "NULL" in flags  # RETURNS NULL ON NULL INPUT
    )
    spark_params = ", ".join(
        f"{pname} {_map_type(ptype)}" for pname, ptype in params
    )
    tcols = m.group("tcols")
    if tcols is not None:
        spark_cols = ", ".join(
            f"{cn} {_map_type(ct)}" for cn, ct in parse_params(tcols)
        )
        return (
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({spark_params}) "
            f"RETURNS TABLE({spark_cols}) RETURN {body}"
        )
    ret_type = _map_type(ret)
    expr = f"({body})" if re.match(r"^SELECT\b", body, re.IGNORECASE) else body
    if strict and params:
        null_guard = " OR ".join(f"{p} IS NULL" for p, _ in params)
        expr = f"CASE WHEN {null_guard} THEN NULL ELSE {expr} END"
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({spark_params}) "
        f"RETURNS {ret_type} RETURN {expr}"
    )


def sql_function_spec(query: str) -> dict | None:
    """The inlinable pieces of a scalar SQL-language function —
    (name, parameter names, UNGUARDED return expression with $N
    substituted, strict flag).  CREATE AGGREGATE composes these into
    an ``aggregate()`` fold lambda (operators/create_aggregate.py);
    the strict guard is deliberately NOT baked in because PG's
    strict-TRANSITION rule (skip null inputs, adopt the first value
    into a null state — nodeAgg.cpp advance_transition_function)
    differs from strict-scalar null propagation."""
    m = _CREATE_FN.match(query)
    if m is None or m.group("tcols") is not None:
        return None
    if re.match(r"^SETOF\b", m.group("ret").strip(), re.IGNORECASE):
        return None
    params = parse_params(m.group("params"))
    body = _unquote_body(m.group("body"), m.group("tag")).rstrip(";").strip()
    stmts = split_top(strip_comments(body), ";")
    body = stmts[-1]

    def _sub_pos(mt: re.Match) -> str:
        i = int(mt.group(1))
        if not 1 <= i <= len(params):
            raise ValueError(f"${i} out of range for {len(params)} params")
        return params[i - 1][0]

    body = re.sub(r"\$(\d+)", _sub_pos, body)
    flags = (m.group("flags") or "").upper().split()
    strict = "STRICT" in flags or (
        "RETURNS" in flags and "NULL" in flags
    )
    # a lambda cannot host a subquery, so the inlinable form strips
    # the bare-SELECT wrapper; a body that actually reads a relation
    # (FROM/WHERE) is marked — CREATE AGGREGATE refuses it by name
    sel = re.match(r"^SELECT\s+(?P<e>.*)$", body,
                   re.IGNORECASE | re.DOTALL)
    subquery = bool(
        sel is None
        or re.search(r"\bFROM\b", mask(sel.group("e")), re.IGNORECASE)
    )
    return {
        "name": m.group("name").lower(),
        "params": [pname.lower() for pname, _ in params],
        "types": [ptype.strip().lower() for _, ptype in params],
        "expr": f"({body})" if subquery else f"({sel.group('e')})",
        "subquery": subquery,
        "strict": strict,
    }


from ..registry import query as _register


@_register(
    "create_function_sql",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
           CAST(SUM(CAST(l_extendedprice * l_tax
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_tax,
           TRUE AS strict_null_ok
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def create_function_sql(spark, sf_dir):
    """CREATE FUNCTION ... LANGUAGE SQL end-to-end
    (commands/functioncmds.cpp; the contrib idiom, e.g.
    contrib/earthdistance/earthdistance--1.0.sql:5-11): one STRICT
    IMMUTABLE function declared with positional $N references and a
    single-quoted body, one declared with named parameters and a
    dollar-quoted body, both used inside an aggregation over lineitem,
    then DROPped.  The STRICT null-propagation contract is pinned by a
    literal-NULL call per group.

    Scale: Spark inlines SQL-UDF bodies into the calling plan, so both
    functions compile into the same whole-stage-codegen'd expressions
    the oracle's inlined arithmetic spells — zero UDF overhead, one
    scan, one partial/final aggregate exchange."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "CREATE FUNCTION gate_disc_price(float8, float8) RETURNS float8"
        " AS 'SELECT $1 * (1.0 - $2)' LANGUAGE SQL IMMUTABLE STRICT"
    )
    eng.sql(
        "CREATE OR REPLACE FUNCTION gate_tax_amount"
        "(p double precision, t double precision)"
        " RETURNS double precision AS $$ SELECT p * t $$ LANGUAGE SQL"
    )
    out = eng.sql(
        "SELECT l_returnflag,"
        " COUNT(*) AS n,"
        " CAST(SUM(CAST(gate_disc_price(l_extendedprice, l_discount)"
        "   AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,"
        " CAST(SUM(CAST(gate_tax_amount(l_extendedprice, l_tax)"
        "   AS DECIMAL(18,6))) AS DOUBLE) AS sum_tax,"
        " gate_disc_price(CAST(NULL AS DOUBLE), MIN(l_discount)) IS NULL"
        "   AS strict_null_ok"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    eng.sql("DROP FUNCTION gate_disc_price")
    eng.sql("DROP FUNCTION IF EXISTS gate_tax_amount(float8, float8)")
    if eng.sql_functions:
        raise AssertionError("DROP FUNCTION left registry entries behind")
    return pin_schema(
        out,
        "l_returnflag STRING, n BIGINT, sum_disc DOUBLE, sum_tax DOUBLE,"
        " strict_null_ok BOOLEAN",
    )


def try_handle_stmt(engine, query: str):
    """Engine.sql hook: CREATE FUNCTION / DROP FUNCTION routing."""
    spark_ddl = translate_create_function(query)
    if spark_ddl is not None:
        spark = engine.spark
        spark.sql(spark_ddl)
        name = _CREATE_FN.match(query).group("name").lower()
        engine.sql_functions[name] = spark_ddl
        # stash the inlinable spec for CREATE AGGREGATE composition
        spec = sql_function_spec(query)
        if spec is not None:
            engine.sql_fn_specs[name] = spec
        return status_frame(spark, ("CREATE FUNCTION", name), "tag STRING, function STRING")
    m = _ALTER_FN.match(query)
    if m:
        name = m.group("name").lower()
        action = m.group("action").strip()
        known = (name in engine.sql_functions
                 or name in engine.plfn_interpreted)
        if not known:
            raise KeyError(f"ALTER FUNCTION: {name!r} does not exist")
        rn = re.match(r"RENAME\s+TO\s+(?P<new>\w+)\s*;?\s*$", action,
                      re.IGNORECASE)
        if rn:
            new = rn.group("new").lower()
            ddl = engine.sql_functions.get(name)
            if ddl is not None and ddl.startswith("CREATE"):
                # recreate the session function under the new name
                # from the stored DDL (functioncmds.cpp RenameFunction
                # is a catalog update; here the catalog IS the DDL)
                new_ddl = ddl.replace(f" {name}(", f" {new}(", 1)
                engine.spark.sql(new_ddl)
                engine.spark.sql(
                    f"DROP TEMPORARY FUNCTION IF EXISTS {name}"
                )
                # store the REWRITTEN text — keeping the old text
                # under the new key would make a second RENAME no-op
                # its .replace and re-execute the stale CREATE,
                # resurrecting the original name
                engine.sql_functions[new] = new_ddl
                engine.sql_functions.pop(name)
                specs = engine.sql_fn_specs
                if name in specs:
                    specs[new] = specs.pop(name)
            elif name in engine.plfn_interpreted:
                engine.plfn_interpreted[new] = \
                    engine.plfn_interpreted.pop(name)
                old_txt = engine.sql_functions.pop(name)
                engine.sql_functions[new] = (
                    old_txt.replace(f" {name}(", f" {new}(", 1)
                    if isinstance(old_txt, str) else old_txt
                )
            else:
                raise NotImplementedError(
                    "ALTER FUNCTION RENAME on a plpython function: "
                    "re-run its CREATE FUNCTION under the new name"
                )
            return status_frame(
                engine.spark, ("ALTER FUNCTION", name, f"RENAME TO {new}"),
                "tag STRING, function STRING, action STRING",
            )
        # OWNER TO / SET / RESET / volatility / STRICT / LEAKPROOF /
        # SECURITY / COST / ROWS — auth and planner metadata
        # (functioncmds.cpp AlterFunction); no engine state changes
        # (volatility is decided by Catalyst from the inlined body)
        return status_frame(
            engine.spark, ("ALTER FUNCTION", name, "metadata no-op"),
            "tag STRING, function STRING, action STRING",
        )
    m = _DROP_FN.match(query)
    interp = engine.plfn_interpreted
    if m and (m.group("name").lower() in engine.sql_functions
              or m.group("name").lower() in interp
              or re.search(r"IF\s+EXISTS", query, re.IGNORECASE)):
        name = m.group("name").lower()
        existed = engine.sql_functions.pop(name, None) is not None
        existed = interp.pop(name, None) is not None or existed
        engine.sql_fn_specs.pop(name, None)
        engine.plpython_setof.discard(name)
        engine.plpython_setof_composite.discard(name)
        engine.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        return status_frame(engine.spark, ("DROP FUNCTION", name, existed), "tag STRING, function STRING, existed BOOLEAN",)
    return None
