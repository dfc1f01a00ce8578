"""PL/SQL PACKAGEs — ``CREATE PACKAGE`` / ``CREATE PACKAGE BODY`` /
``DROP PACKAGE`` and ``pkg.member(...)`` call sites.

Reference: the package objects of the PL runtime
(``src/common/pl/plpgsql/src/pl_package.cpp``; regress
``hw_package*.sql`` — spec + body, member functions/procedures,
``pkg.fn(x)`` invocation).  Spark-first mapping: a package is a
NAMESPACE, not an execution construct — each member compiles through
the existing LANGUAGE-plpgsql path (operators/plpgsql.py: declarative
bodies → one inlined SQL expression, so a member call costs exactly
its inlined expression inside whole-stage codegen) under the mangled
session name ``<pkg>__<member>``, and the engine rewrites
``pkg.member(`` call sites to the mangled name before planning.
Member PROCEDUREs route to the CREATE PROCEDURE runner the same way,
so ``CALL pkg.proc(...)`` works.

Package VARIABLES (``pl_global_package_runtime_cache.cpp:17``;
regress ``hw_package_variable.sql``) are SESSION-scoped typed
bindings on the engine: declared in the spec (public) or before the
first member of the body (private), initialized at CREATE time,
read anywhere as ``pkg.var`` (substituted as a typed literal at the
top of ``Engine.sql`` — the plan is still pure; the binding is
resolved per STATEMENT, which is exactly the reference's
read-committed view of session state), and written with a top-level
``pkg.var := <expr>;`` statement.  Members whose bodies read
``pkg.var`` are recompiled from their stored source on every write,
so a member call always sees the current value — the runtime cache
lookup becomes a recompile-on-write, amortized to zero on the read
path (the value is inlined into whole-stage codegen).  Bare
(unqualified) variable references inside member bodies are NOT
resolved — they parse as columns; use the qualified ``pkg.var``
form (plpgsql's own shadowing rules make bare-name resolution
ambiguous under textual compilation).  Variables are engine-session
state: a new Engine starts from the declared initializers, matching
the reference's per-session package instantiation.

Deliberately refused (clear errors, reference file named):
EXCEPTION declarations (error control flow), member OVERLOADS (one
Spark function name per member), and writes to CONSTANT variables.
"""

from __future__ import annotations

import re

from ..sqltext import mask
from ._util import pin_schema, status_frame

_CREATE_PKG = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PACKAGE\s+(?!BODY\b)"
    r"(?P<name>\w+)\s+(?:IS|AS)\s+(?P<decls>.*?)"
    r"END(?:\s+(?P=name))?\s*;?\s*/?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_PKG_BODY = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PACKAGE\s+BODY\s+"
    r"(?P<name>\w+)\s+(?:IS|AS)\s+(?P<body>.*?)"
    r"END(?:\s+(?P=name))?\s*;?\s*/?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_PKG = re.compile(
    r"^\s*DROP\s+PACKAGE\s+(?:BODY\s+)?(?:IF\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_MEMBER_HEAD = re.compile(
    r"\b(?P<kind>FUNCTION|PROCEDURE)\s+(?P<name>\w+)", re.IGNORECASE
)
_MEMBER_SIG = re.compile(
    r"^(?P<kind>FUNCTION|PROCEDURE)\s+(?P<name>\w+)\s*"
    r"(?:\((?P<params>.*?)\))?\s*"
    r"(?:RETURNS?\s+(?P<ret>\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+)?"
    r"(?:IS|AS)\s+(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_VARIABLE_DECL = re.compile(
    r"^\s*(?P<name>\w+)\s+(?!FUNCTION|PROCEDURE|EXCEPTION)\w+",
    re.IGNORECASE,
)

# block openers/closers for scanning one member's extent — END IF /
# END LOOP / END CASE close their own opener; a bare END closes BEGIN
_BLOCK_TOKEN = re.compile(
    r"\b(END\s+IF|END\s+LOOP|END\s+CASE|BEGIN|IF|LOOP|CASE|END)\b",
    re.IGNORECASE,
)


def _member_extent(masked: str, start: int) -> int:
    """Index just past the ``;`` that terminates the member whose
    header starts at ``start`` (block-depth aware: the member ends at
    the END that returns depth to zero)."""
    depth = 0
    seen_begin = False
    for m in _BLOCK_TOKEN.finditer(masked, start):
        tok = re.sub(r"\s+", " ", m.group(1).upper())
        if tok in ("BEGIN", "IF", "LOOP", "CASE"):
            depth += 1
            seen_begin = True
        else:  # one of the END forms
            depth -= 1
            if seen_begin and depth == 0:
                semi = masked.find(";", m.end())
                return len(masked) if semi < 0 else semi + 1
    raise ValueError("package member has no terminating END;")


def _split_members(body: str) -> tuple[list[dict], list[str]]:
    """Split a package body into (private variable declarations that
    precede the first member, member sources).  Content BETWEEN
    members still refuses — PL/SQL puts private state only in the
    body's declaration section."""
    masked = mask(body)
    out: list[str] = []
    variables: list[dict] = []
    pos = 0
    first = True
    while True:
        m = _MEMBER_HEAD.search(masked, pos)
        if m is None:
            tail = body[pos:].strip().strip(";").strip()
            if tail:
                raise NotImplementedError(
                    "package body holds non-member content after its "
                    f"members ({tail[:40]!r}) — only FUNCTION/"
                    "PROCEDURE members and leading variable "
                    "declarations are supported"
                )
            return variables, out
        lead = body[pos:m.start()].strip()
        if lead:
            if not first:
                raise NotImplementedError(
                    "package body holds content between members "
                    f"({lead[:40]!r}) — declare private variables "
                    "before the first member"
                )
            for part in lead.split(";"):
                part = part.strip()
                if not part:
                    continue
                mv = _VAR_DECL.match(part)
                if mv is None:
                    raise NotImplementedError(
                        "package body holds non-member content "
                        f"({part[:40]!r})"
                    )
                variables.append({
                    "name": mv.group("name").lower(),
                    "type": mv.group("type"),
                    "init": (mv.group("init") or "").strip() or None,
                    "constant": bool(mv.group("const")),
                })
        first = False
        end = _member_extent(masked, m.start())
        out.append(body[m.start():end].rstrip().rstrip(";"))
        pos = end


# variable declaration inside a spec (or before the body's first
# member): name [CONSTANT] type [:= init | DEFAULT init]
_VAR_DECL = re.compile(
    r"^(?P<name>\w+)\s+(?P<const>CONSTANT\s+)?"
    r"(?P<type>\w+(?:\s+\w+)?(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s*(?::=|\bDEFAULT\b)\s*(?P<init>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_spec_decls(
    pkg: str, decls: str
) -> tuple[list[str], list[dict]]:
    """Member names + variable declarations from the spec; refuses
    overloads and exceptions."""
    masked = mask(decls)
    if re.search(r"\bEXCEPTION\b", masked, re.IGNORECASE):
        raise NotImplementedError(
            "package EXCEPTION declarations are error control flow "
            "(pl_package.cpp) — raise from the caller instead"
        )
    names: list[str] = []
    variables: list[dict] = []
    pos = 0
    for entry_m in re.finditer(r"[^;]+", masked):
        entry = entry_m.group(0).strip()
        pos = entry_m.start()
        if not entry:
            continue
        m = _MEMBER_HEAD.match(entry)
        if m is not None:
            names.append(m.group("name").lower())
            continue
        raw = decls[pos:pos + len(entry_m.group(0))].strip()
        mv = _VAR_DECL.match(raw)
        if mv is None:
            raise NotImplementedError(
                f"package spec declares unrecognized content "
                f"({entry[:40]!r})"
            )
        variables.append({
            "name": mv.group("name").lower(),
            "type": mv.group("type"),
            "init": (mv.group("init") or "").strip() or None,
            "constant": bool(mv.group("const")),
        })
    if len(set(names)) != len(names):
        raise NotImplementedError(
            "package member OVERLOADS cannot map to one Spark "
            f"function name: {names}"
        )
    return names, variables


def mangle(pkg: str, member: str) -> str:
    return f"{pkg.lower()}__{member.lower()}"


# ------------------------------------------------------- session variables

import datetime as _dt  # noqa: E402
import decimal as _decimal  # noqa: E402


def _render_literal(value, spark_type: str) -> str:
    """Render a stored Python value as a typed SQL literal — the form
    every ``pkg.var`` read substitutes to."""
    if value is None:
        return f"CAST(NULL AS {spark_type})"
    if isinstance(value, bool):
        lit = "TRUE" if value else "FALSE"
    elif isinstance(value, str):
        lit = "'" + value.replace("'", "''") + "'"
    elif isinstance(value, (int, float, _decimal.Decimal)):
        lit = f"'{value}'" if isinstance(value, float) and not (
            float("-inf") < value < float("inf")
        ) else repr(value) if isinstance(value, (int, float)) \
            else str(value)
    elif isinstance(value, _dt.datetime):
        lit = f"TIMESTAMP '{value}'"
    elif isinstance(value, _dt.date):
        lit = f"DATE '{value}'"
    else:
        raise NotImplementedError(
            f"package variable holds unrenderable Python type "
            f"{type(value).__name__}"
        )
    return f"CAST({lit} AS {spark_type})"


def _install_vars(engine, pkg: str, decls: list[dict]) -> None:
    """Evaluate initializers sequentially (later inits may read
    earlier variables) and register the bindings."""
    from .create_function import _map_type

    store = engine.packages[pkg]["variables"]
    for d in decls:
        t = _map_type(d["type"])
        if d["init"] is None:
            if d["constant"]:
                raise ValueError(
                    f"package CONSTANT {pkg}.{d['name']} needs an "
                    "initializer"
                )
            value = None
        else:
            expr = substitute_var_reads(engine, d["init"])
            value = engine.sql(
                # inline-VALUES anchor folds the literal projection to
                # a LocalRelation — no job per initializer (_util
                # status_frame convention)
                f"SELECT CAST(({expr}) AS {t}) AS v"
                " FROM VALUES (0) AS __onerow(__z)"
            ).collect()[0][0]
        store[d["name"]] = {
            "type": t, "value": value, "constant": d["constant"],
        }


_PKG_DDL_RE = re.compile(
    r"^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?|DROP\s+)PACKAGE\b",
    re.IGNORECASE,
)
_ASSIGN_RE = re.compile(
    r"^\s*(?P<pkg>\w+)\.(?P<var>\w+)\s*:=\s*(?P<rhs>.+?)\s*;?\s*$",
    re.DOTALL,
)


def substitute_var_reads(engine, query: str) -> str:
    """``pkg.var`` reads → the binding's typed literal (identity when
    no package declares variables).  Skips CREATE/DROP PACKAGE
    statements (their declarations are parsed raw), assignment LHS
    (``pkg.var :=`` keeps its name), member calls (``pkg.member(``
    belongs to rewrite_member_calls), and occurrences inside string
    literals (string-masked matching)."""
    pkgs = engine.packages
    if not pkgs or not any(p.get("variables") for p in pkgs.values()):
        return query
    if _PKG_DDL_RE.match(query):
        return query
    for pkg, meta in pkgs.items():
        for vname, binding in meta.get("variables", {}).items():
            pat = re.compile(
                rf"(?<!\.)\b{re.escape(pkg)}\.{re.escape(vname)}\b"
                rf"(?!\s*\()(?!\s*:=)",
                re.IGNORECASE,
            )
            pos = 0
            while True:
                m = pat.search(mask(query), pos)
                if m is None:
                    break
                rep = f"({_render_literal(binding['value'], binding['type'])})"
                query = query[:m.start()] + rep + query[m.end():]
                pos = m.start() + len(rep)
    return query


def _try_assignment(engine, query: str):
    """Top-level ``pkg.var := <expr>;`` — evaluate, bind, recompile
    the members that read this package's variables so every later
    call sees the new value (pl_global_package_runtime_cache.cpp's
    per-session write path)."""
    m = _ASSIGN_RE.match(query)
    if m is None:
        return None
    pkg = m.group("pkg").lower()
    meta = engine.packages.get(pkg)
    if meta is None:
        return None  # not a package — let downstream handlers judge
    vname = m.group("var").lower()
    binding = meta.get("variables", {}).get(vname)
    if binding is None:
        raise KeyError(
            f"package {pkg!r} declares no variable {vname!r}"
        )
    if binding["constant"]:
        raise ValueError(
            f"package variable {pkg}.{vname} is CONSTANT"
        )
    t = binding["type"]
    value = engine.sql(
        f"SELECT CAST(({m.group('rhs')}) AS {t}) AS v"
        " FROM VALUES (0) AS __onerow(__z)"
    ).collect()[0][0]
    binding["value"] = value
    # recompile members whose source reads this package's state: the
    # stored DDL still says pkg.var, so re-issuing it through
    # Engine.sql re-substitutes the fresh binding
    pat = re.compile(rf"\b{re.escape(pkg)}\.\w+", re.IGNORECASE)
    for ddl in meta.get("member_ddl", []):
        if pat.search(ddl):
            engine.sql(ddl)
    return status_frame(engine.spark, (f"{pkg}.{vname}", str(value)), "variable STRING, value STRING",)


def try_handle_stmt(engine, query: str):
    """Engine.sql hook for CREATE PACKAGE [BODY] / DROP PACKAGE."""
    handled = _try_assignment(engine, query)
    if handled is not None:
        return handled
    m = _CREATE_PKG.match(query)
    if m:
        pkg = m.group("name").lower()
        names, var_decls = _parse_spec_decls(pkg, m.group("decls"))
        engine.packages[pkg] = {
            "declared": names, "members": {},
            "variables": {}, "member_ddl": [],
        }
        _install_vars(engine, pkg, var_decls)
        return status_frame(engine.spark, ("CREATE PACKAGE", pkg, len(names)), "tag STRING, package STRING, declared INT",)
    m = _CREATE_PKG_BODY.match(query)
    if m:
        pkg = m.group("name").lower()
        if pkg not in engine.packages:
            raise KeyError(
                f"CREATE PACKAGE BODY: package {pkg!r} has no spec"
            )
        declared = set(engine.packages[pkg]["declared"])
        compiled: dict[str, str] = {}
        private_vars, members = _split_members(m.group("body"))
        _install_vars(engine, pkg, private_vars)
        engine.packages[pkg]["member_ddl"] = []
        for member in members:
            sm = _MEMBER_SIG.match(member)
            if sm is None:
                raise ValueError(
                    f"cannot parse package member: {member[:60]!r}"
                )
            mname = sm.group("name").lower()
            if declared and mname not in declared:
                raise ValueError(
                    f"member {mname!r} is not declared in the "
                    f"package spec of {pkg!r}"
                )
            mangled = mangle(pkg, mname)
            rest = sm.group("rest").strip()
            if sm.group("kind").upper() == "FUNCTION":
                if not sm.group("ret"):
                    raise ValueError(
                        f"package FUNCTION {mname!r} needs RETURN <type>"
                    )
                # PL/SQL 'IS <decls> BEGIN ...' == plpgsql
                # 'DECLARE <decls> BEGIN ...'
                body = rest if re.match(
                    r"^\s*BEGIN\b", rest, re.IGNORECASE
                ) else "DECLARE " + rest
                ddl = (
                    f"CREATE OR REPLACE FUNCTION {mangled}"
                    f"({sm.group('params') or ''}) "
                    f"RETURNS {sm.group('ret')} AS $pkgfn$ {body} "
                    f"$pkgfn$ LANGUAGE plpgsql"
                )
                engine.sql(ddl)
                engine.packages[pkg]["member_ddl"].append(ddl)
                compiled[mname] = "function"
            else:
                ddl = (
                    f"CREATE OR REPLACE PROCEDURE {mangled}"
                    f"({sm.group('params') or ''}) AS $pkgpr$ {rest} "
                    f"$pkgpr$"
                )
                engine.sql(ddl)
                engine.packages[pkg]["member_ddl"].append(ddl)
                compiled[mname] = "procedure"
        engine.packages[pkg]["members"] = compiled
        return status_frame(engine.spark, ("CREATE PACKAGE BODY", pkg, len(compiled)), "tag STRING, package STRING, members INT",)
    m = _DROP_PKG.match(query)
    if m:
        pkg = m.group("name").lower()
        meta = engine.packages.pop(pkg, None)
        if meta is None:
            if re.search(r"IF\s+EXISTS", query, re.IGNORECASE):
                return status_frame(engine.spark, ("DROP PACKAGE", pkg, False), "tag STRING, package STRING, existed BOOLEAN",)
            raise KeyError(f"DROP PACKAGE: {pkg!r} does not exist")
        for mname, kind in meta["members"].items():
            mangled = mangle(pkg, mname)
            try:
                if kind == "function":
                    engine.sql(f"DROP FUNCTION {mangled}")
                else:
                    engine.sql(f"DROP PROCEDURE {mangled}")
            except Exception:  # noqa: BLE001 — already gone is fine
                pass
        return status_frame(engine.spark, ("DROP PACKAGE", pkg, True), "tag STRING, package STRING, existed BOOLEAN",)
    return None


def rewrite_member_calls(engine, query: str) -> str:
    """``pkg.member(`` → ``pkg__member(`` for every compiled member —
    the engine-side resolution pl_package.cpp does at call lookup.
    Identity when no packages exist (zero overhead on the hot path)."""
    pkgs = engine.packages
    if not pkgs:
        return query
    for pkg, meta in pkgs.items():
        for mname in meta["members"]:
            query = re.sub(
                rf"\b{pkg}\.{mname}\s*\(",
                f"{mangle(pkg, mname)}(",
                query,
                flags=re.IGNORECASE,
            )
    return query


# ---------------------------------------------------------------- queries

from pyspark.sql import functions as F  # noqa: E402

from ..registry import query  # noqa: E402


@query(
    "package_member_function",
    """
    SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice * 1.1 AS DECIMAL(18,6)))
                AS DOUBLE) AS bumped_total
    FROM orders
    GROUP BY CASE WHEN o_totalprice >= 200000 THEN 'high'
                  WHEN o_totalprice >= 100000 THEN 'mid'
                  ELSE 'low' END
    ORDER BY tier
    """,
)
def package_member_function(spark, sf_dir):
    """PL/SQL PACKAGE end-to-end (pl_package.cpp; hw_package regress):
    a two-member package — an IF/ELSIF tier classifier and an
    arithmetic bump — compiles through the plpgsql path under mangled
    names; the gate aggregates ``pricing.tier(...)`` /
    ``pricing.bump(...)`` call sites over orders against the oracle's
    hand-inlined CASE arithmetic, proving the member compilation and
    the call-site rewrite are semantically invisible.

    Scale: a member call costs exactly its inlined expression inside
    whole-stage codegen — no UDF boundary, no Python, pinned by
    test_package_spec_body_and_calls."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE OR REPLACE PACKAGE pricing IS
          FUNCTION tier(amt double) RETURN text;
          FUNCTION bump(amt double, pct double) RETURN double;
        END pricing;
    """)
    eng.sql("""
        CREATE OR REPLACE PACKAGE BODY pricing AS
          FUNCTION tier(amt double) RETURN text IS
          BEGIN
            IF amt >= 200000 THEN
              RETURN 'high';
            ELSIF amt >= 100000 THEN
              RETURN 'mid';
            ELSE
              RETURN 'low';
            END IF;
          END;
          FUNCTION bump(amt double, pct double) RETURN double IS
            delta double := amt * pct;
          BEGIN
            RETURN amt + delta;
          END;
        END pricing;
    """)
    out = eng.sql(
        "SELECT pricing.tier(o_totalprice) AS tier,"
        " COUNT(*) AS n,"
        " CAST(SUM(CAST(pricing.bump(o_totalprice, 0.1)"
        "     AS DECIMAL(18,6))) AS DOUBLE) AS bumped_total"
        " FROM orders GROUP BY pricing.tier(o_totalprice)"
        " ORDER BY tier"
    )
    eng.sql("DROP PACKAGE pricing")
    return pin_schema(
        out, "tier STRING, n BIGINT, bumped_total DOUBLE"
    ).orderBy("tier")


@query(
    "package_session_variable",
    """
    SELECT o_orderstatus,
           CAST(COUNT(CASE WHEN o_totalprice >= 150000.0 THEN 1 END)
                AS BIGINT) AS n_above,
           CAST(SUM(CAST(o_totalprice * 0.002 + 7.0
                         AS DECIMAL(18,6))) AS DOUBLE) AS scored
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def package_session_variable(spark, sf_dir):
    """Package session variables end-to-end
    (pl_global_package_runtime_cache.cpp:17; regress
    hw_package_variable.sql): declare spec variables with
    initializers, WRITE them with ``pkg.var := expr`` statements
    (one write reads the old value), then run a query whose filter
    reads ``cfg.threshold`` directly and whose aggregate calls a
    member that reads ``cfg.rate``/``cfg.offset_`` — the oracle
    hand-inlines the POST-WRITE values, so a green row proves the
    write path, the member recompile-on-write, and the read
    substitution all agree.

    Scale: reads cost nothing at runtime — the binding inlines as a
    typed literal into whole-stage codegen before planning; writes
    are driver-side metadata plus a cheap member re-DDL."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE OR REPLACE PACKAGE cfg IS
          threshold double := 100000.0;
          rate double := 0.001;
          offset_ double := 7.0;
          FUNCTION score(amt double) RETURN double;
        END cfg;
    """)
    eng.sql("""
        CREATE OR REPLACE PACKAGE BODY cfg AS
          FUNCTION score(amt double) RETURN double IS
          BEGIN
            RETURN amt * cfg.rate + cfg.offset_;
          END;
        END cfg;
    """)
    eng.sql("cfg.threshold := cfg.threshold + 50000.0;")
    eng.sql("cfg.rate := 0.002;")
    out = eng.sql(
        "SELECT o_orderstatus,"
        " COUNT(CASE WHEN o_totalprice >= cfg.threshold THEN 1 END)"
        "   AS n_above,"
        " CAST(SUM(CAST(cfg.score(o_totalprice) AS DECIMAL(18,6)))"
        "   AS DOUBLE) AS scored"
        " FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    eng.sql("DROP PACKAGE cfg")
    return pin_schema(
        out, "o_orderstatus STRING, n_above BIGINT, scored DOUBLE"
    ).orderBy("o_orderstatus")
