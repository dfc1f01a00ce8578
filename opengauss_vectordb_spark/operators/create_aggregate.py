"""CREATE AGGREGATE — the SQL-transition-function subset (SURVEY §2.10).

The reference defines user aggregates through ``DefineAggregate``
(src/common/backend/catalog/pg_aggregate.cpp): an SFUNC advances an
STYPE state once per input row, an optional FINALFUNC renders the
result, INITCOND seeds the state, and CFUNC (PG: COMBINEFUNC) merges
partial states.  datavec itself declares ``avg(vector)`` /
``sum(vector)`` exactly this way
(contrib/datavec/sql/datavec--0.7.2.sql:116-130).

Spark-first compilation — a SEQUENTIAL transition function is exactly
the fold contract of the ``aggregate()`` higher-order function, so a
call site ``myagg(e1, ..., ek)`` rewrites to::

    final(aggregate(collect_list(named_struct('a1', e1, ...)),
                    <initcond literal>,
                    (acc, x) -> CAST(<sfunc body>[p1→acc, p_{i+1}→x.a_i]
                                     AS <stype>)))

* The ``named_struct`` wrapper keeps NULL inputs in the collected list
  — bare ``collect_list(e)`` silently drops NULLs, but PG feeds them
  to a non-strict sfunc (nodeAgg.cpp advance_transition_function).
* A STRICT sfunc compiles PG's strict-TRANSITION rule, which differs
  from strict-scalar null propagation: a NULL input keeps the current
  state, and a NULL state adopts the first input value when STYPE
  equals the input type (executor/nodeAgg.cpp:initialize_aggregate's
  transValue seeding).  So the fold stays correct for ``max``-like
  aggregates declared with no INITCOND.
* An empty group folds the bare INITCOND through FINALFUNC — PG's rule
  — and NULL INITCOND yields NULL, the agg-over-zero-rows contract.

Scale: ``collect_list`` partial-aggregates map-side and the fold runs
JVM-side inside codegen, but the state is O(group) DURING the fold —
the honest cost of an opaque sequential transition (the reference pays
the same serial per-group sfunc loop in nodeAgg.cpp).  Aggregates whose
transition is associative should use the built-in SQL aggregates or
higher-order ``aggregate()`` directly; C-language transition functions
refuse (there is no JVM analogue to load a C sfunc into).
"""

from __future__ import annotations

import re

from ..sqltext import close_paren, mask, split_top, top_level
from .create_function import _map_type
from ._util import pin_schema, status_frame

_CREATE_AGG_HEAD = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?AGGREGATE\s+(?P<name>\w+)\s*\(",
    re.IGNORECASE,
)

_DROP_AGG = re.compile(
    r"^\s*DROP\s+AGGREGATE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"(?:\([^)]*\))?\s*;?\s*$",
    re.IGNORECASE,
)


def _stype_spark(pg_type: str) -> str:
    """STYPE → Spark type ('<base>[]' array states — the datavec
    avg(vector) shape — handled by _map_type)."""
    return _map_type(pg_type)


def _initcond_expr(lit: str, stype_spark: str) -> str:
    """INITCOND text (pg_aggregate.agginitval, stored as the TYPED
    INPUT representation) → a Spark literal of the state type."""
    v = lit.strip()
    if v.startswith("'") and v.endswith("'"):
        v = v[1:-1].replace("''", "'")
    am = re.fullmatch(r"\{(.*)\}", v.strip())
    if am is not None and stype_spark.upper().startswith("ARRAY<"):
        elem = stype_spark[6:-1]
        els = [e.strip() for e in am.group(1).split(",") if e.strip()]
        inner = ", ".join(f"CAST({e} AS {elem})" for e in els)
        return f"array({inner})"
    if re.fullmatch(r"-?\d+(\.\d+)?", v):
        return f"CAST({v} AS {stype_spark})"
    return f"CAST('{v.replace(chr(39), chr(39) * 2)}' AS {stype_spark})"


def _subst_params(expr: str, mapping: dict[str, str]) -> str:
    """Whole-word parameter-name → replacement, outside literals (the
    stored spec expr carries no string literals of concern, but a
    body CAN quote a param name — mask first)."""
    out = expr
    for pname, rep in mapping.items():
        pat = re.compile(rf"(?<![\w.])\b{re.escape(pname)}\b",
                         re.IGNORECASE)
        pos = 0
        while True:
            m = pat.search(mask(out), pos)
            if m is None:
                break
            out = out[:m.start()] + rep + out[m.end():]
            pos = m.start() + len(rep)
    return out


def _resolve_fn(engine, fname: str, n_args: int, role: str) -> dict:
    """SFUNC/FINALFUNC name → {'expr', 'params', 'strict'} — either a
    registered SQL-language function's spec, or a pass-through call to
    a built-in (quoted verbatim into the lambda).  C-language
    transitions have nothing to inline and refuse by name."""
    spec = engine.sql_fn_specs.get(fname.lower())
    if spec is not None:
        if spec.get("subquery"):
            raise NotImplementedError(
                f"CREATE AGGREGATE: {role} {fname} reads a relation "
                "(FROM in its body) — a fold lambda cannot host a "
                "subquery; express the transition as a pure "
                "expression over its parameters"
            )
        if len(spec["params"]) != n_args:
            raise ValueError(
                f"{role} {fname}: takes {len(spec['params'])} "
                f"parameter(s), aggregate supplies {n_args}"
            )
        return spec
    if fname.lower() in engine.sql_functions or \
            fname.lower() in engine.plfn_interpreted:
        raise NotImplementedError(
            f"CREATE AGGREGATE: {role} {fname} is not an inlinable "
            "scalar SQL function — declare the transition with CREATE "
            "FUNCTION ... LANGUAGE SQL (single RETURN expression)"
        )
    # a bare built-in name (PG: C-language catalog functions like
    # int4larger; Spark: any built-in) — call it positionally.
    # Marked STRICT: PG's catalog transition functions (int4pl,
    # int4larger, float8pl, ...) are strict, so an aggregate declared
    # over one with no INITCOND must seed from the first input and
    # skip nulls — compiling non-strict would fold NULL through a
    # null-propagating builtin and silently return NULL per group
    params = [f"__bp{i}" for i in range(n_args)]
    return {
        "params": params,
        "expr": f"{fname}({', '.join(params)})",
        "strict": True,
        "builtin": True,
    }


def _parse_create_agg(query: str):
    """(name, args_text, opts_text) or None — paren-aware so types
    like decimal(18,6) and '{0,0}' INITCONDs parse in both the modern
    two-group form ``name(types)(opts)`` and the pre-8.2 one-group
    form ``name(BASETYPE=..., SFUNC=..., ...)``."""
    m = _CREATE_AGG_HEAD.match(query)
    if m is None:
        return None
    op1 = m.end() - 1
    cl1 = close_paren(query, op1)
    if cl1 < 0:
        return None
    rest = query[cl1 + 1:].strip().rstrip(";").strip()
    if not rest:
        # one paren group: the old syntax — everything is options
        return m.group("name").lower(), "", query[op1 + 1:cl1]
    if not rest.startswith("("):
        return None
    cl2 = close_paren(rest, 0)
    if cl2 != len(rest) - 1:
        return None
    return (m.group("name").lower(), query[op1 + 1:cl1],
            rest[1:cl2])


def _create_aggregate(engine, parsed):
    name, args_text, opts_text = parsed
    opts: dict[str, str] = {}
    for part in split_top(opts_text):
        if "=" not in part:
            raise ValueError(f"CREATE AGGREGATE: bad option {part!r}")
        k, v = part.split("=", 1)
        opts[k.strip().lower()] = v.strip()
    in_types = split_top(args_text)
    if not in_types and "basetype" in opts:
        # the pre-8.2 spelling: CREATE AGGREGATE name (BASETYPE=..., ...)
        in_types = [opts["basetype"]]
    if "sfunc" not in opts or "stype" not in opts:
        raise ValueError("CREATE AGGREGATE requires SFUNC and STYPE")
    k = max(len(in_types), 1)
    stype = _stype_spark(opts["stype"])
    sfunc = _resolve_fn(engine, opts["sfunc"], k + 1, "SFUNC")
    final = None
    if opts.get("finalfunc"):
        final = _resolve_fn(engine, opts["finalfunc"], 1, "FINALFUNC")
    init = None
    if "initcond" in opts:
        init = _initcond_expr(opts["initcond"], stype)
    if init is None and sfunc.get("strict"):
        # PG: strict sfunc + null initcond is only legal when the
        # state type equals the (single) input type — the first
        # non-null input seeds the state (DefineAggregate's check)
        if k != 1 or _map_type(in_types[0]) != stype:
            raise ValueError(
                "CREATE AGGREGATE: a STRICT SFUNC with no INITCOND "
                "requires STYPE = input type (the first input seeds "
                "the state)"
            )
    # compose the fold pieces NOW (resolution is CREATE-time, PG's
    # rule — later DROP FUNCTION does not unbind the aggregate)
    ps = sfunc["params"]
    step = _subst_params(
        sfunc["expr"],
        {ps[0]: "__agg_acc",
         **{ps[i + 1]: f"__agg_x.a{i + 1}" for i in range(k)}},
    )
    if sfunc.get("strict"):
        null_any = " OR ".join(
            f"__agg_x.a{i + 1} IS NULL" for i in range(k)
        )
        adopt = ("WHEN __agg_acc IS NULL THEN "
                 f"CAST(__agg_x.a1 AS {stype}) " if init is None else "")
        step = (f"CASE WHEN {null_any} THEN __agg_acc {adopt}"
                f"ELSE {step} END")
    fin_expr = None
    if final is not None:
        fin_expr = _subst_params(final["expr"],
                                 {final["params"][0]: "__agg_acc"})
        if final.get("strict"):
            fin_expr = (f"CASE WHEN __agg_acc IS NULL THEN NULL "
                        f"ELSE {fin_expr} END")
    # CFUNC/COMBINEFUNC: a declared combine is compiled NOW (like the
    # sfunc) into a state-merge lambda body — it is what lets simple
    # call sites fold per-(group × slice) and merge slice states,
    # bounding task memory to a slice instead of the whole group
    # (the reference's parallel-agg path: nodeAgg.cpp combine phase)
    combine = None
    cf = opts.get("cfunc") or opts.get("combinefunc")
    if cf:
        cspec = _resolve_fn(engine, cf, 2, "CFUNC")
        combine = _subst_params(
            cspec["expr"],
            {cspec["params"][0]: "__agg_acc",
             cspec["params"][1]: "__agg_x"},
        )
    engine.aggregates[name] = {
        "n_args": k,
        "init": init if init is not None else f"CAST(NULL AS {stype})",
        "stype": stype,
        "step": step,
        "final": fin_expr,
        "cfunc": cf,
        "combine": combine,
    }
    return status_frame(engine.spark, ("CREATE AGGREGATE", name, opts["sfunc"].lower(),
          opts["stype"].lower(), opts.get("finalfunc", "").lower()), "tag STRING, aggregate STRING, sfunc STRING, stype STRING,"
        " finalfunc STRING",)


def fold_expr(agg: dict, arg_exprs: list[str],
              with_final: bool = True) -> str:
    """The complete aggregate()-fold expression for one call site.
    ``with_final=False`` yields the bare TRANSITION state (the inner
    leg of the two-level CFUNC plan)."""
    k = agg["n_args"]
    if len(arg_exprs) != k:
        raise ValueError(
            f"aggregate call: {len(arg_exprs)} argument(s) for "
            f"{k} declared input type(s)"
        )
    fields = ", ".join(
        f"'a{i + 1}', {e}" for i, e in enumerate(arg_exprs)
    )
    coll = f"collect_list(named_struct({fields}))"
    body = (f"aggregate({coll}, {agg['init']}, "
            f"(__agg_acc, __agg_x) -> "
            f"CAST(({agg['step']}) AS {agg['stype']})")
    if with_final and agg["final"] is not None:
        body += f", __agg_acc -> ({agg['final']})"
    body += ")"
    return body


def merge_fold_expr(agg: dict, state_col: str) -> str:
    """The OUTER leg of the two-level plan: merge per-slice states
    with the compiled CFUNC lambda, then apply FINALFUNC.  NULL slice
    states never reach the lambda (collect_list drops them — PG's
    strict-combine contract: a NULL state contributes nothing)."""
    body = (f"aggregate(collect_list({state_col}), "
            f"CAST(NULL AS {agg['stype']}), "
            f"(__agg_acc, __agg_x) -> "
            f"CASE WHEN __agg_acc IS NULL THEN __agg_x "
            f"ELSE CAST(({agg['combine']}) AS {agg['stype']}) END")
    if agg["final"] is not None:
        body += f", __agg_acc -> ({agg['final']})"
    body += ")"
    return body


def rewrite_agg_calls(engine, query: str) -> str:
    """Call-site rewrite: ``myagg(args)`` → the fold expression.
    Identity when no aggregate is registered or none is named in the
    text (substring pre-filter — this runs on every statement)."""
    aggs = engine.aggregates
    if not aggs:
        return query
    low = query.lower()
    if not any(n in low for n in aggs):
        return query
    out = query
    for name in aggs:
        pat = re.compile(rf"(?<![\w.])\b{re.escape(name)}\s*\(",
                         re.IGNORECASE)
        pos = 0
        while True:
            masked = mask(out)
            mm = pat.search(masked, pos)
            if mm is None:
                break
            op = mm.end() - 1
            cl = close_paren(masked, op)
            if cl < 0:
                break
            inner = out[op + 1:cl].strip()
            if re.match(r"^(DISTINCT|ALL)\b", inner, re.IGNORECASE) \
                    or re.search(r"\bORDER\s+BY\b",
                                 mask(inner), re.IGNORECASE):
                raise NotImplementedError(
                    "user aggregates: DISTINCT/ORDER BY inside the "
                    "call are not supported — deduplicate or sort in "
                    "a subquery first"
                )
            rep = fold_expr(aggs[name], split_top(inner))
            out = out[:mm.start()] + rep + out[cl + 1:]
            pos = mm.start() + len(rep)
    return out


_N_SLICES = 64

_CLAUSE_KWS = ("FROM", "WHERE", "GROUP BY", "HAVING",
               "ORDER BY", "LIMIT")
# the clause keywords plus the shapes the restructure does not model
_CLAUSE_SCAN = re.compile(
    r"\b(?:FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|"
    r"INTERSECT|EXCEPT|MINUS|OVER|DISTINCT)\b",
    re.IGNORECASE,
)


def _top_level_clauses(masked: str):
    """Depth-0 clause spans of a simple one-block SELECT, or None
    when the text is not that shape (set ops, DISTINCT, HAVING,
    window OVER, joins — anything the two-level restructure does not
    model)."""
    m = re.match(r"^\s*SELECT\s+", masked, re.IGNORECASE)
    if m is None:
        return None
    if re.match(r"(?:DISTINCT|ALL)\b", masked[m.end():], re.IGNORECASE):
        return None
    spans: dict[str, int] = {}
    for mm in top_level(masked, _CLAUSE_SCAN):
        kw = " ".join(mm.group(0).upper().split())
        if kw not in _CLAUSE_KWS:
            return None
        spans.setdefault(kw, mm.start())
    n = len(masked)
    if "FROM" not in spans or "GROUP BY" not in spans:
        return None
    order = [("SELECT", m.end())] + sorted(
        spans.items(), key=lambda kv: kv[1]
    )
    names = [k for k, _ in order]
    if names != ["SELECT"] + [k for k in _CLAUSE_KWS
                              if k in spans]:
        return None  # clauses out of canonical order
    out = {}
    for idx, (kw, start) in enumerate(order):
        end = order[idx + 1][1] if idx + 1 < len(order) else n
        out[kw] = (start, end)
    return out


def _clause_text(query: str, spans, kw: str) -> str | None:
    if kw not in spans:
        return None
    start, end = spans[kw]
    text = query[start:end]
    # strip the keyword itself
    text = re.sub(rf"^\s*{kw.replace(' ', chr(92) + chr(115) + '+')}\s+",
                  "", text, count=1, flags=re.IGNORECASE)
    return text.rstrip().rstrip(";").rstrip()


def _strip_alias(item: str) -> tuple[str, str | None]:
    """(expr, alias) — a trailing depth-0 ' AS name'; a bare trailing
    identifier without AS is NOT treated as an alias (too ambiguous
    without a full parser)."""
    m = next(top_level(item, r"\bAS\s+(\w+)\s*$"), None)
    if m:
        return item[:m.start()].strip(), m.group(1)
    return item.strip(), None


_BUILTIN_2LVL = {"SUM": "SUM", "COUNT": "SUM", "MIN": "MIN",
                 "MAX": "MAX"}


def _norm(e: str) -> str:
    return re.sub(r"\s+", " ", e.strip()).lower()


_ITEM_KEYWORDS = {
    "as", "case", "when", "then", "else", "end", "and", "or", "not",
    "null", "true", "false", "cast", "double", "float", "int",
    "integer", "bigint", "smallint", "decimal", "numeric", "string",
    "varchar", "char", "boolean", "date", "timestamp", "interval",
    "precision", "between", "in", "like", "is", "div",
}


class _TwoLevelState:
    """Accumulates the inner projection while items compile."""

    def __init__(self, aggs, key_idents):
        self.aggs = aggs
        self.key_idents = key_idents  # simple-identifier keys (lower)
        self.inner: list[str] = []
        self.hash_args: list[str] = []
        self.n_user = 0
        self.n_builtin = 0


def _compile_item_expr(st: _TwoLevelState, expr: str):
    """Compile ONE expression over aggregates + keys into its OUTER
    form, appending the per-call inner projections to ``st``.
    Returns the outer SQL text, or None when the expression falls
    outside the modeled space (the caller then abandons the whole
    two-level attempt)."""
    masked = mask(expr)
    calls = []  # (start, end, fn, args_text)
    for m in re.finditer(r"\b(\w+)\s*\(", masked):
        fn = m.group(1).lower()
        if fn in st.aggs or fn.upper() in _BUILTIN_2LVL:
            cl = close_paren(masked, m.end() - 1)
            if cl < 0:
                return None
            calls.append((m.start(), cl + 1, fn, expr[m.end():cl]))
    # nested aggregate calls are invalid SQL — let the normal path err
    for i, (s1, e1, _f, _a) in enumerate(calls):
        for j, (s2, e2, _f2, _a2) in enumerate(calls):
            if i != j and s1 <= s2 and e2 <= e1:
                return None
    # every identifier OUTSIDE the call spans must be a keyword, a
    # function name, or a simple group-key identifier — anything else
    # (a bare base column) cannot resolve above the inner aggregation
    leftover = list(masked)
    for s, e, _f, _a in calls:
        for i in range(s, e):
            leftover[i] = " "
    leftover_text = "".join(leftover)
    for im in re.finditer(r"\b[A-Za-z_]\w*\b", leftover_text):
        if leftover_text[im.end():].lstrip().startswith("("):
            continue  # a function name
        word = im.group(0).lower()
        if word in _ITEM_KEYWORDS or word in st.key_idents:
            continue
        return None
    # compile the calls right-to-left so spans stay valid
    out = expr
    for s, e, fn, args_text in sorted(calls, reverse=True):
        if fn in st.aggs:
            agg = st.aggs[fn]
            if not agg.get("combine"):
                return None
            inner = args_text.strip()
            if re.match(r"^(DISTINCT|ALL)\b", inner, re.IGNORECASE) \
                    or re.search(r"\bORDER\s+BY\b",
                                 mask(inner), re.IGNORECASE):
                return None  # single-level path owns the refusal
            args = split_top(inner)
            st.inner.append(
                fold_expr(agg, args, with_final=False)
                + f" AS __uas{st.n_user}"
            )
            rep = merge_fold_expr(agg, f"__uas{st.n_user}")
            st.hash_args.extend(args)
            st.n_user += 1
        else:
            inner = args_text.strip()
            if re.match(r"^DISTINCT\b", inner, re.IGNORECASE):
                return None
            st.inner.append(
                f"{fn.upper()}({inner}) AS __b{st.n_builtin}"
            )
            rep = (f"{_BUILTIN_2LVL[fn.upper()]}"
                   f"(__b{st.n_builtin})")
            st.n_builtin += 1
        out = out[:s] + rep + out[e:]
    return out


def rewrite_agg_two_level(engine, query: str) -> str | None:
    """Two-level fold for user aggregates that DECLARE a combine
    (nodeAgg.cpp's parallel-aggregate plan: per-worker transition,
    leader combine).  A one-block statement

        SELECT <exprs over keys + agg calls>
        FROM rel [WHERE …] GROUP BY keys [HAVING …] [ORDER BY …]
        [LIMIT n]

    restructures into an inner aggregation by (keys, slice) — slice =
    pmod(hash(user-agg inputs), 64) — whose collect_list materializes
    only a slice of each group, and an outer aggregation by keys that
    merges the ≤64 per-slice states with the CFUNC lambda.  Select
    items and HAVING may WRAP the calls in arbitrary expressions of
    keys and keywords (round(myagg(x), 2), ratios of SUM/COUNT);
    builtin SUM/COUNT/MIN/MAX decompose alongside.  Task memory is
    bounded by the largest (group × slice), not the group: the
    O(group) hazard the single-level fold carries at 100× scale.

    Returns the restructured SQL (user-agg call sites fully
    compiled), or None when the statement falls outside the modeled
    shape or any referenced aggregate lacks a CFUNC — the caller then
    falls back to the single-level rewrite.  Correctness contract
    (PG's): CFUNC must be the associative merge of the state type and
    INITCOND its identity."""
    aggs = engine.aggregates
    if not aggs:
        return None
    low = query.lower()
    named = [n for n in aggs if n in low]
    if not named or not any(aggs[n].get("combine") for n in named):
        return None
    masked = mask(query)
    spans = _top_level_clauses(masked)
    if spans is None:
        return None
    rel = _clause_text(query, spans, "FROM")
    # a single relation, optionally aliased (the alias rides into the
    # inner SELECT, where the agg args that reference it evaluate)
    if rel is None or not re.match(
            r"^\w+(?:\s+(?:AS\s+)?\w+)?$", rel.strip(),
            re.IGNORECASE):
        return None
    rel = rel.strip()
    sel = _clause_text(query, spans, "SELECT")
    keys_text = _clause_text(query, spans, "GROUP BY")
    where = _clause_text(query, spans, "WHERE")
    having = _clause_text(query, spans, "HAVING")
    orderby = _clause_text(query, spans, "ORDER BY")
    limit = _clause_text(query, spans, "LIMIT")
    keys = split_top(keys_text)
    if not keys or any(re.match(r"^\d+$", k) for k in keys):
        return None  # ordinal GROUP BY: resolve-by-position not modeled
    key_norms = [_norm(k) for k in keys]
    # simple-identifier keys keep their own names through the inner
    # projection, so outer expressions reference them naturally;
    # complex key expressions get generated names
    key_outs = [
        k if re.match(r"^\w+$", k) else f"__gk{i}"
        for i, k in enumerate(keys)
    ]
    key_idents = {k.lower() for k in keys if re.match(r"^\w+$", k)}

    st = _TwoLevelState(aggs, key_idents)
    st.inner.extend(
        f"{k} AS {key_outs[i]}" for i, k in enumerate(keys)
    )
    outer_items: list[str] = []
    out_aliases: set[str] = set()
    for item in split_top(sel):
        expr, alias = _strip_alias(item)
        if _norm(expr) in key_norms:
            i = key_norms.index(_norm(expr))
            name = alias or (expr.strip()
                             if re.match(r"^\w+$", expr.strip())
                             else None)
            if name is None:
                return None
            outer_items.append(f"{key_outs[i]} AS {name}")
            out_aliases.add(name.lower())
            continue
        em = re.match(r"^(?P<fn>\w+)\s*\(", expr)
        default_name = em.group("fn").lower() if em else None
        compiled = _compile_item_expr(st, expr)
        if compiled is None:
            return None
        name = alias or default_name
        if name is None:
            return None
        outer_items.append(f"{compiled} AS {name}")
        out_aliases.add(name.lower())
    if st.n_user == 0:
        return None
    h_outer = None
    if having is not None:
        h_outer = _compile_item_expr(st, having)
        if h_outer is None:
            return None
    # ORDER BY terms must resolve against the OUTER projection
    if orderby is not None:
        for term in split_top(orderby):
            t = re.sub(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$",
                       "", term.strip(), flags=re.IGNORECASE)
            if not (re.match(r"^\d+$", t)
                    or t.strip().lower() in out_aliases
                    or _norm(t) in key_norms):
                return None
    if not st.hash_args:
        return None
    st.inner.append(
        f"pmod(hash({', '.join(st.hash_args)}), {_N_SLICES})"
        " AS __agg_slice"
    )
    inner_sql = (
        "SELECT " + ", ".join(st.inner) + f" FROM {rel}"
        + (f" WHERE {where}" if where else "")
        + " GROUP BY " + ", ".join(key_outs) + ", __agg_slice"
    )
    ob = ""
    if orderby is not None:
        terms = []
        for term in split_top(orderby):
            tm = re.match(
                r"^(?P<e>.*?)(?P<sfx>\s+(ASC|DESC)"
                r"(\s+NULLS\s+(FIRST|LAST))?)?\s*$",
                term.strip(), re.IGNORECASE | re.DOTALL)
            e, sfx = tm.group("e"), tm.group("sfx") or ""
            if _norm(e) in key_norms and \
                    _norm(e) not in out_aliases:
                e = key_outs[key_norms.index(_norm(e))]
            terms.append(e + sfx)
        ob = " ORDER BY " + ", ".join(terms)
    outer_sql = (
        "SELECT " + ", ".join(outer_items)
        + f" FROM ({inner_sql}) __agg_sliced GROUP BY "
        + ", ".join(key_outs)
        + (f" HAVING {h_outer}" if h_outer is not None else "")
        + ob
        + (f" LIMIT {limit}" if limit else "")
    )
    return outer_sql


def try_handle_stmt(engine, query: str):
    """Engine.sql hook: CREATE/DROP AGGREGATE routing."""
    parsed = _parse_create_agg(query)
    if parsed is not None:
        return _create_aggregate(engine, parsed)
    m = _DROP_AGG.match(query)
    if m:
        name = m.group("name").lower()
        existed = engine.aggregates.pop(name, None)
        if existed is not None or re.search(r"IF\s+EXISTS", query,
                                            re.IGNORECASE):
            return status_frame(engine.spark, ("DROP AGGREGATE", name, existed is not None), "tag STRING, aggregate STRING, existed BOOLEAN",)
        raise KeyError(f"DROP AGGREGATE: {name!r} does not exist")
    return None


# ------------------------------------------------------------------
# gate row
# ------------------------------------------------------------------

from ..registry import query as _register


@_register(
    "create_aggregate_sql",
    """
    WITH g AS (
      SELECT l_returnflag,
             SUM(CAST(l_quantity * (1.0 - l_discount)
                      AS DECIMAL(18,6))) AS wsum_exact,
             SUM(CAST(ln(l_quantity) AS DECIMAL(18,10))) AS lnsum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(wsum_exact AS DOUBLE) AS wsum,
           round(exp(CAST(lnsum AS DOUBLE) / n), 6) AS geo_mean,
           n AS n_rows
    FROM g ORDER BY l_returnflag
    """,
)
def create_aggregate_sql(spark, sf_dir):
    """CREATE AGGREGATE end-to-end (pg_aggregate.cpp DefineAggregate;
    the datavec avg(vector) declaration shape,
    datavec--0.7.2.sql:116-123): a TWO-INPUT weighted-sum aggregate
    (SFUNC + INITCOND) and an ARRAY-STATE geometric mean (SFUNC +
    FINALFUNC + INITCOND '{0,0}') — both transitions declared as
    LANGUAGE SQL functions and compiled into aggregate() folds; the
    oracle is each fold's CLOSED FORM (sum of x·w; exp(Σln x / n)),
    so a green row proves the seed, per-row transition, and final
    projection, not just that some aggregation ran.

    Exactness: the weighted-sum transition accumulates in
    DECIMAL(18,6) (associative), cast to DOUBLE by the final read;
    the geometric mean rounds to 6 digits because Σln(x) is
    order-dependent in IEEE — round() makes both engines agree.

    Scale: collect_list partial-aggregates map-side; the fold is a
    codegen'd lambda over each group's collected inputs — O(group)
    state, the same serial-sfunc cost nodeAgg.cpp pays, with no
    Python in the path."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_wsum_step(acc decimal(18,6),
                                       x double precision,
                                       w double precision)
        RETURNS decimal(18,6)
        AS $$ SELECT acc + CAST(x * (1.0 - w) AS DECIMAL(18,6)) $$
        LANGUAGE SQL
    """)
    eng.sql("""
        CREATE FUNCTION gate_gm_step(st double precision[],
                                     x double precision)
        RETURNS double precision[]
        AS $$ SELECT array(element_at(st, 1) + ln(x),
                           element_at(st, 2) + 1.0d) $$
        LANGUAGE SQL
    """)
    eng.sql("""
        CREATE FUNCTION gate_gm_final(st double precision[])
        RETURNS double precision
        AS $$ SELECT round(exp(element_at(st, 1) / element_at(st, 2)),
                           6) $$
        LANGUAGE SQL
    """)
    eng.sql("""
        CREATE AGGREGATE gate_wsum(double precision, double precision) (
            SFUNC = gate_wsum_step,
            STYPE = decimal(18,6),
            INITCOND = '0'
        )
    """)
    eng.sql("""
        CREATE AGGREGATE gate_gmean(double precision) (
            SFUNC = gate_gm_step,
            STYPE = double precision[],
            FINALFUNC = gate_gm_final,
            INITCOND = '{0,0}'
        )
    """)
    out = eng.sql(
        "SELECT l_returnflag,"
        " CAST(gate_wsum(l_quantity, l_discount) AS DOUBLE) AS wsum,"
        " gate_gmean(l_quantity) AS geo_mean,"
        " COUNT(*) AS n_rows"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    eng.sql("DROP AGGREGATE gate_wsum(double precision, double precision)")
    eng.sql("DROP AGGREGATE gate_gmean(double precision)")
    for fn in ("gate_wsum_step", "gate_gm_step", "gate_gm_final"):
        eng.sql(f"DROP FUNCTION {fn}")
    return pin_schema(
        out,
        "l_returnflag STRING, wsum DOUBLE, geo_mean DOUBLE,"
        " n_rows BIGINT",
    )


@_register(
    "create_aggregate_combine",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity * (1.0 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS wsum,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def create_aggregate_combine(spark, sf_dir):
    """CREATE AGGREGATE with a declared CFUNC → the TWO-LEVEL fold
    (nodeAgg.cpp's parallel-aggregate plan: per-worker transition +
    leader combine; datavec's own avg(vector) declares the same
    shape, datavec--0.7.2.sql vector_combine): the call site
    restructures into an inner aggregation by (group, slice) whose
    collect_list materializes only a slice of each group, and an
    outer merge of the ≤64 per-slice states with the CFUNC lambda —
    task memory bounded by a slice, not the group (the r11 verdict's
    O(group) hazard, fixed where the user declares associativity).

    The oracle is the fold's closed form (sum of q·(1−d) in
    DECIMAL(18,6), exact under reassociation), so a green row proves
    seed + transition + combine + final across the two levels; the
    COUNT(*) rides the same restructure as a decomposed builtin
    (inner COUNT, outer SUM).  The plan pin lives in
    test_plan_quality.py: two exchanges, map-side partial state."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_cmb_step(acc decimal(18,6),
                                      x double precision,
                                      w double precision)
        RETURNS decimal(18,6)
        AS $$ SELECT acc + CAST(x * w AS DECIMAL(18,6)) $$
        LANGUAGE SQL
    """)
    eng.sql("""
        CREATE FUNCTION gate_cmb_merge(a decimal(18,6),
                                       b decimal(18,6))
        RETURNS decimal(18,6) AS $$ SELECT a + b $$ LANGUAGE SQL
    """)
    eng.sql("""
        CREATE FUNCTION gate_cmb_fin(acc decimal(18,6))
        RETURNS double precision
        AS $$ SELECT CAST(acc AS DOUBLE) $$ LANGUAGE SQL
    """)
    eng.sql("""
        CREATE AGGREGATE gate_wsum_c(double precision,
                                     double precision) (
            SFUNC = gate_cmb_step,
            STYPE = decimal(18,6),
            INITCOND = '0',
            CFUNC = gate_cmb_merge,
            FINALFUNC = gate_cmb_fin
        )
    """)
    out = eng.sql(
        "SELECT l_returnflag,"
        " gate_wsum_c(l_quantity, 1.0 - l_discount) AS wsum,"
        " COUNT(*) AS n_rows"
        " FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    eng.sql("DROP AGGREGATE gate_wsum_c(double precision,"
            " double precision)")
    for fn in ("gate_cmb_step", "gate_cmb_merge", "gate_cmb_fin"):
        eng.sql(f"DROP FUNCTION {fn}")
    return pin_schema(
        out, "l_returnflag STRING, wsum DOUBLE, n_rows BIGINT"
    )
