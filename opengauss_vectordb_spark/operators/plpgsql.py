"""CREATE FUNCTION ... LANGUAGE plpgsql — the declarative subset,
compiled to one inlined Spark SQL expression.

Reference: `src/common/pl/plpgsql/src/` (~35k LoC: gram.y grammar,
pl_exec.cpp statement interpreter, pl_comp.cpp compiler).  The
reference executes plpgsql as a per-call, row-at-a-time interpreter
over SPI statements — exactly the execution model a distributed
declarative engine must not reproduce (COVERAGE.md §2.10 states the
position).  What CAN port is the large class of plpgsql functions
that are declarative control flow in procedural clothing — the
guard-and-return scalar idiom:

    CREATE FUNCTION grade(score float8) RETURNS text AS $$
    DECLARE
        bonus float8 := 5.0;
    BEGIN
        IF score + bonus >= 90 THEN
            RETURN 'A';
        ELSIF score + bonus >= 75 THEN
            RETURN 'B';
        ELSE
            RETURN 'C';
        END IF;
    END;
    $$ LANGUAGE plpgsql;

This module compiles that subset — DECLARE with initializers,
sequential assignment, IF/ELSIF/ELSE with RETURN or RAISE EXCEPTION
branches, nested IF, scalar-subquery assignments — into a single SQL
expression (CASE chains + substituted bindings) and emits the same
Spark native SQL-UDF DDL as create_function.py, so the function body
inlines into whole-stage codegen with zero interpreter overhead:
pl_exec.cpp's exec_stmt_if (:1809) becomes a CASE expression,
exec_assign_value becomes expression substitution, and the SPI
round-trips disappear entirely.

One iterative shape IS covered, because it is declarative in
procedural clothing: ``FOR r IN SELECT ... LOOP`` whose body is only
accumulator assignments (``acc := acc + expr``, ``acc := acc - expr``,
``acc := GREATEST/LEAST(acc, expr)``) compiles by the SINGLE-SUBQUERY
FOLD — every accumulator becomes an aggregate function (SUM/MAX/MIN)
inside ONE subquery whose projection is the function's whole
continuation, so the loop source is scanned once regardless of how
many accumulators the loop carries or how often the result variables
are mentioned — pl_exec.cpp's exec_stmt_fors row loop becomes one
distributed aggregation.  Aggregate-shaped ``SELECT ... INTO`` binds
the same way.  When the fold would be invalid SQL (a function
parameter or nested subquery in the wrapping projection — Spark only
allows outer references in WHERE/HAVING), the compiler falls back to
per-mention scalar-subquery bindings: correct, just not single-scan.

Bounded integer FOR loops (``FOR i IN [REVERSE] a..b [BY s]``,
pl_exec.cpp's exec_stmt_fori) compile through the same fold: the
range becomes ``explode(sequence(a, b, ±s))`` — a JVM-side generated
relation, no driver unrolling — guarded by a CASE that reproduces
the zero-iteration semantics (forward with a > b never runs), and
the accumulator body aggregates over the exploded rows exactly like
a FOR-IN-SELECT loop.  COUNTER-STYLE WHILE loops (pl_exec.cpp
exec_stmt_while) — ``WHILE v <op> bound LOOP <accumulators>;
v := v ± step; END LOOP`` — are that same bounded range in disguise
and rewrite into it, with the counter's post-loop binding set to its
closed form (the first value failing the condition), so reading the
counter after the loop stays correct.

EXCEPTION blocks compile in the NO-SUBTRANSACTION subset
(pl_exec.cpp:95 exec_stmt_block): over a straight-line body every
statement executes unconditionally, so the raisable operation sites
are statically enumerable — divisions (division_by_zero), explicit
CASTs (the two cast-failure classes, guarded by TRY_CAST), RAISE
(caught by OTHERS) — and the block compiles to the total-function
``CASE WHEN <site guard> THEN <handler> ... ELSE <body> END`` with
guards in evaluation order (first error wins, as pl_exec raises at
the first failing operation).  Control-flow or DML bodies refuse: a
raisable site in an untaken branch must not fire the handler, and
rolling back DML needs a real subtransaction.

Bare ``LOOP`` with a LEADING ``EXIT WHEN v <op> bound``
(pl_exec.cpp exec_stmt_exit) is a pre-test counter loop and rewrites
into the counter-WHILE form above with the comparison inverted.

LEADING ``CONTINUE WHEN <cond>`` statements in an accumulator loop
body compile as row filters over the loop source (skipping the whole
remaining body for a row IS a WHERE; only a TRUE condition skips, so
the filter is NULL-safe NOT COALESCE(cond, FALSE)); a mid-body
CONTINUE or a condition reading an accumulator refuses.

CASE STATEMENTS (``CASE ... WHEN ... THEN stmts ... END CASE``,
pl_exec.cpp exec_stmt_case) are IF/ELSIF sugar and rewrite to that
chain before compilation — searched and simple forms, value lists as
IN, and the reference's CASE_NOT_FOUND raise when no branch matches
and ELSE is absent.  ``ASSERT cond [, 'msg']`` (exec_stmt_assert) is
the same kind of sugar: IF NOT COALESCE(cond, FALSE) THEN RAISE —
false AND NULL conditions raise, as PG asserts fire unless TRUE.

SET-RETURNING functions (RETURNS TABLE(...) / SETOF <table> / SETOF
<scalar>; pl_exec.cpp exec_stmt_return_query :3585 and
exec_stmt_return_next :3334) compile in the straight-line subset —
declarations, assignments, then RETURN QUERY / RETURN NEXT statements
and an optional final RETURN — to ONE Spark SQL table function whose
body is the UNION ALL of the collected queries, matched to the
declared column list by position (PG's own mapping rule).  The rows
stream out of a distributed plan; nothing materializes per call.

Dynamic EXECUTE in SCALAR function bodies routes to the INTERPRETED
path (operators/do_block.py register_interpreted_plfn /
try_handle_fncall): the body runs once per top-level call on the
driver with the literal-derived exec_stmt_dynexecute subset, exactly
like a procedure, and RETURN delivers the value.  Per-row invocation
of such a function refuses — per-row dynamic SQL has no inlined form.

Deliberately NOT covered (each raises a clear NotImplementedError
naming the Spark-side rewrite): general WHILE (non-counter
conditions are unbounded iteration — no declarative form) / loops
with non-accumulator bodies (set-based rewrite — the statement
layer's one-statement DML), dynamic EXECUTE in SETOF/TABLE bodies,
and cursors in function bodies (bound-cursor FOR loops execute;
otherwise DECLARE CURSOR at the session level instead).

Variable substitution is textual with identifier-boundary matching;
variables shadow columns of the same name inside the body, matching
plpgsql's own (notorious) scoping rule.
"""

from __future__ import annotations

import re

from ..sqltext import close_paren, mask, split_top, strip_comments, top_level
from .create_function import _map_type, parse_params
from ._util import pin_schema, status_frame

_CREATE_PLFN = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(?P<name>\w+)\s*"
    r"\((?P<params>.*?)\)\s*"
    r"RETURNS\s+(?P<ret>SETOF\s+\w+|TABLE\s*\((?P<tcols>[^)]*)\)|"
    r"\w+(?:\s+\w+)?(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+"
    r"AS\s+(?P<body>\$(?P<tag>\w*)\$.*?\$(?P=tag)\$|'(?:[^']|'')*')\s+"
    r"LANGUAGE\s+PLPGSQL(?P<flags>(?:\s+\w+(?:\s+\w+)*)?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DECLARE_RE = re.compile(
    r"^\s*DECLARE\s+(?P<decls>.*?)\s*BEGIN\s+(?P<body>.*?)\s*END\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_BEGIN_RE = re.compile(
    r"^\s*BEGIN\s+(?P<body>.*?)\s*END\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_UNSUPPORTED = [
    (re.compile(r"\b(WHILE|LOOP|FOREACH)\b", re.IGNORECASE),
     "bare LOOP (and WHILE without a counter shape) has no "
     "inlined-expression form; counter-style WHILE, bounded integer "
     "FOR, and FOREACH ... IN ARRAY compile — otherwise rewrite the "
     "loop as one set-oriented statement (UPDATE/INSERT ... SELECT)"),
    (re.compile(r"\bFOR\s+\w+\s+IN\b", re.IGNORECASE),
     "only FOR <rec> IN SELECT ... LOOP and bounded integer-range "
     "FOR i IN [REVERSE] a..b [BY s] bodies made of accumulator "
     "assignments compile (to SUM/MAX/MIN aggregates); other FOR "
     "loops have no inlined-expression form — rewrite as one "
     "set-oriented statement"),
    (re.compile(r"\bEXECUTE\s+", re.IGNORECASE),
     "dynamic EXECUTE cannot inline into a set-returning body; "
     "SCALAR functions with EXECUTE run interpreted "
     "(operators/do_block.py register_interpreted_plfn) — for SETOF, "
     "build the statement client-side"),
    (re.compile(r"\bOPEN\s+\w+|\bFETCH\s+", re.IGNORECASE),
     "cursors inside SETOF bodies cannot inline; SCALAR functions "
     "with OPEN/FETCH run interpreted (operators/do_block.py "
     "register_interpreted_plfn) — for SETOF, DECLARE CURSOR at the "
     "session level (operators/portal.py)"),
]


def _subst(expr: str, bindings: dict[str, str]) -> str:
    """Replace variable references with their (parenthesized) bound
    expressions — identifier-boundary matched, longest names first so
    `total` never corrupts `total_x`, and matched on the string-masked
    copy so a variable name inside a string literal is never
    rewritten. Qualified references (`t.total`) are never touched —
    they are plpgsql's documented escape hatch for a column whose name
    collides with a variable (an unqualified collision resolves to the
    variable here, the classic shadowing rule)."""
    out = expr
    for name in sorted(bindings, key=len, reverse=True):
        pat = re.compile(rf"(?<!\.)\b{re.escape(name)}\b", re.IGNORECASE)
        pos = 0
        while True:
            m = pat.search(mask(out), pos)
            if m is None:
                break
            rep = f"({bindings[name]})"
            out = out[:m.start()] + rep + out[m.end():]
            pos = m.start() + len(rep)
    return out.strip()


def _scan_stmt(text: str, pos: int) -> tuple[str, int]:
    """Read one simple statement up to its terminating top-level ';'.
    Returns (stmt, next_pos)."""
    end = next(top_level(text[pos:], ";"), None)
    if end is None:
        return text[pos:].strip(), len(text)
    return text[pos:pos + end.start()].strip(), pos + end.end()


# one combined token scanner (END IF before END, ELSIF before IF);
# always run against the STRING-MASKED text so literals never match
_TOKEN = re.compile(
    r"\bEND\s+IF\b|\bELSIF\b|\bCASE\b|\bEND\b|\bELSE\b|\bTHEN\b|\bIF\b",
    re.IGNORECASE,
)


def _find_end_if(text: str, pos: int) -> tuple[int, int]:
    """Given pos just after an opening IF, find the matching END IF
    (tracking nested IF and CASE ... END spans, on the string-masked
    text so keywords inside literals are invisible); returns
    (start_of_end_if, pos_after_terminator)."""
    masked = mask(text)
    if_depth, case_depth = 1, 0
    for m in _TOKEN.finditer(masked, pos):
        raw = m.group(0).upper()
        tok = "END IF" if raw.startswith("END") and raw.endswith("IF") \
            else raw
        if tok == "CASE":
            case_depth += 1
        elif tok == "END IF":
            if case_depth == 0:
                if_depth -= 1
                if if_depth == 0:
                    after = m.end()
                    semi = re.match(r"\s*;", text[after:])
                    return m.start(), after + (semi.end() if semi else 0)
        elif tok == "END":
            if case_depth > 0:
                case_depth -= 1
        elif tok == "IF":
            if case_depth == 0:
                if_depth += 1
    raise ValueError("plpgsql: IF without matching END IF")


def _split_branches(block: str) -> list[tuple[str | None, str]]:
    """Split an IF-block interior `cond THEN stmts [ELSIF cond THEN
    stmts]* [ELSE stmts]` into [(cond|None, stmts)] at THIS nesting
    level — nested IF...END IF and CASE...END spans (including a
    CASE's own THEN/ELSE) are skipped via depth tracking on the
    string-masked text."""
    masked = mask(block)
    branches: list[tuple[str | None, str]] = []
    if_depth = case_depth = 0
    in_cond = True  # scanning a condition, waiting for its THEN
    cond: str | None = block  # placeholder; set at first THEN
    cond_start = 0
    body_start = 0
    for m in _TOKEN.finditer(masked):
        raw = m.group(0).upper()
        tok = "END IF" if raw.startswith("END") and raw.endswith("IF") \
            else raw
        if tok == "CASE":
            case_depth += 1
        elif tok == "END":
            if case_depth > 0:
                case_depth -= 1
        elif case_depth > 0:
            continue  # THEN/ELSE/IF/ELSIF inside a CASE expression
        elif tok == "IF":
            if_depth += 1
        elif tok == "END IF":
            if_depth -= 1
        elif if_depth > 0:
            continue  # delimiters of a nested IF
        elif tok == "THEN":
            if in_cond:
                cond = block[cond_start:m.start()].strip()
                body_start = m.end()
                in_cond = False
        elif tok == "ELSIF":
            branches.append((cond, block[body_start:m.start()].strip()))
            in_cond = True
            cond_start = m.end()
        elif tok == "ELSE":
            branches.append((cond, block[body_start:m.start()].strip()))
            cond = None
            body_start = m.end()
            in_cond = False
    if in_cond:
        raise ValueError("plpgsql: IF without THEN")
    branches.append((cond, block[body_start:].strip()))
    return branches


_FOR_HEAD = re.compile(r"FOR\s+(?P<var>\w+)\s+IN\s+", re.IGNORECASE)

# bounded integer range source: FOR i IN [REVERSE] a..b [BY s]
# (pl_exec.cpp exec_stmt_fori — gram.y for_control's opt_reverse /
# opt_by_expression); bounds/step are arbitrary integer expressions
_INT_RANGE = re.compile(
    r"^(?P<rev>REVERSE\s+)?(?P<lo>.+?)\s*\.\.\s*(?P<hi>.+?)"
    r"(?:\s+BY\s+(?P<step>.+?))?$",
    re.IGNORECASE | re.DOTALL,
)


def _int_range_select(var: str, m: re.Match) -> str:
    """Compile the integer-range loop source to a one-column SELECT the
    aggregate fold consumes like any FOR-IN-SELECT query: ``explode(
    sequence(lo, hi, ±step))``.  The CASE guard reproduces pl_exec's
    zero-iteration semantics (forward loop with lo > hi, or REVERSE
    with lo < hi, never runs the body — Spark's 3-arg sequence() would
    instead raise on mismatched direction), and the whole thing stays a
    JVM-side generated relation: no driver-side unrolling, the body
    aggregates distribute over the exploded rows like any table."""
    lo = m.group("lo").strip()
    hi = m.group("hi").strip()
    step = (m.group("step") or "1").strip()
    if m.group("rev"):
        guard = f"CAST(({lo}) AS BIGINT) >= CAST(({hi}) AS BIGINT)"
        step_e = f"-CAST(({step}) AS BIGINT)"
    else:
        guard = f"CAST(({lo}) AS BIGINT) <= CAST(({hi}) AS BIGINT)"
        step_e = f"CAST(({step}) AS BIGINT)"
    seq = (
        f"sequence(CAST(({lo}) AS BIGINT), CAST(({hi}) AS BIGINT), "
        f"{step_e})"
    )
    return (
        f"SELECT explode(CASE WHEN {guard} THEN {seq} "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END) AS {var}"
    )

# accumulator-assignment shapes a FOR body may contain, each mapped to
# the aggregate that computes the whole loop in one pass
_ACC_SUM = re.compile(
    r"^(?P<v>\w+)\s*:=\s*(?P=v)\s*(?P<op>[+-])\s*(?P<e>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ACC_EXTREME = re.compile(
    r"^(?P<v>\w+)\s*:=\s*(?P<fn>GREATEST|LEAST)\s*\(\s*(?P=v)\s*,"
    r"\s*(?P<e>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


# FOREACH x IN ARRAY expr LOOP — pl_exec.cpp exec_stmt_foreach_a;
# rewrites to FOR x IN (SELECT explode(expr) AS x), the same fold
_FOREACH_HEAD = re.compile(
    r"FOREACH\s+(?P<var>\w+)\s+IN\s+ARRAY\s+", re.IGNORECASE
)


def _try_rewrite_foreach(
    text: str, pos: int, bindings: dict[str, str]
) -> str | None:
    """``FOREACH v IN ARRAY <expr> LOOP ... END LOOP`` → the
    FOR-IN-SELECT form over ``explode(<expr>)`` — array iteration is
    a generated relation like the integer ranges.  The loop variable
    gets a fresh name (v is a DECLAREd variable, so body column
    references under its own name would collide with its binding),
    and v's post-loop binding becomes pl_exec.cpp's documented value:
    the LAST array element, unchanged when the array is empty/NULL.
    SLICE clauses refuse (sub-array iteration has no aggregate
    shape)."""
    m = _FOREACH_HEAD.match(text[pos:])
    if m is None:
        if re.match(r"FOREACH\b", text[pos:], re.IGNORECASE):
            raise NotImplementedError(
                "plpgsql: FOREACH supports only the 'v IN ARRAY expr' "
                "form (SLICE sub-array iteration has no aggregate "
                "shape) — rewrite as one set-oriented statement"
            )
        return None
    masked = mask(text)
    ml = re.search(r"\bLOOP\b", masked[pos + m.end():])
    if ml is None:
        raise ValueError("plpgsql: FOREACH without LOOP")
    var = m.group("var").lower()
    if var not in bindings:
        raise ValueError(
            f"plpgsql: FOREACH target {var!r} is not declared"
        )
    arr = text[pos + m.end():pos + m.end() + ml.start()].strip()
    arr_sub = _subst(arr, {k: e for k, e in bindings.items()
                           if k != var})
    body_start = pos + m.end() + ml.end()
    depth = 1
    end_start = end_after = None
    for mt in _LOOP_TOKEN.finditer(masked, body_start):
        if mt.group(0).upper().startswith("END"):
            depth -= 1
            if depth == 0:
                end_start, end_after = mt.start(), mt.end()
                break
        else:
            depth += 1
    if end_start is None:
        raise ValueError("plpgsql: FOREACH LOOP without END LOOP")
    body = text[body_start:end_start]
    fresh = _next_fold(f"fe_{var}")
    pat = re.compile(rf"(?<!\.)\b{re.escape(var)}\b", re.IGNORECASE)
    bpos = 0
    while True:
        mv = pat.search(mask(body), bpos)
        if mv is None:
            break
        body = body[:mv.start()] + fresh + body[mv.end():]
        bpos = mv.start() + len(fresh)
    old = bindings[var]
    bindings[var] = (
        f"(CASE WHEN size({arr_sub}) > 0 "
        f"THEN element_at({arr_sub}, -1) ELSE ({old}) END)"
    )
    head = f"FOR {fresh} IN SELECT explode({arr_sub}) AS {fresh} LOOP "
    return (
        text[:pos] + head + body + " END LOOP; "
        + text[end_after:].lstrip(";")
    )


_WHILE_HEAD = re.compile(r"WHILE\b", re.IGNORECASE)
_WHILE_COND = re.compile(
    r"^\s*(?P<v>\w+)\s*(?P<op><=|<|>=|>)\s*(?P<b>.+?)\s*$", re.DOTALL
)
_COUNTER_STEP = re.compile(
    r"^(?P<v>\w+)\s*:=\s*(?P=v)\s*(?P<sign>[+-])\s*(?P<s>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_LOOP_TOKEN = re.compile(r"\bEND\s+LOOP\b\s*;?|\bLOOP\b", re.IGNORECASE)

# EXIT WHEN exits while the condition HOLDS; WHILE runs while its
# condition holds — the rewrite inverts the comparison
_INV_OP = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}


def _try_rewrite_bare_loop(
    text: str, pos: int, bindings: dict[str, str]
) -> str | None:
    """Bare ``LOOP`` with a LEADING ``EXIT WHEN v <op> bound`` —
    pl_exec.cpp exec_stmt_exit over exec_stmt_loop — is a pre-test
    loop: it rewrites to ``WHILE v <inverted-op> bound LOOP ...`` and
    the counter-WHILE closed form takes it from there.  A tail EXIT
    WHEN is do-while (the body always runs once) — no closed form
    shares it with the pre-test loop, so it refuses naming the
    leading-position rewrite.  Returns None when no bare LOOP starts
    at pos."""
    if not re.match(r"LOOP\b", text[pos:], re.IGNORECASE):
        return None
    masked = mask(text)
    body_start = pos + 4
    depth = 1
    end_start = end_after = None
    for mt in _LOOP_TOKEN.finditer(masked, body_start):
        if mt.group(0).upper().startswith("END"):
            depth -= 1
            if depth == 0:
                end_start, end_after = mt.start(), mt.end()
                break
        else:
            depth += 1
    if end_start is None:
        raise ValueError("plpgsql: LOOP without END LOOP")
    body = text[body_start:end_start]
    me = re.match(r"\s*EXIT\s+WHEN\s+(?P<c>.+?);", body,
                  re.IGNORECASE | re.DOTALL)
    if me is None:
        # TAIL EXIT WHEN is do-while (pl_exec.cpp:114 exec_stmt_loop
        # + exec_stmt_exit at the body's end): the body always runs
        # once, then iteration continues while the condition is
        # false — compiled as a ONE-ITERATION UNROLL (the body's
        # statements spliced in as straight-line code) followed by
        # the pre-test counter-WHILE closed form with the inverted
        # condition.  The unrolled prefix updates the counter binding
        # first, so the WHILE's closed-form final value composes
        # correctly at the zero-extra-iteration boundary.
        stmts = split_top(body, ";")
        mt_tail = (
            re.match(r"\s*EXIT\s+WHEN\s+(?P<c>.+)$", stmts[-1],
                     re.IGNORECASE | re.DOTALL)
            if stmts else None
        )
        if mt_tail is not None:
            mc = _WHILE_COND.match(mt_tail.group("c"))
            inv = _INV_OP.get(mc.group("op")) if mc else None
            if inv is None:
                raise NotImplementedError(
                    "plpgsql: tail EXIT WHEN compiles only for "
                    "counter conditions (v <op> bound) — got "
                    f"{mt_tail.group('c').strip()!r}; rewrite the "
                    "loop as one set-oriented statement"
                )
            prefix = " ".join(s + ";" for s in stmts[:-1])
            head = (f"WHILE {mc.group('v')} {inv} "
                    f"{mc.group('b').strip()} LOOP ")
            return (
                text[:pos] + prefix + " " + head + prefix
                + " END LOOP; " + text[end_after:].lstrip(";")
            )
        if re.search(r"\bEXIT\s+WHEN\b", mask(body),
                     re.IGNORECASE):
            raise NotImplementedError(
                "plpgsql: EXIT WHEN compiles in the LEADING position "
                "(pre-test loop) or as the LAST body statement "
                "(do-while, one-iteration unroll); a mid-body EXIT "
                "WHEN skips only the statements after it — move the "
                "test to either end, or rewrite the loop as one "
                "set-oriented statement"
            )
        raise NotImplementedError(
            "plpgsql: bare LOOP has no inlined-expression form; "
            "LOOP EXIT WHEN v <op> bound; ... compiles (pre-test "
            "counter loop) — otherwise rewrite as one set-oriented "
            "statement"
        )
    mc = _WHILE_COND.match(me.group("c"))
    inv = _INV_OP.get(mc.group("op")) if mc else None
    if inv is None:
        raise NotImplementedError(
            "plpgsql: EXIT WHEN compiles only for counter conditions "
            f"(v <op> bound) — got {me.group('c').strip()!r}; rewrite "
            "the loop as one set-oriented statement"
        )
    head = f"WHILE {mc.group('v')} {inv} {mc.group('b').strip()} LOOP "
    return (
        text[:pos] + head + body[me.end():]
        + " END LOOP; " + text[end_after:].lstrip(";")
    )


def _try_rewrite_while(
    text: str, pos: int, bindings: dict[str, str]
) -> str | None:
    """Counter-style WHILE loops (pl_exec.cpp exec_stmt_while) —
    ``WHILE v <op> bound LOOP <accumulators>; v := v ± step; END
    LOOP`` — ARE bounded integer FOR loops in disguise: the rewrite
    splices the equivalent ``FOR v IN [REVERSE] start..hi BY step``
    text in place (the single-subquery fold then compiles it to one
    explode(sequence) aggregate) and binds v's POST-LOOP value to its
    closed form (first counter value failing the condition), so a
    continuation that reads the counter stays correct.  Returns the
    rewritten statement text, or None when no WHILE starts at pos;
    any WHILE this shape cannot express refuses with the
    set-oriented rewrite named (general WHILE is unbounded iteration
    — no declarative form exists)."""
    if not _WHILE_HEAD.match(text[pos:]):
        return None
    masked = mask(text)
    m_loop = re.search(r"\bLOOP\b", masked[pos:])
    if m_loop is None:
        raise ValueError("plpgsql: WHILE without LOOP")
    cond_txt = text[pos + 5:pos + m_loop.start()]
    body_start = pos + m_loop.end()
    depth = 1
    end_start = end_after = None
    for mt in _LOOP_TOKEN.finditer(masked, body_start):
        if mt.group(0).upper().startswith("END"):
            depth -= 1
            if depth == 0:
                end_start, end_after = mt.start(), mt.end()
                break
        else:
            depth += 1
    if end_start is None:
        raise ValueError("plpgsql: WHILE LOOP without END LOOP")
    body = text[body_start:end_start]

    def refuse(why: str):
        raise NotImplementedError(
            f"plpgsql: only counter-style WHILE loops compile "
            f"(WHILE v < bound LOOP <accumulators>; v := v + step; "
            f"END LOOP) — {why}; rewrite the loop as one "
            "set-oriented statement"
        )

    mc = _WHILE_COND.match(cond_txt)
    if mc is None:
        refuse(f"condition {cond_txt.strip()!r} is not v <op> bound")
    v = mc.group("v").lower()
    if v not in bindings:
        refuse(f"counter {v!r} is not a declared variable")
    stmts = split_top(body, ";")
    if not stmts:
        refuse("empty body")
    ms = _COUNTER_STEP.match(stmts[-1])
    if ms is None or ms.group("v").lower() != v:
        refuse(f"the LAST body statement must advance the counter "
               f"({v} := {v} + step)")
    sign, op = ms.group("sign"), mc.group("op")
    if (op in ("<", "<=")) != (sign == "+"):
        refuse(f"counter moves {sign}{ms.group('s').strip()} against "
               f"the {op!r} bound — the loop would not terminate")
    # PG re-evaluates the condition each iteration (pl_exec.cpp
    # exec_stmt_while): the closed form is only valid when the bound
    # and the step are loop-invariant — refuse when either references
    # a variable the body (or the counter statement) assigns
    assigned = {v}
    for s in stmts[:-1]:
        ma = re.match(r"\s*([A-Za-z_]\w*)\s*:?=", s)
        if ma:
            assigned.add(ma.group(1).lower())
    for label, expr in (("bound", mc.group("b")), ("step", ms.group("s"))):
        toks = {
            t.lower()
            for t in re.findall(
                r"(?<!\.)\b[A-Za-z_]\w*\b", mask(expr)
            )
        }
        hot = sorted(toks & assigned)
        if hot:
            refuse(
                f"the {label} {expr.strip()!r} references "
                f"{', '.join(hot)} assigned inside the loop — not "
                f"loop-invariant, so the closed-form iteration count "
                f"would be wrong"
            )
    outer = {k: e for k, e in bindings.items() if k != v}
    start = bindings[v]
    step = _subst(ms.group("s"), outer).strip()
    bound = _subst(mc.group("b"), outer).strip()
    # the exit threshold bx: the loop runs while v is strictly on the
    # start side of bx — '<' exits at v >= b, '<=' at v >= b+1, '>'
    # at v <= b, '>=' at v <= b-1 — so hi/final share one formula
    if op == "<":
        bx = f"({bound})"
    elif op == "<=":
        bx = f"(({bound}) + 1)"
    elif op == ">":
        bx = f"({bound})"
    else:
        bx = f"(({bound}) - 1)"
    sb = f"CAST(({start}) AS BIGINT)"
    xb = f"CAST({bx} AS BIGINT)"
    st = f"CAST(({step}) AS BIGINT)"
    # the loop variable gets a FRESH name: v's binding becomes the
    # post-loop closed form, and a body column reference under v's
    # own name would be corrupted when a later _subst pass for v
    # touches binding text the loop expressions were planted into
    fresh = _next_fold(f"w_{v}")
    if sign == "+":
        hi = f"{xb} - 1"
        final = (
            f"(CASE WHEN {sb} >= {xb} THEN {sb} ELSE {sb} + {st} * "
            f"CAST(CEIL(({xb} - {sb}) / CAST({st} AS DOUBLE)) "
            f"AS BIGINT) END)"
        )
        head = f"FOR {fresh} IN {sb}..({hi}) BY {st} LOOP "
    else:
        hi = f"{xb} + 1"
        final = (
            f"(CASE WHEN {sb} <= {xb} THEN {sb} ELSE {sb} - {st} * "
            f"CAST(CEIL(({sb} - {xb}) / CAST({st} AS DOUBLE)) "
            f"AS BIGINT) END)"
        )
        head = f"FOR {fresh} IN REVERSE {sb}..({hi}) BY {st} LOOP "
    acc_body = " ".join(s + ";" for s in stmts[:-1])
    pat = re.compile(rf"(?<!\.)\b{re.escape(v)}\b", re.IGNORECASE)
    spos = 0
    while True:
        mv = pat.search(mask(acc_body), spos)
        if mv is None:
            break
        acc_body = acc_body[:mv.start()] + fresh + acc_body[mv.end():]
        spos = mv.start() + len(fresh)
    bindings[v] = final
    if not acc_body.strip():
        # counter-only loop: nothing aggregates — the loop IS its
        # closed-form final counter, no relation needed at all
        return text[:pos] + text[end_after:].lstrip(";")
    return (
        text[:pos] + head + acc_body + " END LOOP; "
        + text[end_after:].lstrip(";")
    )


def _parse_for_block(text: str, pos: int) -> tuple[str, str, str, int] | None:
    """If a FOR <var> IN <query> LOOP <body> END LOOP[;] construct
    starts at ``pos`` (caller already skipped whitespace), return
    (var, query, body, next_pos); else None."""
    rest = text[pos:]
    m = _FOR_HEAD.match(rest)
    if m is None:
        return None
    masked = mask(rest)
    ml = re.search(r"\bLOOP\b", masked[m.end():])
    if ml is None:
        raise ValueError("plpgsql: FOR without LOOP")
    q_end = m.end() + ml.start()
    me = re.search(r"\bEND\s+LOOP\b\s*;?", masked[q_end:])
    if me is None:
        raise ValueError("plpgsql: FOR LOOP without END LOOP")
    body = rest[q_end + ml.end() - ml.start():q_end + me.start()]
    return (
        m.group("var").lower(),
        rest[m.end():q_end].strip(),
        body.strip(),
        pos + q_end + me.end(),
    )


def _parse_loop_accs(
    var: str, query_sql: str, body: str, bindings: dict[str, str]
) -> tuple[list[tuple[str, str, str, str]], str]:
    """Validate a ``FOR var IN <query> LOOP <accumulator assignments>
    END LOOP`` body and return ``([(acc, kind, e_sub, old)], q_sub)``
    with outer bindings substituted — kind in {'+','-','MAX','MIN'}.
    The caller chooses the compilation: the single-subquery fold
    (continuation inside ONE aggregate projection — one scan) or the
    per-accumulator scalar-subquery bindings (the general fallback).
    Any non-accumulator body statement, or an RHS referencing another
    loop accumulator (a sequential dependence — running totals need a
    window function, not a scalar aggregate), refuses with the
    rewrite named."""
    stripped = strip_comments(query_sql).strip()
    if re.fullmatch(r"\w+", stripped) and stripped.lower() in _CURSORS:
        # BOUND cursor source (exec_stmt_forc): pure name indirection
        # to the DECLAREd query — gram.y decl_cursor_query
        query_sql = _CURSORS[stripped.lower()]
        stripped = strip_comments(query_sql).strip()
    if not re.match(r"^SELECT\b", stripped, re.IGNORECASE):
        m_range = _INT_RANGE.match(stripped)
        if m_range is None:
            raise NotImplementedError(
                "plpgsql: only FOR ... IN SELECT ... LOOP, bound-cursor "
                "sources (DECLARE c CURSOR FOR <query>), and bounded "
                "integer ranges (FOR i IN [REVERSE] a..b [BY s]) "
                "compile; dynamic sources have no aggregate form"
            )
        query_sql = _int_range_select(var, m_range)
    stmts = split_top(body, ";")
    # LEADING `CONTINUE WHEN <cond>;` statements (pl_exec.cpp
    # exec_stmt_exit, is_exit=false): skipping the whole remaining
    # body for matching rows IS a row filter over the loop source —
    # each peeled condition becomes a WHERE NOT COALESCE(cond, FALSE)
    # on the aggregate's input (NULL conditions keep the row, as PG's
    # CONTINUE only fires on TRUE).  Mid-body CONTINUE would filter
    # only the statements after it, so it refuses below.
    filters: list[str] = []
    while stmts:
        mc = re.match(r"CONTINUE\s+WHEN\s+(?P<c>.+)$", stmts[0],
                      re.IGNORECASE | re.DOTALL)
        if mc is None:
            break
        filters.append(mc.group("c").strip())
        stmts.pop(0)
    if not stmts:
        raise NotImplementedError(
            "plpgsql: empty FOR loop body — nothing to aggregate"
        )
    accs: list[tuple[str, str, str]] = []  # (acc, kind, rhs-expr)
    for stmt in stmts:
        m = _ACC_SUM.match(stmt)
        if m:
            accs.append((m.group("v").lower(), m.group("op"), m.group("e")))
            continue
        m = _ACC_EXTREME.match(stmt)
        if m:
            fn = m.group("fn").upper()
            accs.append((m.group("v").lower(),
                         "MAX" if fn == "GREATEST" else "MIN",
                         m.group("e")))
            continue
        if re.match(r"CONTINUE\b", stmt, re.IGNORECASE):
            raise NotImplementedError(
                "plpgsql: CONTINUE WHEN compiles only as the LEADING "
                "statement(s) of an accumulator loop body (a row "
                "filter over the loop source); a mid-body CONTINUE "
                "filters only the statements after it — fold the "
                "condition into each accumulator expression instead"
            )
        raise NotImplementedError(
            "plpgsql: a FOR loop body may only contain accumulator "
            "assignments (acc := acc + e / acc := GREATEST(acc, e)); "
            f"got {stmt.split(None, 1)[0].upper()!r} — rewrite the loop "
            "as one set-oriented statement"
        )
    acc_names = {a for a, _, _ in accs}
    if var in acc_names:
        raise ValueError("plpgsql: FOR target reassigned inside its loop")
    # per-accumulator kind coherence: additive statements compose with
    # additive (the row-interleaved loop equals the sum of sums) and
    # extremes compose with the SAME extreme (max is commutative and
    # idempotent across rows), but mixing kinds on one accumulator
    # interleaves per row — v := v + r.c; v := GREATEST(v, r.c) over
    # rows [5, -10] yields -5 in the loop but 5 from composed
    # aggregates — so mixed kinds refuse rather than miscompile
    kind_class = {"+": "additive", "-": "additive",
                  "MAX": "MAX", "MIN": "MIN"}
    by_acc: dict[str, set[str]] = {}
    for a, kind, _ in accs:
        by_acc.setdefault(a, set()).add(kind_class[kind])
    for a, classes in by_acc.items():
        if len(classes) > 1:
            raise NotImplementedError(
                f"plpgsql: accumulator {a!r} mixes "
                f"{'/'.join(sorted(classes))} updates in one loop — the "
                "row-interleaved result differs from composed "
                "aggregates; use separate variables per kind"
            )
    # substitute outer bindings into the loop query and each RHS, but
    # never the accumulators themselves (their loop-carried value IS
    # the aggregate being built) and never the row variable
    outer = {k: v for k, v in bindings.items()
             if k not in acc_names and k != var}
    for c in filters:
        masked_c = mask(c)
        for a in acc_names:
            if re.search(rf"(?<!\.)\b{re.escape(a)}\b", masked_c,
                         re.IGNORECASE):
                raise NotImplementedError(
                    f"plpgsql: CONTINUE WHEN reads accumulator {a!r} "
                    "updated in the same loop — a sequential "
                    "dependence; rewrite with a window function"
                )
    if filters:
        conj = " AND ".join(f"NOT COALESCE(({c}), FALSE)"
                            for c in filters)
        query_sql = (f"SELECT * FROM ({query_sql}) AS {var} "
                     f"WHERE {conj}")
    q_sub = _subst(query_sql, outer)
    out: list[tuple[str, str, str, str]] = []
    for acc, kind, e in accs:
        masked_e = mask(e)
        for other in acc_names - {acc}:
            if re.search(rf"(?<!\.)\b{re.escape(other)}\b", masked_e,
                         re.IGNORECASE):
                raise NotImplementedError(
                    f"plpgsql: accumulator {acc!r} reads {other!r} "
                    "updated in the same loop — a sequential dependence; "
                    "rewrite with a window function"
                )
        if re.search(rf"(?<!\.)\b{re.escape(acc)}\b", masked_e,
                     re.IGNORECASE):
            raise NotImplementedError(
                f"plpgsql: accumulator {acc!r} appears on its own RHS "
                "beyond the leading accumulator position"
            )
        e_sub = _subst(e, outer)
        old = bindings.get(acc)
        if old is None:
            raise ValueError(
                f"plpgsql: FOR loop accumulates into undeclared "
                f"variable {acc!r}"
            )
        out.append((acc, kind, e_sub, old))
    return out, q_sub


def _acc_agg_expr(kind: str, e_sub: str, old: str) -> str:
    """The accumulator's whole-loop value as a bare AGGREGATE-FUNCTION
    expression (lives inside the one shared subquery's projection):
    additive → old ± COALESCE(SUM(e), 0); extremes → GREATEST/LEAST
    with the old value as the empty-set identity."""
    if kind in ("+", "-"):
        return f"({old} {kind} COALESCE(SUM({e_sub}), 0))"
    fn = "GREATEST" if kind == "MAX" else "LEAST"
    return f"{fn}({old}, COALESCE({kind}({e_sub}), {old}))"


def _acc_scalar_expr(kind: str, e_sub: str, old: str, q_sub: str,
                     var: str) -> str:
    """The same accumulator value as a STANDALONE scalar subquery —
    the general form, usable in any expression position (fallback when
    the single-subquery fold cannot apply)."""
    if kind in ("+", "-"):
        agg = f"(SELECT SUM({e_sub}) FROM ({q_sub}) AS {var})"
        return f"({old} {kind} COALESCE({agg}, 0))"
    agg = f"(SELECT {kind}({e_sub}) FROM ({q_sub}) AS {var})"
    fn = "GREATEST" if kind == "MAX" else "LEAST"
    return f"{fn}({old}, COALESCE({agg}, {old}))"


def _fold_for_loop(
    var: str, query_sql: str, body: str, bindings: dict[str, str]
) -> None:
    """Binding-mutation form of the loop compilation (used where no
    single continuation expression exists to wrap — RETURN-free IF
    branch bodies): each accumulator binds to its standalone
    scalar-subquery value.  Repeated statements over one accumulator
    chain sequentially (the second update's old value is the first's
    result — same-kind updates compose, pinned by the property
    test)."""
    accs, q_sub = _parse_loop_accs(var, query_sql, body, bindings)
    for acc, kind, e_sub, _old in accs:
        bindings[acc] = _acc_scalar_expr(
            kind, e_sub, bindings[acc], q_sub, var
        )


# unique-placeholder counter for the single-subquery folds; reset per
# translate_plpgsql call so repeated compilations of the same source
# emit byte-identical DDL
_FOLD_SEQ = [0]


def _next_fold(name: str) -> str:
    _FOLD_SEQ[0] += 1
    return f"__fold{_FOLD_SEQ[0]}_{name}"


# function parameter names of the translation in progress: a param
# reference in a fold's projection would become a correlated outer
# reference OUTSIDE the subquery's WHERE — Spark only supports outer
# references in WHERE/HAVING, so such folds must fall back
_FOLD_PARAMS: list[str] = []


def _projection_safe(*texts: str) -> bool:
    """True when none of ``texts`` (string-masked) contains a nested
    (SELECT ...) or a function-parameter reference — i.e. the texts
    may sit in the PROJECTION of the fold's wrapping subquery.  The
    loop query itself is exempt (it lands in FROM/WHERE, where outer
    references are legal)."""
    for t in texts:
        masked = mask(t)
        if re.search(r"\(\s*SELECT\b", masked, re.IGNORECASE):
            return False
        for prm in _FOLD_PARAMS:
            if re.search(rf"(?<!\.)\b{re.escape(prm)}\b", masked,
                         re.IGNORECASE):
                return False
    return True


def _raise_message_expr(msg: str, args_text: str | None,
                        bindings: dict[str, str]) -> str:
    """SQL string expression for a RAISE format message: literal
    segments CONCAT with the evaluated arguments, one per ``%``
    (``%%`` escapes, NULL renders ``<NULL>`` — pl_exec
    exec_stmt_raise).  Splits only at %, so the literal's doubled
    quotes stay balanced in every segment."""
    if not args_text:
        return f"'{msg}'"
    args = [_subst(a, bindings).strip() for a in split_top(args_text)]
    parts: list[str] = []
    cur: list[str] = []
    i = ai = 0
    while i < len(msg):
        if msg[i] == "%" and i + 1 < len(msg) and msg[i + 1] == "%":
            cur.append("%")
            i += 2
            continue
        if msg[i] == "%":
            if ai >= len(args):
                raise ValueError(
                    "plpgsql RAISE: too few parameters for format "
                    "string"
                )
            parts.append("'" + "".join(cur) + "'")
            cur = []
            parts.append(
                f"COALESCE(CAST(({args[ai]}) AS STRING), '<NULL>')"
            )
            ai += 1
            i += 1
            continue
        cur.append(msg[i])
        i += 1
    if ai != len(args):
        raise ValueError(
            "plpgsql RAISE: too many parameters for format string"
        )
    parts.append("'" + "".join(cur) + "'")
    if len(parts) == 1:
        return parts[0]
    return "CONCAT(" + ", ".join(parts) + ")"


def _compile_stmts(text: str, bindings: dict[str, str]) -> str:
    """Compile a statement sequence to ONE SQL expression: the value
    the sequence RETURNs. Assignments update bindings; IF compiles to
    CASE with the post-IF continuation as the implicit ELSE.

    FOR-IN-SELECT loops and aggregate-shaped SELECT INTO statements
    compile by the SINGLE-SUBQUERY FOLD: the continuation (everything
    the function computes after the statement) compiles to one
    expression over unique placeholders, then the placeholders are
    replaced by the aggregate expressions and the whole thing wraps as
    ``(SELECT <continuation> FROM <source>)`` — the source is scanned
    ONCE no matter how many accumulators the loop carries or how many
    times a bound variable is mentioned (the r7 verdict's 10-scan
    plan becomes the oracle's own 2-scan shape; Catalyst dedupes the
    repeated aggregate functions inside the one projection).  When a
    placeholder would land inside a NESTED subquery of the
    continuation (another loop's query reading this loop's total),
    the fold is invalid SQL and the per-mention scalar-subquery
    binding form applies instead — correct, just not single-scan."""
    pos, n = 0, len(text)
    while pos < n:
        rest = text[pos:].lstrip()
        off = len(text[pos:]) - len(rest)
        if not rest:
            break
        rewritten = _try_rewrite_while(text, pos + off, bindings)
        if rewritten is None:
            rewritten = _try_rewrite_foreach(text, pos + off, bindings)
        if rewritten is None:
            rewritten = _try_rewrite_bare_loop(text, pos + off, bindings)
        if rewritten is not None:
            text, n = rewritten, len(rewritten)
            continue  # re-dispatch: the WHILE/FOREACH is now a FOR
        parsed_for = _parse_for_block(text, pos + off)
        if parsed_for is not None:
            fvar, fquery, fbody, nxt = parsed_for
            accs, q_sub = _parse_loop_accs(fvar, fquery, fbody, bindings)
            # single-subquery fold: compile the continuation over
            # placeholders, then plant the aggregates into ONE wrap
            inner = dict(bindings)
            # repeated statements over one accumulator chain
            # sequentially: update i's old value is update i-1's
            # result (same-kind updates compose)
            agg_cur: dict[str, str] = {}
            for acc, kind, e_sub, old in accs:
                agg_cur[acc] = _acc_agg_expr(
                    kind, e_sub, agg_cur.get(acc, old)
                )
            ph: dict[str, str] = {}
            for acc, final in agg_cur.items():
                name = _next_fold(acc)
                ph[name] = final
                inner[acc] = name
            cont = _compile_stmts(text[nxt:], inner)
            used = [n for n in ph if re.search(rf"\b{n}\b", cont)]
            if not used:
                # loop result never read — the scan is dead code
                return cont
            if _projection_safe(cont, *[ph[n] for n in used]):
                for name in used:
                    rep = ph[name]
                    cont = re.sub(rf"\b{re.escape(name)}\b",
                                  lambda _m, r=rep: r, cont)
                return f"(SELECT {cont} FROM ({q_sub}) AS {fvar})"
            # fallback: per-accumulator scalar-subquery bindings
            for acc, kind, e_sub, _old in accs:
                bindings[acc] = _acc_scalar_expr(
                    kind, e_sub, bindings[acc], q_sub, fvar
                )
            pos = nxt
            continue
        m_if = re.match(r"IF\b", rest, re.IGNORECASE)
        if m_if:
            start = pos + off + m_if.end()
            end_start, end_after = _find_end_if(text, start)
            block = text[start:end_start]
            branches = _split_branches(block)
            if not re.search(r"\b(RETURN|RAISE)\b", mask(block),
                             re.IGNORECASE):
                # conditional ASSIGNMENT (no branch terminates): fold
                # each assigned variable into CASE WHEN cond THEN new
                # ELSE old END and keep scanning the continuation
                _fold_conditional_assign(branches, bindings)
                pos = end_after
                continue
            continuation = text[end_after:]
            whens = []
            has_else = False
            for cond, body in branches:
                # compile branch + continuation as one sequence: a
                # branch that RETURNs never reaches the continuation
                # (dead code after RETURN), while a branch that only
                # assigns falls through into it with its updated
                # bindings — exactly pl_exec's control flow
                merged = body.rstrip()
                if merged and not merged.endswith(";"):
                    merged += ";"
                merged = merged + "\n" + continuation
                val = _compile_stmts(merged, dict(bindings))
                if cond is None:
                    has_else = True
                    whens.append(f"ELSE {val}")
                else:
                    whens.append(f"WHEN {_subst(cond, bindings)} THEN {val}")
            if not has_else:
                cont = _compile_stmts(continuation, dict(bindings))
                whens.append(f"ELSE {cont}")
            return "CASE " + " ".join(whens) + " END"
        stmt, pos = _scan_stmt(text, pos + off)
        if not stmt:
            continue
        m_ret = re.match(r"RETURN\s+(?P<e>.+)$", stmt,
                         re.IGNORECASE | re.DOTALL)
        if m_ret:
            return _subst(m_ret.group("e"), bindings)
        m_raise = re.match(
            r"RAISE\s+EXCEPTION\s+'(?P<msg>(?:[^']|'')*)'"
            r"(?:\s*,\s*(?P<args>.+?))?\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m_raise:
            # pl_exec.cpp exec_stmt_raise → Spark raise_error(); typed
            # NULL keeps every CASE branch the same type
            expr = _raise_message_expr(
                m_raise.group("msg"), m_raise.group("args"), bindings
            )
            return f"raise_error({expr})"
        m_asn = re.match(r"(?P<v>\w+)\s*:=\s*(?P<e>.+)$", stmt,
                         re.IGNORECASE | re.DOTALL)
        if m_asn:
            bindings[m_asn.group("v").lower()] = _subst(
                m_asn.group("e"), bindings
            )
            continue
        # SELECT expr INTO var [FROM ...] (pl_exec exec_stmt_execsql's
        # INTO path) → scalar-subquery binding, which Catalyst plans as
        # a one-row subquery join
        m_into = re.match(
            r"SELECT\s+(?P<e>.+?)\s+INTO\s+(?:STRICT\s+)?(?P<v>\w+)"
            r"(?P<tail>\s+FROM\s+.+)?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m_into:
            tail = (m_into.group("tail") or "").strip()
            v = m_into.group("v").lower()
            e_sub = _subst(m_into.group("e"), bindings)
            tail_sub = _subst(tail, bindings) if tail else ""
            # single-subquery fold, but ONLY when the INTO query is a
            # plain no-GROUP-BY aggregate: that shape returns exactly
            # one row, so wrapping the continuation inside it keeps
            # plpgsql's zero-row semantics (var := NULL, body runs)
            # while scanning the source once however many times the
            # variable is mentioned.  Non-aggregate INTO queries can
            # return zero rows — the wrap would NULL the whole result
            # — so they keep the per-mention scalar-subquery binding.
            masked_e = mask(e_sub)
            masked_t = mask(tail_sub)
            is_agg = (
                re.search(
                    r"\b(SUM|COUNT|AVG|MIN|MAX|STDDEV\w*|VAR\w*|"
                    r"MEDIAN|ANY_VALUE|BOOL_AND|BOOL_OR)\s*\(",
                    masked_e, re.IGNORECASE,
                )
                and not re.search(r"\bOVER\s*\(", masked_e,
                                  re.IGNORECASE)
                and not re.search(r"\b(GROUP\s+BY|HAVING|LIMIT|SELECT)"
                                  r"\b", masked_e + " " + masked_t,
                                  re.IGNORECASE)
            )
            if is_agg:
                name = _next_fold(v)
                inner = dict(bindings)
                inner[v] = name
                cont = _compile_stmts(text[pos:], inner)
                if not re.search(rf"\b{name}\b", cont):
                    return cont  # variable never read — dead scan
                if _projection_safe(cont, e_sub):
                    cont = re.sub(rf"\b{name}\b",
                                  lambda _m, r=f"({e_sub})": r, cont)
                    wrap = "(SELECT " + cont
                    if tail_sub:
                        wrap += " " + tail_sub
                    return wrap + ")"
            # general form: bind the scalar subquery per mention
            # (explicit space before the tail: _subst strips, and a
            # selected expression ending in an identifier would
            # otherwise glue onto FROM — 'cntFROM metrics')
            sub = "(SELECT " + e_sub
            if tail_sub:
                sub += " " + tail_sub
            bindings[v] = sub + ")"
            continue
        raise NotImplementedError(
            f"plpgsql statement not in the declarative subset: "
            f"{stmt.split(None, 1)[0].upper()!r} — see module docstring "
            "for the Spark-side rewrite"
        )
    raise ValueError(
        "plpgsql: control reached end of function without RETURN"
    )


def _fold_conditional_assign(
    branches: list[tuple[str | None, str]], bindings: dict[str, str]
) -> None:
    """Fold a RETURN-free IF block into the bindings: each variable a
    branch assigns becomes CASE WHEN cond THEN new ELSE old END.
    Branch bodies may themselves contain nested RETURN-free IF blocks
    (applied recursively via _apply_stmts)."""
    updates: list[tuple[str | None, dict[str, str]]] = []
    assigned: set[str] = set()
    for cond, body in branches:
        b = dict(bindings)
        _apply_stmts(body, b)
        changed = {k: v for k, v in b.items() if bindings.get(k) != v}
        assigned |= set(changed)
        updates.append(
            (None if cond is None else _subst(cond, bindings), changed)
        )
    for var in assigned:
        old = bindings.get(var)
        if old is None:
            raise ValueError(
                f"plpgsql: conditional assignment to undeclared "
                f"variable {var!r}"
            )
        whens = []
        has_else = False
        for cond, changed in updates:
            val = changed.get(var, old)
            if cond is None:
                has_else = True
                whens.append(f"ELSE {val}")
            else:
                whens.append(f"WHEN {cond} THEN {val}")
        if not has_else:
            whens.append(f"ELSE {old}")
        bindings[var] = "CASE " + " ".join(whens) + " END"


def _apply_stmts(body: str, bindings: dict[str, str]) -> None:
    """Apply a RETURN-free statement sequence to the bindings:
    assignments update them directly; nested IF blocks fold via
    _fold_conditional_assign."""
    pos, n = 0, len(body)
    while pos < n:
        rest = body[pos:].lstrip()
        off = len(body[pos:]) - len(rest)
        if not rest:
            break
        rewritten = _try_rewrite_while(body, pos + off, bindings)
        if rewritten is None:
            rewritten = _try_rewrite_foreach(body, pos + off, bindings)
        if rewritten is None:
            rewritten = _try_rewrite_bare_loop(body, pos + off, bindings)
        if rewritten is not None:
            body, n = rewritten, len(rewritten)
            continue  # re-dispatch: the WHILE/FOREACH is now a FOR
        parsed_for = _parse_for_block(body, pos + off)
        if parsed_for is not None:
            fvar, fquery, fbody, pos = parsed_for
            _fold_for_loop(fvar, fquery, fbody, bindings)
            continue
        m_if = re.match(r"IF\b", rest, re.IGNORECASE)
        if m_if:
            start = pos + off + m_if.end()
            end_start, end_after = _find_end_if(body, start)
            _fold_conditional_assign(
                _split_branches(body[start:end_start]), bindings
            )
            pos = end_after
            continue
        stmt, pos = _scan_stmt(body, pos + off)
        if not stmt:
            continue
        m = re.match(r"(?P<v>\w+)\s*:=\s*(?P<e>.+)$", stmt,
                     re.IGNORECASE | re.DOTALL)
        if not m:
            raise NotImplementedError(
                "plpgsql: a non-terminating IF branch may only contain "
                f"assignments (got {stmt.split(None, 1)[0].upper()!r})"
            )
        bindings[m.group("v").lower()] = _subst(m.group("e"), bindings)


# bound-cursor declarations of the CURRENT translate_plpgsql call:
# name → query text (the _FOLD_PARAMS per-call-registry convention)
_CURSORS: dict[str, str] = {}


def _parse_decls(decls: str, bindings: dict[str, str]) -> None:
    for stmt in split_top(decls, ";"):
        mc = re.match(
            r"(?P<v>\w+)\s+(?:NO\s+SCROLL\s+|SCROLL\s+)?CURSOR\s+"
            r"(?:FOR|IS)\s+(?P<q>.+)$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if mc:
            _CURSORS[mc.group("v").lower()] = mc.group("q").strip()
            continue
        m = re.match(
            r"(?P<v>\w+)\s+(?P<t>\w+(?:\s+\w+)?"
            r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
            r"(?:\s*:=\s*(?P<e>.+))?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if not m:
            if re.search(r"%\s*(TYPE|ROWTYPE)\b", stmt, re.IGNORECASE):
                raise NotImplementedError(
                    "plpgsql: %TYPE/%ROWTYPE declarations need catalog "
                    "access the pure function compiler does not have — "
                    "declare the concrete type (DO blocks and "
                    "procedures DO resolve tbl.col%TYPE, "
                    "operators/do_block.py)"
                )
            raise ValueError(f"plpgsql: cannot parse declaration {stmt!r}")
        v = m.group("v").lower()
        if m.group("t").strip().upper() == "RECORD":
            # FOR-loop row variables: never bound — their qualified
            # column references resolve against the loop query's alias
            continue
        if m.group("e") is not None:
            bindings[v] = _subst(m.group("e"), bindings)
        else:
            bindings[v] = f"CAST(NULL AS {_map_type(m.group('t'))})"


# ---------------------------------------------------------------------
# EXCEPTION blocks — the no-subtransaction subset (pl_exec.cpp:95
# exec_stmt_block exception frames; regress hw_functions.sql).  A
# handler over a STRAIGHT-LINE body (assignments / SELECT INTO /
# RETURN / RAISE — no IF/CASE/loops) is a total-function rewrite:
# every statement executes unconditionally, so the operations that can
# raise are statically enumerable — divisions (division_by_zero),
# explicit CASTs (invalid_text_representation /
# numeric_value_out_of_range), and RAISE EXCEPTION (caught by OTHERS).
# The compiled form is ``CASE WHEN <guard_1> THEN <handler(site_1)>
# ... ELSE <body> END`` with guards in EVALUATION order (first error
# wins, as pl_exec raises at the first failing operation), and CASE's
# lazy branch evaluation keeps the failing operation from running.
# Control-flow bodies refuse: a division inside an untaken branch must
# not trigger the handler.  Errors with no matching handler fall into
# the ELSE body and raise naturally — PG's re-throw.
_EXC_CONDS = {
    "division_by_zero": "div",
    "invalid_text_representation": "cast",
    "numeric_value_out_of_range": "cast",
    "others": "all",
}

_HANDLER_WHEN = re.compile(
    r"\s*WHEN\s+(?P<conds>(?:SQLSTATE\s+'\w+'|\w+)"
    r"(?:\s+OR\s+(?:SQLSTATE\s+'\w+'|\w+))*)\s+THEN\s+",
    re.IGNORECASE,
)

# WHEN SQLSTATE 'xxxxx' — elog.h errcodes for the guarded classes
_SQLSTATE_CONDS = {
    "22012": "division_by_zero",
    "22p02": "invalid_text_representation",
    "22003": "numeric_value_out_of_range",
    "p0001": "raise_exception",
}


def _norm_cond(c: str) -> str:
    """Normalize one handler condition token: SQLSTATE 'code' maps to
    its named condition (unknown codes normalize to the raw text so
    the caller's supported-set check names them in its refusal)."""
    c = c.strip().lower()
    m = re.match(r"sqlstate\s+'(\w+)'$", c)
    if m:
        return _SQLSTATE_CONDS.get(m.group(1), f"sqlstate '{m.group(1)}'")
    return c


def _split_exception(body: str) -> tuple[str, str] | None:
    """(main, handlers) at the top-level EXCEPTION keyword, or None
    when the block has no exception section.  RAISE EXCEPTION never
    splits (it is a statement, not the section header)."""
    masked = mask(body)
    for m in top_level(masked, r"\bEXCEPTION\b"):
        if re.search(r"RAISE\s*$", masked[:m.start()], re.IGNORECASE):
            continue
        return body[:m.start()], body[m.end():]
    return None


def _operand_span(e: str, masked: str, i: int) -> tuple[int, int] | None:
    """(start, end) of the operand beginning at or after ``i`` —
    optional unary sign, then a number / [qualified] identifier with
    optional call parens / parenthesized expression / string literal.
    None when the text there is not a parseable operand."""
    n = len(e)
    while i < n and e[i].isspace():
        i += 1
    if i >= n:
        return None
    start = i
    if e[i] in "+-":
        inner = _operand_span(e, masked, i + 1)
        return (start, inner[1]) if inner else None
    if e[i] == "(":
        j = close_paren(masked, i)
        return (start, j + 1) if j != -1 else None
    if masked[i] == "'":
        # masked keeps quotes: a literal scans as a ' ... ' span
        j = masked.find("'", i + 1)
        return (start, j + 1) if j != -1 else None
    m = re.match(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", e[i:])
    if m:
        return (start, i + m.end())
    m = re.match(r"\w+(?:\.\w+)*", e[i:])
    if m:
        j = i + m.end()
        k = j
        while k < n and e[k].isspace():
            k += 1
        if k < n and e[k] == "(":  # call
            p = close_paren(masked, k)
            return (start, p + 1) if p != -1 else None
        return (start, j)
    return None


def _exc_refuse(why: str):
    raise NotImplementedError(
        f"plpgsql EXCEPTION: {why}; the compilable subset is a "
        "straight-line body (assignments / SELECT INTO / RETURN / "
        "RAISE) whose raisable operations are divisions and explicit "
        "CASTs — restructure, or validate inputs with IF ... RAISE "
        "EXCEPTION guards before the operation"
    )


def _collect_guards(e: str, guards: list[tuple[str, str]]) -> None:
    """Append (class, guard_sql) for every raisable site of the
    substituted expression ``e``, in left-to-right evaluation order:
    '/'|'%%' denominators → division_by_zero, CAST(x AS t) →
    the cast-failure classes.  Refuses shapes whose guard cannot be
    both sound and non-raising (sites inside subqueries raise per-row;
    nested raisable operations would make the guard itself raise)."""
    masked = mask(e)
    if re.search(r"\bSELECT\b", masked, re.IGNORECASE) and (
        re.search(r"[/%]", masked) or
        re.search(r"\bCAST\s*\(", masked, re.IGNORECASE)
    ):
        _exc_refuse(
            "a division or CAST inside a subquery raises per-row — "
            "no static guard exists; compute the guarded expression "
            "outside the subquery"
        )
    if "::" in masked:
        _exc_refuse("'::' casts are invisible to the guard extractor "
                    "— write CAST(expr AS type)")
    sites: list[tuple[int, str, str]] = []
    for i, ch in enumerate(masked):
        if ch not in "/%":
            continue
        span = _operand_span(e, masked, i + 1)
        if span is None:
            _exc_refuse(f"cannot parse the denominator after "
                        f"{e[max(0, i - 12):i + 1]!r}")
        rhs = e[span[0]:span[1]].strip()
        if ch == "%" and rhs.startswith("'"):
            continue  # pg_trgm similarity operator, not modulo
        if re.search(r"[/%]|\bCAST\s*\(",
                     mask(rhs), re.IGNORECASE):
            _exc_refuse(
                f"the denominator {rhs!r} itself contains a raisable "
                "operation, so its guard could raise before the "
                "handler decides"
            )
        sites.append((i, "div", f"({rhs}) = 0"))
    for m in re.finditer(r"\bCAST\s*\(", masked, re.IGNORECASE):
        close = close_paren(masked, m.end() - 1)
        if close == -1:
            _exc_refuse("unbalanced CAST parentheses")
        inner = e[m.end():close]
        m_as = next(top_level(inner, r"\bAS\b"), None)
        if m_as is None:
            _exc_refuse("CAST without AS")
        src = inner[:m_as.start()].strip()
        typ = inner[m_as.end():].strip()
        # casts to string types cannot fail (every value has a text
        # rendering) — not a raisable site, no guard, and a division
        # inside the source is ITS OWN site, already collected
        if re.match(r"(text|string|varchar|char|clob)\b", typ,
                    re.IGNORECASE):
            continue
        if re.search(r"[/%]|\bCAST\s*\(",
                     mask(src), re.IGNORECASE):
            _exc_refuse(
                f"the CAST source {src!r} itself contains a raisable "
                "operation — split it into its own guarded statement"
            )
        sites.append((
            m.start(), "cast",
            f"(TRY_CAST(({src}) AS {typ}) IS NULL"
            f" AND ({src}) IS NOT NULL)",
        ))
    for _pos, cls, g in sorted(sites):
        guards.append((cls, g))


def _compile_exception_block(
    main: str, handlers_text: str, bindings: dict[str, str]
) -> str:
    entry = dict(bindings)
    # ------------------------------------------------ parse handlers
    handlers: list[tuple[list[str], str]] = []
    m0 = _HANDLER_WHEN.match(handlers_text)
    if m0 is None:
        raise ValueError("plpgsql: EXCEPTION section without a "
                         "WHEN <condition> THEN handler")
    conds = [_norm_cond(c)
             for c in re.split(r"\s+OR\s+", m0.group("conds"),
                               flags=re.IGNORECASE)]
    pos, seg_start = m0.end(), m0.end()
    while pos < len(handlers_text):
        rest = handlers_text[pos:].lstrip()
        off = len(handlers_text[pos:]) - len(rest)
        mn = _HANDLER_WHEN.match(handlers_text, pos + off)
        if mn and all(
            _norm_cond(c) in _EXC_CONDS
            for c in re.split(r"\s+OR\s+", mn.group("conds"),
                              flags=re.IGNORECASE)
        ):
            handlers.append((conds, handlers_text[seg_start:pos + off]))
            conds = [_norm_cond(c)
                     for c in re.split(r"\s+OR\s+", mn.group("conds"),
                                       flags=re.IGNORECASE)]
            pos = seg_start = mn.end()
            continue
        _stmt, pos = _scan_stmt(handlers_text, pos + off)
    handlers.append((conds, handlers_text[seg_start:]))
    cast_owner = None
    for cs, _stmts in handlers:
        for c in cs:
            if c not in _EXC_CONDS:
                _exc_refuse(
                    f"condition {c!r} has no static guard — supported: "
                    + ", ".join(sorted(_EXC_CONDS))
                )
    for ci, (cs, _stmts) in enumerate(handlers):
        for c in cs:
            if _EXC_CONDS[c] == "cast":
                if cast_owner is not None and cast_owner != ci:
                    _exc_refuse(
                        "invalid_text_representation and "
                        "numeric_value_out_of_range in SEPARATE "
                        "handlers — a failed TRY_CAST cannot "
                        "statically distinguish them; handle both in "
                        "one handler (WHEN a OR b THEN)"
                    )
                cast_owner = ci
    # ------------------------------------------------ walk the body
    masked_main = mask(main)
    if re.search(r"\b(IF|CASE|LOOP|FOR|WHILE|FOREACH)\b",
                 masked_main, re.IGNORECASE):
        _exc_refuse(
            "control flow inside the guarded block — a raisable "
            "operation in an untaken branch must not fire the handler"
        )
    if re.search(r"\b(INSERT|UPDATE|DELETE|MERGE)\b",
                 masked_main, re.IGNORECASE):
        _exc_refuse(
            "DML inside the guarded block needs a real subtransaction "
            "to roll back — run the DML as its own statement"
        )
    guards: list[tuple[str, str]] = []
    assigned: set[str] = set()
    body_expr: str | None = None
    for stmt in split_top(main, ";"):
        m_ret = re.match(r"RETURN\s+(?P<e>.+)$", stmt,
                         re.IGNORECASE | re.DOTALL)
        if m_ret:
            e_sub = _subst(m_ret.group("e"), bindings)
            _collect_guards(e_sub, guards)
            body_expr = e_sub
            break
        m_raise = re.match(
            r"RAISE\s+EXCEPTION\s+'(?P<msg>(?:[^']|'')*)'"
            r"(?:\s*,\s*(?P<args>.+?))?\s*$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m_raise:
            # caught by OTHERS (errcode P0001); otherwise propagates
            body_expr = ("__RAISE__", _raise_message_expr(
                m_raise.group("msg"), m_raise.group("args"), bindings
            ))
            break
        m_asn = re.match(r"(?P<v>\w+)\s*:=\s*(?P<e>.+)$", stmt,
                         re.IGNORECASE | re.DOTALL)
        if m_asn:
            e_sub = _subst(m_asn.group("e"), bindings)
            _collect_guards(e_sub, guards)
            v = m_asn.group("v").lower()
            assigned.add(v)
            bindings[v] = e_sub
            continue
        m_into = re.match(
            r"SELECT\s+(?P<e>.+?)\s+INTO\s+(?:STRICT\s+)?(?P<v>\w+)"
            r"(?P<tail>\s+FROM\s+.+)?$",
            stmt, re.IGNORECASE | re.DOTALL,
        )
        if m_into:
            e_sub = _subst(m_into.group("e"), bindings)
            tail = (m_into.group("tail") or "").strip()
            tail_sub = _subst(tail, bindings) if tail else ""
            joined = e_sub + " " + tail_sub
            if re.search(r"[/%]|\bCAST\s*\(|::",
                         mask(joined), re.IGNORECASE):
                _exc_refuse(
                    "a division or CAST inside SELECT INTO raises "
                    "per-row — no static guard exists; bind the row "
                    "first, then compute the guarded expression"
                )
            v = m_into.group("v").lower()
            assigned.add(v)
            sub = "(SELECT " + e_sub
            if tail_sub:
                sub += " " + tail_sub
            bindings[v] = sub + ")"
            continue
        _exc_refuse(
            f"statement {stmt.split(None, 1)[0].upper()!r} is outside "
            "the straight-line subset"
        )
    if body_expr is None:
        raise ValueError(
            "plpgsql: control reached end of block without RETURN"
        )
    # ------------------------------------------------ assemble
    def _handler_for(cls: str) -> int | None:
        for ci, (cs, _stmts) in enumerate(handlers):
            kinds = {_EXC_CONDS[c] for c in cs}
            if cls in kinds or "all" in kinds:
                return ci
        return None

    h_expr: dict[tuple[int, str], str] = {}

    # SQLERRM inside a handler binds to the message of the error the
    # guard proved (pl_exec assigns estate->cur_error): per guard
    # class for the static guards, the RAISE message expression for
    # the raise path
    _ERRM = {
        "div": "'division by zero'",
        "cast": "'invalid input syntax or value out of range'",
    }

    def _compiled(ci: int, errm: str) -> str:
        key = (ci, errm)
        if key not in h_expr:
            cs, stmts = handlers[ci]
            hm = mask(stmts)
            hot = sorted(
                v for v in assigned
                if re.search(rf"(?<!\.)\b{re.escape(v)}\b", hm,
                             re.IGNORECASE)
            )
            if hot:
                _exc_refuse(
                    f"handler WHEN {' OR '.join(cs)} reads "
                    f"{', '.join(hot)}, assigned in the guarded body — "
                    "how far execution got before the error is not "
                    "statically known"
                )
            hb = dict(entry)
            hb["sqlerrm"] = errm
            h_expr[key] = _compile_stmts(stmts, hb)
        return h_expr[key]

    if isinstance(body_expr, tuple):
        ci = _handler_for("all")
        if ci is not None:
            body_expr = _compiled(ci, body_expr[1])
        else:
            body_expr = f"raise_error({body_expr[1]})"
    whens = []
    for cls, g in guards:
        ci = _handler_for(cls)
        if ci is None:
            continue  # unhandled: the ELSE body raises it naturally
        whens.append(f"WHEN {g} THEN {_compiled(ci, _ERRM[cls])}")
    if not whens:
        return body_expr
    return "CASE " + " ".join(whens) + f" ELSE {body_expr} END"


# PG-only type aliases appearing as CAST targets inside bodies —
# Spark's parser rejects them, so they map before compilation
# (parameter/RETURNS types go through create_function._map_type; this
# covers the expression-level `CAST(x AS text)` a migrating body uses)
_BODY_CAST_TYPES = {
    "text": "STRING", "bpchar": "STRING",
    "float8": "DOUBLE", "float4": "FLOAT",
    "int8": "BIGINT", "int4": "INT", "int2": "SMALLINT",
    "bool": "BOOLEAN",
}
_BODY_CAST_RE = re.compile(
    r"\bAS\s+(?P<t>" + "|".join(_BODY_CAST_TYPES) + r")\s*\)",
    re.IGNORECASE,
)


def _map_body_cast_types(body: str) -> str:
    masked = mask(body)
    out, last = [], 0
    for m in _BODY_CAST_RE.finditer(masked):
        out.append(body[last:m.start("t")])
        out.append(_BODY_CAST_TYPES[m.group("t").lower()])
        last = m.end("t")
    return "".join(out) + body[last:]


# ---------------------------------------------------------------------------
# CASE statements (pl_gram.y stmt_case → pl_exec.cpp exec_stmt_case).
# A plpgsql CASE STATEMENT terminates with END CASE (a CASE EXPRESSION
# terminates with a bare END), and exec_stmt_case evaluates it exactly
# like an IF/ELSIF chain — searched form compares each WHEN condition,
# simple form compares the selector against each WHEN value list — with
# CASE_NOT_FOUND raised when nothing matches and there is no ELSE.  So
# the statement form is pure sugar: rewrite it to the IF/ELSIF chain the
# existing compiler already handles, appending the reference's
# case-not-found RAISE when ELSE is absent.
# ---------------------------------------------------------------------------
_CASE_TOK = re.compile(
    r"\bEND\s+CASE\b|\bEND\s+IF\b|\bEND\s+LOOP\b|\bCASE\b|\bLOOP\b|"
    r"\bEND\b|\bWHEN\b|\bTHEN\b|\bELSE\b|\bIF\b",
    re.IGNORECASE,
)


def _norm_tok(raw: str) -> str:
    return re.sub(r"\s+", " ", raw.upper())


def _find_case_stmt(masked: str) -> tuple[int, int, int, int] | None:
    """First CASE token whose matching terminator is END CASE (i.e. a
    CASE statement, not expression): (case_start, interior_start,
    interior_end, end_after), or None."""
    for mc in re.finditer(r"\bCASE\b", masked, re.IGNORECASE):
        stack = ["CASE"]
        pos = mc.end()
        while stack:
            mt = _CASE_TOK.search(masked, pos)
            if mt is None:
                return None  # unbalanced — let the compiler refuse later
            tok = _norm_tok(mt.group(0))
            pos = mt.end()
            if tok in ("CASE", "IF", "LOOP"):
                stack.append(tok)
            elif tok in ("END CASE", "END IF", "END LOOP", "END"):
                stack.pop()
                if not stack:
                    if tok == "END CASE":
                        return mc.start(), mc.end(), mt.start(), mt.end()
                    break  # closed by a bare END: expression CASE
    return None


def _case_stmt_branches(
    interior: str,
) -> tuple[str, list[tuple[str, str]], str | None]:
    """Split a CASE statement interior into (selector, [(when_vals,
    body)], else_body) at THIS nesting level (nested IF/CASE/LOOP spans
    skipped via stack tracking on the string-masked text)."""
    masked = mask(interior)
    stack: list[str] = []
    marks: list[tuple[str, int, int]] = []
    pos = 0
    while True:
        mt = _CASE_TOK.search(masked, pos)
        if mt is None:
            break
        tok = _norm_tok(mt.group(0))
        pos = mt.end()
        if tok in ("CASE", "IF", "LOOP"):
            stack.append(tok)
        elif tok in ("END CASE", "END IF", "END LOOP", "END"):
            if stack:
                stack.pop()
        elif not stack and tok in ("WHEN", "THEN", "ELSE"):
            marks.append((tok, mt.start(), mt.end()))
    whens = [i for i, m_ in enumerate(marks) if m_[0] == "WHEN"]
    if not whens:
        raise ValueError("plpgsql: CASE statement without WHEN")
    selector = interior[: marks[whens[0]][1]].strip()
    branches: list[tuple[str, str]] = []
    else_body: str | None = None
    for idx, (tok, s, e) in enumerate(marks):
        nxt = marks[idx + 1] if idx + 1 < len(marks) else None
        if tok == "WHEN":
            if nxt is None or nxt[0] != "THEN":
                raise ValueError("plpgsql: CASE WHEN without THEN")
        elif tok == "THEN":
            body_end = (marks[idx + 1][1] if idx + 1 < len(marks)
                        else len(interior))
            vals = interior[marks[idx - 1][2]:s].strip()
            branches.append((vals, interior[e:body_end].strip()))
        elif tok == "ELSE":
            else_body = interior[e:].strip()
    return selector, branches, else_body


_ASSERT_RE = re.compile(
    # anchored to a statement START (block head / ';' / a control
    # keyword) so an identifier named `assert` mid-statement never
    # matches
    r"(?P<pre>^|;|\bBEGIN\b|\bTHEN\b|\bELSE\b|\bLOOP\b)"
    r"(?P<ws>\s*)ASSERT\s+(?P<c>[^;]+?)"
    r"(?:\s*,\s*'(?P<m>(?:[^']|'')*)')?\s*;",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_assert_stmts(body: str) -> str:
    """``ASSERT condition [, 'message'];`` (pl_exec.cpp
    exec_stmt_assert, plpgsql_check_asserts default on) is IF sugar:
    rewrite to ``IF NOT COALESCE((cond), FALSE) THEN RAISE EXCEPTION
    ...; END IF;`` — PG raises ASSERT_FAILURE when the condition is
    false OR NULL, hence the COALESCE."""
    masked = mask(body)
    out, last = [], 0
    for m in _ASSERT_RE.finditer(masked):
        cond = body[m.start("c"):m.end("c")]
        msg = (body[m.start("m"):m.end("m")]
               if m.group("m") is not None else "assertion failed")
        out.append(body[last:m.end("ws")])
        out.append(
            f"IF NOT COALESCE(({cond}), FALSE) THEN "
            f"RAISE EXCEPTION '{msg}'; END IF;"
        )
        last = m.end()
    return "".join(out) + body[last:]


def _rewrite_case_stmts(body: str) -> str:
    """Rewrite every CASE ... END CASE statement into the equivalent
    IF/ELSIF chain (innermost-last via repeated leftmost rewriting)."""
    for _ in range(64):  # nesting/odd-shape backstop, never a silent loop
        found = _find_case_stmt(mask(body))
        if found is None:
            return body
        case_start, int_start, int_end, end_after = found
        selector, branches, else_body = _case_stmt_branches(
            body[int_start:int_end]
        )
        parts = []
        for i, (vals, bstmts) in enumerate(branches):
            cond = vals if not selector else f"({selector}) IN ({vals})"
            parts.append(f"{'IF' if i == 0 else 'ELSIF'} {cond} "
                         f"THEN {bstmts}")
        if else_body is not None:
            parts.append(f"ELSE {else_body}")
        else:
            # exec_stmt_case raises CASE_NOT_FOUND when nothing matches
            parts.append("ELSE RAISE EXCEPTION 'case not found';")
        body = (body[:case_start] + " ".join(parts) + " END IF"
                + body[end_after:])
    raise NotImplementedError(
        "plpgsql: CASE statement nesting exceeds the rewrite backstop"
    )


# ---------------------------------------------------------------------------
# Set-returning functions (pl_exec.cpp exec_stmt_return_query :3585 /
# exec_stmt_return_next :3334): RETURNS SETOF <type|table> and RETURNS
# TABLE(...) bodies in the straight-line subset — declarations,
# assignments, then RETURN QUERY / RETURN NEXT statements (each appends
# its rows to the result set, in order) and an optional final RETURN —
# compile to ONE Spark SQL table function whose body is the UNION ALL
# of the collected queries.  Spark matches the RETURNS TABLE column
# list by position with coercion, exactly PG's positional mapping.
# ---------------------------------------------------------------------------
def _compile_setof_stmts(
    text: str, bindings: dict[str, str], scalar_col: str | None
) -> str:
    queries: list[str] = []
    pos, n = 0, len(text)
    while pos < n:
        rest = text[pos:].lstrip()
        if not rest:
            break
        off = len(text[pos:]) - len(rest)
        stmt, pos = _scan_stmt(text, pos + off)
        if not stmt:
            continue
        mq = re.match(r"RETURN\s+QUERY\s+(?P<q>.+)$", stmt,
                      re.IGNORECASE | re.DOTALL)
        if mq:
            q = mq.group("q").strip()
            if re.match(r"EXECUTE\b", q, re.IGNORECASE):
                raise NotImplementedError(
                    "plpgsql: RETURN QUERY EXECUTE (dynamic SQL) cannot "
                    "inline into a Spark table function — compose the "
                    "statement client-side, or use the literal-derived "
                    "EXECUTE subset in a DO block (operators/do_block.py)"
                )
            if not re.match(r"(SELECT|VALUES|WITH|TABLE)\b", q,
                            re.IGNORECASE):
                raise NotImplementedError(
                    "plpgsql: RETURN QUERY expects a SELECT/VALUES/WITH "
                    f"query, got {q.split(None, 1)[0].upper()!r}"
                )
            queries.append(_subst(q, bindings))
            continue
        mn = re.match(r"RETURN\s+NEXT\s+(?P<e>.+)$", stmt,
                      re.IGNORECASE | re.DOTALL)
        if mn:
            if scalar_col is None:
                raise NotImplementedError(
                    "plpgsql: RETURN NEXT over a composite/table result "
                    "has no row-constructor form here — use RETURN "
                    "QUERY SELECT <cols> instead"
                )
            queries.append(
                f"SELECT ({_subst(mn.group('e'), bindings)}) "
                f"AS {scalar_col}"
            )
            continue
        if re.match(r"RETURN\s*$", stmt, re.IGNORECASE):
            break  # plain RETURN ends the SRF; the rest is unreachable
        m_asn = re.match(r"(?P<v>\w+)\s*:=\s*(?P<e>.+)$", stmt,
                         re.IGNORECASE | re.DOTALL)
        if m_asn:
            bindings[m_asn.group("v").lower()] = _subst(
                m_asn.group("e"), bindings
            )
            continue
        raise NotImplementedError(
            "plpgsql: set-returning bodies compile in the straight-line "
            "subset — assignments, RETURN QUERY <query>, RETURN NEXT "
            "<expr>, final RETURN; got "
            f"{stmt.split(None, 1)[0].upper()!r} — fold conditions into "
            "the query's WHERE clause or a single UNION ALL query"
        )
    if not queries:
        raise ValueError(
            "plpgsql: set-returning function never produces rows "
            "(no RETURN QUERY / RETURN NEXT)"
        )
    if len(queries) == 1:
        return queries[0]
    return " UNION ALL ".join(f"({q})" for q in queries)


def _translate_setof(
    m: re.Match,
    ret: str,
    body: str,
    resolve_cols,
) -> str:
    """Emit the Spark table-function DDL for a SETOF/TABLE plpgsql
    function (columns resolved per the reference's three return-shape
    rules: TABLE(...) list, SETOF <scalar type> named after the
    function, SETOF <table> taking the table's row type)."""
    name = m.group("name").lower()
    params = parse_params(m.group("params"))
    scalar_col: str | None = None
    if m.group("tcols") is not None:
        cols = [(cn, _map_type(ct))
                for cn, ct in parse_params(m.group("tcols"))]
    else:
        target = re.match(r"^SETOF\s+(\w+)$", ret, re.IGNORECASE).group(1)
        key = target.lower()
        if key in ("record",):
            raise NotImplementedError(
                "plpgsql: RETURNS SETOF record is untyped — declare "
                "RETURNS TABLE(col type, ...)"
            )
        from .create_function import _TYPE_MAP

        if key in _TYPE_MAP:
            scalar_col = name  # PG names the one column after the fn
            cols = [(name, _map_type(target))]
        elif resolve_cols is not None:
            resolved = resolve_cols(target)
            if not resolved:
                raise ValueError(
                    f"plpgsql: SETOF {target}: unknown table/type"
                )
            cols = list(resolved)
        else:
            raise NotImplementedError(
                "plpgsql: RETURNS SETOF <table> needs catalog schema "
                "resolution — run through Engine.sql, or declare "
                "RETURNS TABLE(col type, ...)"
            )
    md = _DECLARE_RE.match(body) or _BEGIN_RE.match(body)
    if md is None:
        raise ValueError("plpgsql body must be [DECLARE ...] BEGIN ... END")
    bindings: dict[str, str] = {}
    if md.groupdict().get("decls"):
        _parse_decls(md.group("decls"), bindings)
    body_sql = _compile_setof_stmts(md.group("body"), bindings, scalar_col)
    flags = (m.group("flags") or "").upper().split()
    strict = "STRICT" in flags or (
        "RETURNS" in flags and "NULL" in flags
    )
    if strict and params:
        # a STRICT SRF is simply not called on NULL input → empty set
        guard = " OR ".join(f"{p} IS NULL" for p, _ in params)
        body_sql = (f"SELECT * FROM ({body_sql}) AS _srf_strict "
                    f"WHERE NOT ({guard})")
    spark_params = ", ".join(
        f"{pname} {_map_type(ptype)}" for pname, ptype in params
    )
    spark_cols = ", ".join(f"{cn} {ct}" for cn, ct in cols)
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({spark_params}) "
        f"RETURNS TABLE({spark_cols}) RETURN {body_sql}"
    )


def translate_plpgsql(query: str, resolve_cols=None) -> str | None:
    """PG CREATE FUNCTION ... LANGUAGE plpgsql → Spark SQL-UDF DDL, or
    None when the text is not that statement shape.

    ``resolve_cols`` (optional) maps a table name to its
    ``[(col, spark_type)]`` list — Engine.sql supplies it so RETURNS
    SETOF <table> can take the table's row type."""
    m = _CREATE_PLFN.match(query)
    if m is None:
        return None
    ret = m.group("ret").strip()
    from .create_function import _unquote_body

    body = strip_comments(_unquote_body(m.group("body"), m.group("tag")))
    body = _map_body_cast_types(body)
    body = _rewrite_case_stmts(_rewrite_assert_stmts(body))
    masked_body = mask(body)  # keywords in literals are inert
    # FOR <rec> IN SELECT ... LOOP and bounded integer-range FOR spans
    # are the supported loop shapes — blank them so the blanket
    # LOOP/FOR refusals see only genuinely unsupported constructs (a
    # bad FOR body still refuses later, in _parse_loop_accs, with the
    # aggregate-shape message)
    scan_body = re.sub(
        r"\b(?:FOR\s+\w+\s+IN\s+"
        r"(?:SELECT\b|(?:REVERSE\s+)?[^;]*?\.\.|\w+\s+(?=LOOP\b))"
        r"|WHILE\b"
        r"|FOREACH\b"
        r"|LOOP\b(?=(?:(?!\bEND\s+LOOP\b).)*\bEXIT\s+WHEN\b))"
        r".*?\bEND\s+LOOP\b",
        " ", masked_body, flags=re.IGNORECASE | re.DOTALL,
    )
    for pat, why in _UNSUPPORTED:
        if pat.search(scan_body):
            raise NotImplementedError(f"plpgsql: {why}")
    _CURSORS.clear()  # per-call bound-cursor registry
    if m.group("tcols") is not None or re.match(r"^SETOF\b", ret,
                                                re.IGNORECASE):
        return _translate_setof(m, ret, body, resolve_cols)
    params = parse_params(m.group("params"))
    md = _DECLARE_RE.match(body) or _BEGIN_RE.match(body)
    if md is None:
        raise ValueError("plpgsql body must be [DECLARE ...] BEGIN ... END")
    bindings: dict[str, str] = {}
    if "decls" in md.groupdict() and md.groupdict().get("decls"):
        _parse_decls(md.group("decls"), bindings)
    _FOLD_SEQ[0] = 0  # deterministic DDL per source text
    _FOLD_PARAMS.clear()
    _FOLD_PARAMS.extend(pname.lower() for pname, _ in params)
    exc = _split_exception(md.group("body"))
    if exc is not None:
        expr = _compile_exception_block(exc[0], exc[1], bindings)
    else:
        expr = _compile_stmts(md.group("body"), bindings)
    if len(expr) > 100_000:
        # fall-through branches duplicate the continuation per branch,
        # so long chains of mixed IF blocks grow the expression
        # exponentially — refuse with a actionable message instead of
        # handing Catalyst a megabyte expression
        raise NotImplementedError(
            "plpgsql: compiled expression exceeds 100 KB — long chains "
            "of IF blocks with fall-through branches duplicate the "
            "remaining body per branch; split the function, or express "
            "the tiers as a single CASE in LANGUAGE SQL"
        )
    name = m.group("name").lower()
    flags = (m.group("flags") or "").upper().split()
    strict = "STRICT" in flags or (
        "RETURNS" in flags and "NULL" in flags
    )
    spark_params = ", ".join(
        f"{pname} {_map_type(ptype)}" for pname, ptype in params
    )
    if strict and params:
        null_guard = " OR ".join(f"{p} IS NULL" for p, _ in params)
        expr = f"CASE WHEN {null_guard} THEN NULL ELSE {expr} END"
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({spark_params}) "
        f"RETURNS {_map_type(ret)} RETURN {expr}"
    )


def try_handle_stmt(engine, query: str):
    """Engine.sql hook: CREATE FUNCTION ... LANGUAGE plpgsql routing
    (DROP FUNCTION is shared with create_function.py).  A SCALAR
    function whose body carries dynamic EXECUTE routes to the
    INTERPRETED registry (operators/do_block.py — the literal-derived
    exec_stmt_dynexecute subset, run once per top-level call exactly
    like a procedure); everything else compiles to an inlined SQL
    macro as before."""
    m = _CREATE_PLFN.match(query)
    if m is not None:
        from .create_function import _unquote_body

        raw = m.group("body")
        body = strip_comments(
            _unquote_body(raw, m.group("tag")) if raw.startswith("$")
            else raw
        )
        ret = m.group("ret").strip()
        scalar = m.group("tcols") is None and not re.match(
            r"^SETOF\b", ret, re.IGNORECASE
        )
        if re.search(
            r"\bEXECUTE\s|\bOPEN\s+\w+|\bFETCH\s",
            mask(body), re.IGNORECASE,
        ):
            from .do_block import register_interpreted_plfn

            name = m.group("name").lower()
            register_interpreted_plfn(
                engine, name, parse_params(m.group("params")),
                ret, body,
                kind="scalar" if scalar else "setof",
            )
            return status_frame(engine.spark, ("CREATE FUNCTION", name), "tag STRING, function STRING",)

    def _resolve(tbl: str) -> list[tuple[str, str]]:
        df = engine.table(tbl)
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    spark_ddl = translate_plpgsql(query, resolve_cols=_resolve)
    if spark_ddl is None:
        return None
    engine.spark.sql(spark_ddl)
    name = _CREATE_PLFN.match(query).group("name").lower()
    engine.sql_functions[name] = spark_ddl
    # CREATE OR REPLACE over a previously INTERPRETED function: the
    # compiled macro wins — drop the stale interpreter entry
    engine.plfn_interpreted.pop(name, None)
    return status_frame(engine.spark, ("CREATE FUNCTION", name), "tag STRING, function STRING")


# --------------------------------------------------------------------------
# Driver-gate queries: LANGUAGE plpgsql end-to-end.  The compiled
# function inlines into the calling plan, so the oracle is simply the
# CASE chain / scalar subquery the compiler is SUPPOSED to emit —
# written out by hand in DuckDB SQL.
# --------------------------------------------------------------------------
from ..registry import query as _register_query


@_register_query(
    "plpgsql_guard_function",
    """
    WITH graded AS (
      SELECT CASE WHEN o_totalprice IS NULL THEN NULL
                  WHEN o_totalprice >= 200000.0 THEN 'large'
                  WHEN o_totalprice >= 50000.0 THEN 'medium'
                  ELSE 'small' END AS tier,
             o_totalprice
      FROM orders
    )
    SELECT tier,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM graded GROUP BY tier ORDER BY tier
    """,
)
def plpgsql_guard_function(spark, sf_dir):
    """CREATE FUNCTION ... LANGUAGE plpgsql end-to-end — the
    guard-and-return idiom (pl_exec.cpp exec_stmt_if :1809 /
    exec_assign_value, the shape the reference's plpgsql regress
    suites exercise constantly): DECLARE initializers feed an
    IF/ELSIF/ELSE chain whose branches RETURN, declared STRICT, then
    the function tiers every order by o_totalprice in a grouped
    aggregation.  The oracle is the inlined CASE chain the compiler
    emits, written out by hand.

    Scale: the plpgsql body compiles to ONE inlined CASE expression
    (zero interpreter, zero Python, no SPI round-trips), so the plan is
    identical to hand-written SQL — one scan, whole-stage codegen, one
    partial/final aggregate exchange on the 3-value tier key."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_order_tier(p float8) RETURNS text AS $$
        DECLARE
            lo float8 := 50000.0;
            hi float8 := 200000.0;
        BEGIN
            IF p >= hi THEN
                RETURN 'large';
            ELSIF p >= lo THEN
                RETURN 'medium';
            ELSE
                RETURN 'small';
            END IF;
        END;
        $$ LANGUAGE plpgsql STRICT
    """)
    out = eng.sql(
        "SELECT gate_order_tier(o_totalprice) AS tier,"
        " COUNT(*) AS n,"
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        "   AS total"
        " FROM orders GROUP BY tier ORDER BY tier"
    )
    eng.sql("DROP FUNCTION gate_order_tier")
    return pin_schema(out, "tier STRING, n BIGINT, total DOUBLE")


@_register_query(
    "plpgsql_select_into_nested_if",
    """
    WITH cc AS (
      SELECT c_nationkey, COUNT(*) AS c FROM customer GROUP BY c_nationkey
    )
    SELECT n_nationkey, n_name,
           CASE WHEN COALESCE(c, 0) > 0
                THEN CASE WHEN c >= 60 THEN 'high' ELSE 'low' END
                ELSE 'none' END AS density
    FROM nation LEFT JOIN cc ON c_nationkey = n_nationkey
    ORDER BY n_nationkey
    """,
)
def plpgsql_select_into_nested_if(spark, sf_dir):
    """The second plpgsql shape: SELECT ... INTO binds a correlated
    scalar subquery (pl_exec.cpp exec_stmt_execsql's INTO path), a
    nested RETURN-free IF folds conditional assignments into CASE
    bindings, and the initializer supplies the fall-through value.
    Applied per nation row, the function classifies customer density.

    Scale: the INTO subquery inlines as a correlated scalar subquery
    that Catalyst decorrelates into an aggregate + join — the same plan
    the oracle's explicit LEFT JOIN spells, with no per-row SPI
    execution; the nation probe side is broadcast-sized."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_cust_density(nk int) RETURNS text AS $$
        DECLARE
            c bigint;
            label text := 'none';
        BEGIN
            SELECT COUNT(*) INTO c FROM customer WHERE c_nationkey = nk;
            IF c > 0 THEN
                IF c >= 60 THEN
                    label := 'high';
                ELSE
                    label := 'low';
                END IF;
            END IF;
            RETURN label;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT n_nationkey, n_name, gate_cust_density(n_nationkey)"
        " AS density FROM nation ORDER BY n_nationkey"
    )
    eng.sql("DROP FUNCTION gate_cust_density")
    return pin_schema(out, "n_nationkey INT, n_name STRING, density STRING")


@_register_query(
    "plpgsql_for_loop_agg",
    """
    WITH s AS (
      SELECT o_orderstatus,
             SUM(o_orderkey) AS t, COUNT(*) AS c, MAX(o_orderkey) AS m
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           CAST((0.0 + t) / c + m AS DOUBLE) AS loop_stat
    FROM s ORDER BY o_orderstatus
    """,
)
def plpgsql_for_loop_agg(spark, sf_dir):
    """The third plpgsql shape — FOR r IN SELECT ... LOOP accumulator
    bodies (pl_exec.cpp exec_stmt_fors), the one iterative idiom that
    is genuinely declarative: ALL accumulators (sum/count/GREATEST)
    compile into ONE subquery's aggregate projection wrapping the
    function's continuation (the single-subquery fold), and the
    per-status call sites become correlated subqueries Catalyst
    decorrelates into one grouped aggregation.  Accumulated values are
    exact integers (o_orderkey), so the final double arithmetic is
    IEEE-identical to the oracle's direct aggregate.

    Scale: the row-at-a-time loop the reference interprets per call
    becomes ONE distributed aggregation shared across all call sites —
    the whole query plans exactly TWO scans of orders (call-site
    DISTINCT + loop aggregate), the same shape as the oracle's
    hand-written GROUP BY (r7's per-accumulator/per-mention bindings
    planned 10 scans; tests/test_plan_quality.py pins the count)."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_loop_stats(st text) RETURNS double AS $$
        DECLARE
            r RECORD;
            total double precision := 0.0;
            n bigint := 0;
            top bigint := -1;
        BEGIN
            FOR r IN SELECT o_orderkey FROM orders
                     WHERE o_orderstatus = st LOOP
                total := total + r.o_orderkey;
                n := n + 1;
                top := GREATEST(top, r.o_orderkey);
            END LOOP;
            IF n = 0 THEN
                RETURN -1.0;
            END IF;
            RETURN total / n + top;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT o_orderstatus, gate_loop_stats(o_orderstatus) AS loop_stat"
        " FROM (SELECT DISTINCT o_orderstatus FROM orders)"
        " ORDER BY o_orderstatus"
    )
    eng.sql("DROP FUNCTION gate_loop_stats")
    return pin_schema(out, "o_orderstatus STRING, loop_stat DOUBLE")


@_register_query(
    "plpgsql_int_for_loop",
    """
    WITH keys AS (SELECT DISTINCT c_nationkey FROM customer),
    calc AS (
      SELECT c_nationkey, CAST(c_nationkey AS BIGINT) AS n FROM keys
    )
    SELECT c_nationkey,
           CAST((n*(n+1)*(2*n+1))//6 * 100
                + CASE WHEN n >= 1 THEN 3*n ELSE 0 END
                AS BIGINT) AS sq_stat,
           CAST(CASE WHEN n < 1 THEN 0
                     ELSE ((n-1)//2 + 1)*n
                          - ((n-1)//2 + 1)*((n-1)//2) END
                AS BIGINT) AS rev_stat
    FROM calc ORDER BY c_nationkey
    """,
)
def plpgsql_int_for_loop(spark, sf_dir):
    """Bounded integer FOR loops (pl_exec.cpp exec_stmt_fori; regress
    hw_functions.sql / plpgsql suites) — ``FOR i IN 1..n`` with two
    accumulators (sum of squares + GREATEST) and ``FOR i IN REVERSE
    n..1 BY 2`` — called per distinct nation key, so the compiled
    ``explode(sequence(...))`` relations correlate on a column
    argument and Catalyst decorrelates them.  The oracle is the
    CLOSED FORM of each loop (n(n+1)(2n+1)/6 etc.), so a green row
    proves the sequence bounds, direction guard, and step semantics,
    not just that some aggregation ran.

    Scale: the loop body never touches the driver — the range is a
    JVM-generated relation and both accumulators fold into one
    aggregate projection per function (single-subquery fold)."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_tri_stat(n int) RETURNS bigint AS $$
        DECLARE
            total bigint := 0;
            top bigint := 0;
        BEGIN
            FOR i IN 1..n LOOP
                total := total + i * i;
                top := GREATEST(top, i * 3);
            END LOOP;
            RETURN total * 100 + top;
        END;
        $$ LANGUAGE plpgsql
    """)
    eng.sql("""
        CREATE FUNCTION gate_rev_sum(n int) RETURNS bigint AS $$
        DECLARE
            total bigint := 0;
        BEGIN
            FOR i IN REVERSE n..1 BY 2 LOOP
                total := total + i;
            END LOOP;
            RETURN total;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT c_nationkey,"
        " gate_tri_stat(CAST(c_nationkey AS INT)) AS sq_stat,"
        " gate_rev_sum(CAST(c_nationkey AS INT)) AS rev_stat"
        " FROM (SELECT DISTINCT c_nationkey FROM customer)"
        " ORDER BY c_nationkey"
    )
    eng.sql("DROP FUNCTION gate_tri_stat")
    eng.sql("DROP FUNCTION gate_rev_sum")
    return pin_schema(
        out, "c_nationkey BIGINT, sq_stat BIGINT, rev_stat BIGINT"
    )


@_register_query(
    "plpgsql_while_loop",
    """
    WITH keys AS (SELECT DISTINCT c_nationkey FROM customer),
    calc AS (
      SELECT c_nationkey, CAST(c_nationkey AS BIGINT) AS n FROM keys
    )
    SELECT c_nationkey,
           CAST((n*(n+1))//2 * 10
                + CASE WHEN n >= 1 THEN n + 1 ELSE 1 END
                AS BIGINT) AS while_stat
    FROM calc ORDER BY c_nationkey
    """,
)
def plpgsql_while_loop(spark, sf_dir):
    """Counter-style WHILE loops (pl_exec.cpp exec_stmt_while:114;
    regress hw_functions / plpgsql suites): ``WHILE i <= n LOOP total
    := total + i; i := i + 1; END LOOP`` rewrites into the bounded
    integer FOR range and folds to one explode(sequence) aggregate;
    the RETURN also reads the counter AFTER the loop, so a green row
    proves the post-loop closed form (first value failing the
    condition), not just the accumulator.  The oracle is the closed
    form n(n+1)/2*10 + (n+1 when the loop ran, else the initial 1).

    Scale: no iteration exists at runtime — the 'loop' is a JVM
    generated relation and one aggregation, per call site,
    decorrelated by Catalyst across the DISTINCT nation keys."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_while_sum(n int) RETURNS bigint AS $$
        DECLARE
            i bigint := 1;
            total bigint := 0;
        BEGIN
            WHILE i <= n LOOP
                total := total + i;
                i := i + 1;
            END LOOP;
            RETURN total * 10 + i;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT c_nationkey,"
        " gate_while_sum(CAST(c_nationkey AS INT)) AS while_stat"
        " FROM (SELECT DISTINCT c_nationkey FROM customer)"
        " ORDER BY c_nationkey"
    )
    eng.sql("DROP FUNCTION gate_while_sum")
    return pin_schema(out, "c_nationkey BIGINT, while_stat BIGINT")


@_register_query(
    "plpgsql_foreach_array",
    """
    WITH t AS (
      SELECT p_partkey, string_split(lower(p_name), ' ') AS ws
      FROM part WHERE p_partkey <= 200
    )
    SELECT p_partkey,
           CAST(list_sum(list_transform(ws, w -> length(w))) * 100
                + list_max(list_transform(ws, w -> length(w)))
                AS BIGINT) AS stat
    FROM t ORDER BY p_partkey
    """,
)
def plpgsql_foreach_array(spark, sf_dir):
    """FOREACH ... IN ARRAY loops (pl_exec.cpp exec_stmt_foreach_a):
    per-element accumulator bodies compile to ONE explode(array)
    aggregate via the same single-subquery fold as the other loop
    shapes — called per part row over the name's word array, checked
    against the oracle's direct list aggregation.

    Scale: array iteration never touches the driver — explode is a
    generated relation inside the per-row correlated subquery, and
    Catalyst decorrelates the call sites into one pass."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_word_stat(s text) RETURNS bigint AS $$
        DECLARE
            w text;
            total bigint := 0;
            top bigint := 0;
        BEGIN
            FOREACH w IN ARRAY split(s, ' ') LOOP
                total := total + length(w);
                top := GREATEST(top, length(w));
            END LOOP;
            RETURN total * 100 + top;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT p_partkey, gate_word_stat(lower(p_name)) AS stat"
        " FROM part WHERE p_partkey <= 200 ORDER BY p_partkey"
    )
    eng.sql("DROP FUNCTION gate_word_stat")
    return pin_schema(out, "p_partkey BIGINT, stat BIGINT")


@_register_query(
    "plpgsql_exception_guard",
    """
    SELECT o_orderkey,
           CAST(CASE WHEN (o_orderkey % 7) = 0 THEN -1.0
                     ELSE CAST(o_totalprice AS DOUBLE)
                          / (o_orderkey % 7) END AS DOUBLE) AS rate,
           CAST(CASE WHEN TRY_CAST(
                         CASE WHEN o_orderkey % 3 = 0
                              THEN o_orderpriority
                              ELSE substr(o_orderpriority, 1, 1) END
                         AS INTEGER) IS NULL
                     AND CASE WHEN o_orderkey % 3 = 0
                              THEN o_orderpriority
                              ELSE substr(o_orderpriority, 1, 1) END
                         IS NOT NULL
                THEN -1
                ELSE CAST(CASE WHEN o_orderkey % 3 = 0
                               THEN o_orderpriority
                               ELSE substr(o_orderpriority, 1, 1) END
                          AS INTEGER) END AS BIGINT) AS prio
    FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
    """,
)
def plpgsql_exception_guard(spark, sf_dir):
    """EXCEPTION blocks, no-subtransaction subset (pl_exec.cpp:95
    exec_stmt_block exception frames; regress hw_functions.sql): a
    straight-line body whose raisable sites are a division and an
    explicit CAST compiles to the total-function CASE — the
    division_by_zero handler fires exactly when the denominator is
    zero, the cast-class handler exactly when TRY_CAST fails on a
    non-NULL source — and the oracle spells out that same
    total-function math by hand in DuckDB SQL.

    Scale: the handler is a CASE branch inside whole-stage codegen —
    no subtransaction machinery, no per-row interpreter; the guarded
    function costs the same plan as the hand-written CASE."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_safe_rate(total double, d bigint)
        RETURNS double AS $$
        DECLARE r double;
        BEGIN
            r := total / d;
            RETURN r;
        EXCEPTION WHEN division_by_zero THEN
            RETURN -1.0;
        END;
        $$ LANGUAGE plpgsql
    """)
    eng.sql("""
        CREATE FUNCTION gate_parse_prio(t text) RETURNS int AS $$
        BEGIN
            RETURN CAST(t AS int);
        EXCEPTION WHEN invalid_text_representation
                  OR numeric_value_out_of_range THEN
            RETURN -1;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT o_orderkey,"
        " gate_safe_rate(CAST(o_totalprice AS DOUBLE),"
        "                o_orderkey % 7) AS rate,"
        " CAST(gate_parse_prio("
        "   CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority"
        "        ELSE substr(o_orderpriority, 1, 1) END) AS BIGINT)"
        " AS prio"
        " FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey"
    )
    eng.sql("DROP FUNCTION gate_safe_rate")
    eng.sql("DROP FUNCTION gate_parse_prio")
    return pin_schema(out, "o_orderkey BIGINT, rate DOUBLE, prio BIGINT")


@_register_query(
    "plpgsql_return_query",
    """
    WITH sliced AS (
      SELECT o_custkey AS ck, o_totalprice AS amt FROM orders
      WHERE o_totalprice >= 100000.0 AND o_totalprice < 250000.0
      UNION ALL
      SELECT o_custkey AS ck, -1.0 * o_totalprice AS amt FROM orders
      WHERE o_totalprice >= 250000.0
    )
    SELECT CAST(ck % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM sliced GROUP BY CAST(ck % 10 AS BIGINT) ORDER BY bucket
    """,
)
def plpgsql_return_query(spark, sf_dir):
    """Set-returning plpgsql end-to-end (pl_exec.cpp
    exec_stmt_return_query :3585): a RETURNS TABLE function whose body
    declares a threshold, then appends TWO RETURN QUERY result sets —
    the below-cap slice verbatim and the above-cap slice negated — and
    the caller aggregates over the table function.  The oracle is the
    UNION ALL the compiler emits, written out by hand.

    Scale: the function compiles to ONE Spark SQL table function whose
    body inlines into the calling plan — two pushed-down parquet scans
    under a union, then one partial/final aggregate exchange; no
    per-call materialization, no Python, no SPI loop."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_order_slices(minp float8)
        RETURNS TABLE(ck bigint, amt float8) AS $$
        DECLARE
            cap float8 := 250000.0;
        BEGIN
            RETURN QUERY SELECT o_custkey, o_totalprice FROM orders
                WHERE o_totalprice >= minp AND o_totalprice < cap;
            RETURN QUERY SELECT o_custkey, -1.0 * o_totalprice
                FROM orders WHERE o_totalprice >= cap;
            RETURN;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT CAST(ck % 10 AS BIGINT) AS bucket,"
        " COUNT(*) AS n,"
        " CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS total"
        " FROM gate_order_slices(100000.0)"
        " GROUP BY bucket ORDER BY bucket"
    )
    eng.sql("DROP FUNCTION gate_order_slices")
    return pin_schema(out, "bucket BIGINT, n BIGINT, total DOUBLE")


@_register_query(
    "plpgsql_case_stmt",
    """
    WITH banded AS (
      SELECT CASE
               WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
               WHEN o_orderpriority IN ('3-MEDIUM') THEN 'warm'
               ELSE 'cold' END AS band,
             o_totalprice
      FROM orders
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM banded GROUP BY band ORDER BY band
    """,
)
def plpgsql_case_stmt(spark, sf_dir):
    """plpgsql CASE statement end-to-end (pl_exec.cpp exec_stmt_case):
    a simple-form CASE over the order priority with a multi-value WHEN
    list rewrites into the IF/ELSIF chain and compiles to one inlined
    CASE ... IN expression; the caller bands every order and
    aggregates.  The oracle is that CASE/IN chain written by hand.

    Scale: identical plan to hand-written SQL — one scan, whole-stage
    codegen, one exchange on the 3-value band key; the CASE statement
    never becomes an interpreter."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_prio_band(p text) RETURNS text AS $$
        BEGIN
            CASE p
                WHEN '1-URGENT', '2-HIGH' THEN RETURN 'hot';
                WHEN '3-MEDIUM' THEN RETURN 'warm';
                ELSE RETURN 'cold';
            END CASE;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT gate_prio_band(o_orderpriority) AS band,"
        " COUNT(*) AS n,"
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        "   AS total"
        " FROM orders GROUP BY band ORDER BY band"
    )
    eng.sql("DROP FUNCTION gate_prio_band")
    return pin_schema(out, "band STRING, n BIGINT, total DOUBLE")


@_register_query(
    "plpgsql_dynexecute_function",
    """
    SELECT CAST(r_regionkey AS INT) AS k,
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_regionkey = r_regionkey) AS BIGINT) AS n,
           CAST((SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6)))
                             AS DOUBLE) FROM supplier
                 WHERE s_nationkey = r_regionkey) AS DOUBLE) AS bal
    FROM region ORDER BY k
    """,
)
def plpgsql_dynexecute_function(spark, sf_dir):
    """Dynamic EXECUTE inside CREATE FUNCTION bodies — pl_exec.cpp:139
    exec_stmt_dynexecute, the literal-derived subset, now reachable
    from LANGUAGE plpgsql functions (not just DO blocks/procedures):
    the function registers INTERPRETED (operators/do_block.py
    register_interpreted_plfn) and each top-level call runs the body
    driver-side with the statement text composed from || / format()
    literals — `EXECUTE ... INTO` binding, `USING` parameters, IF
    control flow, and RETURN all exercised.  The composed statements
    themselves are ordinary distributed plans.

    Scale: one driver-side call per invocation (protocol-sized, like
    CALL); the inner statements are full Catalyst plans over the
    relations — dynamic SQL is string composition plus the existing
    planner, never a row loop."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_dyn_count(k int) RETURNS bigint AS $$
        DECLARE
            n bigint;
            t text := 'nation';
        BEGIN
            EXECUTE 'SELECT COUNT(*) FROM ' || t
                    || ' WHERE n_regionkey = ' || k INTO n;
            IF n IS NULL THEN
                RETURN 0;
            END IF;
            RETURN n;
        END;
        $$ LANGUAGE plpgsql
    """)
    eng.sql("""
        CREATE FUNCTION gate_dyn_bal(k int) RETURNS double precision
        AS $$
        DECLARE bal double precision;
        BEGIN
            EXECUTE format(
                'SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6)))
                 AS DOUBLE) FROM supplier WHERE s_nationkey = $1')
                INTO bal USING k;
            RETURN bal;
        END;
        $$ LANGUAGE plpgsql
    """)
    rows = []
    for k in range(5):
        n = eng.sql(f"SELECT gate_dyn_count({k}) AS v").collect()[0].v
        bal = eng.sql(f"SELECT gate_dyn_bal({k}) AS v").collect()[0].v
        rows.append((k, int(n), bal))
    eng.sql("DROP FUNCTION gate_dyn_count")
    eng.sql("DROP FUNCTION gate_dyn_bal")
    return spark.createDataFrame(rows, "k INT, n BIGINT, bal DOUBLE")


@_register_query(
    "plpgsql_do_while",
    """
    WITH keys AS (SELECT DISTINCT c_nationkey FROM customer),
    calc AS (
      SELECT c_nationkey, CAST(c_nationkey AS BIGINT) AS n FROM keys
    )
    SELECT c_nationkey,
           CAST(CASE WHEN n >= 1 THEN (n*(n+1))//2 * 10 + n + 1
                     ELSE 12 END AS BIGINT) AS dw_stat
    FROM calc ORDER BY c_nationkey
    """,
)
def plpgsql_do_while(spark, sf_dir):
    """Do-while loops — bare LOOP with a TAIL ``EXIT WHEN``
    (pl_exec.cpp:114 exec_stmt_loop + exec_stmt_exit at the body's
    end; the remaining common loop shape after r9's leading-EXIT
    form): compiled as a ONE-ITERATION UNROLL of the body followed by
    the inverted pre-test counter-WHILE closed form.  The oracle
    encodes do-while's defining boundary: n = 0 still runs the body
    once (the 12 arm), where a pre-test loop would run zero times.

    Scale: identical to the WHILE gate — no iteration at runtime, one
    explode(sequence) aggregate per call site, closed-form post-loop
    counter."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("""
        CREATE FUNCTION gate_dw_sum(n int) RETURNS bigint AS $$
        DECLARE
            i bigint := 1;
            total bigint := 0;
        BEGIN
            LOOP
                total := total + i;
                i := i + 1;
                EXIT WHEN i > n;
            END LOOP;
            RETURN total * 10 + i;
        END;
        $$ LANGUAGE plpgsql
    """)
    out = eng.sql(
        "SELECT c_nationkey,"
        " gate_dw_sum(CAST(c_nationkey AS INT)) AS dw_stat"
        " FROM (SELECT DISTINCT c_nationkey FROM customer)"
        " ORDER BY c_nationkey"
    )
    eng.sql("DROP FUNCTION gate_dw_sum")
    return pin_schema(out, "c_nationkey BIGINT, dw_stat BIGINT")
