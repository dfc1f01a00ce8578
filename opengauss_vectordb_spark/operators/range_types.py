"""PG range types — numrange / int4range / int8range / daterange
(SURVEY §2.7 compat census, batch 9; 152 + 113 + … regress calls).

Reference: ``src/common/backend/utils/adt/rangetypes.cpp`` — a range
value is (lower bound, upper bound, inclusivity flags, empty), with
``range_serialize`` rejecting lower > upper, discrete types
canonicalized to ``[lo, hi)`` (int4range's canonical function), and
the operator set (@> <@ && << >> -|- &< &> + * -) evaluated by bound
comparison (range_cmp_bounds).

Spark-first mapping: a range is a STRUCT column
``struct<lo: T, hi: T, li: boolean, ui: boolean, empty: boolean>``
(NULL lo/hi = infinite, flags normalized so an infinite bound is
always exclusive, one canonical EMPTY value), and every operator
compiles to a pure bound-comparison expression over the struct fields
— whole-stage codegen, no UDF, no shuffle beyond what the query
already does.  Discrete kinds canonicalize at CONSTRUCTION (the same
place rangetypes.cpp runs the canonical function), so equality is
plain struct equality (Spark compares struct fields null-safely).

Dispatch is NAME-based, as the engine's other operator rewrites
(gin_index.rewrite_array_ops): a rewrite fires when one operand is a
range CONSTRUCTOR call or a column registered as a range type at
CREATE TABLE (meta['range_cols']).  String literals in range position
parse through the range_in grammar ('[1.1,2.2)', '[3,]', 'empty').

Documented deviations (each narrower than a silent wrong answer):
* ``ORDER BY <range-col>`` uses Spark's struct ordering, not PG's
  range_cmp (empty-first, bound-ordered); range < / > comparisons
  REFUSE naming the lower()/upper() rewrite.
* operator chains over computed ranges ((a + b) @> c) are not
  re-dispatched — assign the computed range in a subquery first.
"""

from __future__ import annotations

import re

from ..sqltext import close_paren, mask, split_top, top_level


RANGE_KINDS = {
    "numrange": "DECIMAL(38,10)",
    "int4range": "INT",
    "int8range": "BIGINT",
    "daterange": "DATE",
}
_DISCRETE = {"int4range", "int8range", "daterange"}

_STRUCT_FMT = ("struct<lo: {t}, hi: {t}, li: boolean, ui: boolean,"
               " empty: boolean>")


def range_struct_ddl(kind: str) -> str:
    return _STRUCT_FMT.format(t=RANGE_KINDS[kind])


def _empty(kind: str) -> str:
    t = RANGE_KINDS[kind]
    return (f"named_struct('lo', CAST(NULL AS {t}), 'hi', "
            f"CAST(NULL AS {t}), 'li', false, 'ui', false, "
            f"'empty', true)")


def _inc(kind: str, e: str) -> str:
    """The discrete successor (the canonical function's step)."""
    if kind == "daterange":
        return f"date_add({e}, 1)"
    return f"({e} + 1)"


_BOUNDS_RE = re.compile(r"^'(?P<l>[\[\(])(?P<u>[\]\)])'$")


def _parse_bounds(lit: str) -> tuple[bool, bool]:
    m = _BOUNDS_RE.match(lit.strip())
    if m is None:
        raise ValueError(
            f"range constructor: bounds flags must be a literal "
            f"'[]'/'[)'/'(]'/'()' — got {lit!r}"
        )
    return m.group("l") == "[", m.group("u") == "]"


_NUM_LIT = re.compile(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$")


def build_range(kind: str, lo: str | None, hi: str | None,
                li: bool, ui: bool) -> str:
    """Constructor SQL (range_serialize + the canonical function):
    lo/hi are SQL expression texts or None for an infinite bound."""
    t = RANGE_KINDS[kind]
    err = ("CAST(raise_error('range lower bound must be less than "
           f"or equal to range upper bound') AS {range_struct_ddl(kind)})")
    # literal-vs-literal bound order checks run here, driver-side
    if lo is not None and hi is not None and \
            _NUM_LIT.match(lo.strip()) and _NUM_LIT.match(hi.strip()):
        if float(lo) > float(hi):
            raise ValueError(
                "range lower bound must be less than or equal to "
                "range upper bound"
            )
    lo_c = f"CAST({lo} AS {t})" if lo is not None else f"CAST(NULL AS {t})"
    hi_c = f"CAST({hi} AS {t})" if hi is not None else f"CAST(NULL AS {t})"
    if kind in _DISCRETE:
        lo2 = (f"CASE WHEN {lo_c} IS NULL THEN CAST(NULL AS {t}) "
               f"WHEN {str(li).lower()} THEN {lo_c} "
               f"ELSE {_inc(kind, lo_c)} END")
        hi2 = (f"CASE WHEN {hi_c} IS NULL THEN CAST(NULL AS {t}) "
               f"WHEN {str(ui).lower()} THEN {_inc(kind, hi_c)} "
               f"ELSE {hi_c} END")
        return (
            f"CASE WHEN {lo_c} IS NOT NULL AND {hi_c} IS NOT NULL "
            f"AND {lo_c} > {hi_c} THEN {err} "
            f"WHEN ({lo2}) IS NOT NULL AND ({hi2}) IS NOT NULL "
            f"AND ({lo2}) >= ({hi2}) THEN {_empty(kind)} "
            f"ELSE named_struct('lo', {lo2}, 'hi', {hi2}, "
            f"'li', ({lo2}) IS NOT NULL, 'ui', false, 'empty', false) "
            f"END"
        )
    li_s = "true" if li else "false"
    ui_s = "true" if ui else "false"
    return (
        f"CASE WHEN {lo_c} IS NOT NULL AND {hi_c} IS NOT NULL "
        f"AND {lo_c} > {hi_c} THEN {err} "
        f"WHEN {lo_c} IS NOT NULL AND {hi_c} IS NOT NULL "
        f"AND {lo_c} = {hi_c} AND NOT ({li_s} AND {ui_s}) "
        f"THEN {_empty(kind)} "
        f"ELSE named_struct('lo', {lo_c}, 'hi', {hi_c}, "
        f"'li', {li_s} AND {lo_c} IS NOT NULL, "
        f"'ui', {ui_s} AND {hi_c} IS NOT NULL, 'empty', false) END"
    )


_RANGE_TEXT = re.compile(
    r"^(?P<l>[\[\(])\s*(?P<lo>[^,\]\)]*?)\s*,\s*(?P<hi>[^,\]\)]*?)"
    r"\s*(?P<u>[\]\)])$"
)


def parse_range_text(kind: str, txt: str) -> str:
    """range_in (rangetypes.cpp range_parse): '[1.1,2.2)', '[3,]',
    '(,5)', 'empty' → constructor SQL."""
    s = txt.strip()
    if s.lower() == "empty":
        return _empty(kind)
    m = _RANGE_TEXT.match(s)
    if m is None:
        raise ValueError(f"malformed range literal: {txt!r}")
    lo = m.group("lo").strip() or None
    hi = m.group("hi").strip() or None
    if lo is not None and not _NUM_LIT.match(lo):
        lo = "'" + lo.replace("'", "''") + "'"
    if hi is not None and not _NUM_LIT.match(hi):
        hi = "'" + hi.replace("'", "''") + "'"
    return build_range(kind, lo, hi, m.group("l") == "[",
                       m.group("u") == "]")


# ------------------------------------------------------------------
# operator expression builders (rangetypes.cpp bound comparisons);
# a/b are SQL texts of struct expressions — field access duplicates
# them, codegen CSE keeps the cost flat
# ------------------------------------------------------------------

def _lo_le(a: str, b: str) -> str:
    """a's lower bound <= b's lower bound (range_cmp_bounds, lower)."""
    return (f"(({a}).lo IS NULL OR (({b}).lo IS NOT NULL AND "
            f"(({a}).lo < ({b}).lo OR (({a}).lo = ({b}).lo AND "
            f"(({a}).li OR NOT ({b}).li)))))")


def _hi_ge(a: str, b: str) -> str:
    """a's upper bound >= b's upper bound."""
    return (f"(({a}).hi IS NULL OR (({b}).hi IS NOT NULL AND "
            f"(({a}).hi > ({b}).hi OR (({a}).hi = ({b}).hi AND "
            f"(({a}).ui OR NOT ({b}).ui)))))")


def _lo_before_hi(a: str, b: str) -> str:
    """a's lower bound is before b's upper bound (overlap half)."""
    return (f"(({a}).lo IS NULL OR ({b}).hi IS NULL OR "
            f"({a}).lo < ({b}).hi OR (({a}).lo = ({b}).hi AND "
            f"({a}).li AND ({b}).ui))")


def op_contains(a: str, b: str) -> str:
    return (f"(({b}).empty OR (NOT ({a}).empty AND {_lo_le(a, b)} "
            f"AND {_hi_ge(a, b)}))")


def op_overlaps(a: str, b: str) -> str:
    return (f"(NOT ({a}).empty AND NOT ({b}).empty AND "
            f"{_lo_before_hi(a, b)} AND {_lo_before_hi(b, a)})")


def op_before(a: str, b: str) -> str:
    """a << b — strictly left."""
    return (f"(NOT ({a}).empty AND NOT ({b}).empty AND "
            f"({a}).hi IS NOT NULL AND ({b}).lo IS NOT NULL AND "
            f"(({a}).hi < ({b}).lo OR (({a}).hi = ({b}).lo AND "
            f"NOT (({a}).ui AND ({b}).li))))")


def op_overleft(a: str, b: str) -> str:
    """a &< b — does not extend right of b (upper(a) <= upper(b))."""
    return (f"(NOT ({a}).empty AND NOT ({b}).empty AND "
            f"{_hi_ge(b, a)})")


def op_adjacent(a: str, b: str) -> str:
    """-|- : the bounds meet exactly (bounds_adjacent — hi = lo with
    exactly one side inclusive; canonical discrete ranges hit the
    [x, x) case the same way)."""
    half = (lambda x, y:
            f"(({x}).hi IS NOT NULL AND ({y}).lo IS NOT NULL AND "
            f"({x}).hi = ({y}).lo AND (({x}).ui != ({y}).li))")
    return (f"(NOT ({a}).empty AND NOT ({b}).empty AND "
            f"({half(a, b)} OR {half(b, a)}))")


def op_contains_elem(r: str, e: str) -> str:
    return (f"(NOT ({r}).empty AND ({e}) IS NOT NULL AND "
            f"(({r}).lo IS NULL OR ({e}) > ({r}).lo OR "
            f"(({r}).li AND ({e}) = ({r}).lo)) AND "
            f"(({r}).hi IS NULL OR ({e}) < ({r}).hi OR "
            f"(({r}).ui AND ({e}) = ({r}).hi)))")


def _pick_lo(a: str, b: str) -> tuple[str, str]:
    """(lo, li) of the GREATER lower bound of a, b."""
    ge = f"NOT {_lo_le(a, b)}"  # a's lower > b's lower
    lo = f"CASE WHEN {ge} THEN ({a}).lo ELSE ({b}).lo END"
    li = f"CASE WHEN {ge} THEN ({a}).li ELSE ({b}).li END"
    return lo, li


def _pick_hi(a: str, b: str) -> tuple[str, str]:
    """(hi, ui) of the LESSER upper bound of a, b."""
    le = f"NOT {_hi_ge(a, b)}"  # a's upper < b's upper
    hi = f"CASE WHEN {le} THEN ({a}).hi ELSE ({b}).hi END"
    ui = f"CASE WHEN {le} THEN ({a}).ui ELSE ({b}).ui END"
    return hi, ui


def op_intersect(kind: str, a: str, b: str) -> str:
    lo, li = _pick_lo(a, b)
    hi, ui = _pick_hi(a, b)
    return (
        f"CASE WHEN NOT {op_overlaps(a, b)} THEN {_empty(kind)} "
        f"ELSE named_struct('lo', {lo}, 'hi', {hi}, 'li', {li}, "
        f"'ui', {ui}, 'empty', false) END"
    )


def _hull(a: str, b: str) -> str:
    lo_le = _lo_le(a, b)
    hi_ge = _hi_ge(a, b)
    return (
        f"named_struct("
        f"'lo', CASE WHEN {lo_le} THEN ({a}).lo ELSE ({b}).lo END, "
        f"'hi', CASE WHEN {hi_ge} THEN ({a}).hi ELSE ({b}).hi END, "
        f"'li', CASE WHEN {lo_le} THEN ({a}).li ELSE ({b}).li END, "
        f"'ui', CASE WHEN {hi_ge} THEN ({a}).ui ELSE ({b}).ui END, "
        f"'empty', false)"
    )


def op_union(kind: str, a: str, b: str) -> str:
    """+ : errors when the result would not be contiguous (PG's
    range_union); range_merge is the no-error hull."""
    err = ("CAST(raise_error('result of range union would not be "
           f"contiguous') AS {range_struct_ddl(kind)})")
    return (
        f"CASE WHEN ({a}).empty THEN ({b}) WHEN ({b}).empty THEN ({a}) "
        f"WHEN {op_overlaps(a, b)} OR {op_adjacent(a, b)} "
        f"THEN {_hull(a, b)} ELSE {err} END"
    )


def op_merge(kind: str, a: str, b: str) -> str:
    return (
        f"CASE WHEN ({a}).empty THEN ({b}) WHEN ({b}).empty THEN ({a}) "
        f"ELSE {_hull(a, b)} END"
    )


def op_minus(kind: str, a: str, b: str) -> str:
    """- : a minus b; errors when b splits a (rangetypes.cpp
    range_minus)."""
    err = ("CAST(raise_error('result of range difference would not "
           f"be contiguous') AS {range_struct_ddl(kind)})")
    # cut the LEFT part of a away (b covers a's lower side):
    left_cut = (
        f"named_struct('lo', ({b}).hi, 'hi', ({a}).hi, "
        f"'li', NOT ({b}).ui, 'ui', ({a}).ui, 'empty', false)"
    )
    right_cut = (
        f"named_struct('lo', ({a}).lo, 'hi', ({b}).lo, "
        f"'li', ({a}).li, 'ui', NOT ({b}).li, 'empty', false)"
    )
    lo_cross = (f"(({b}).hi IS NOT NULL AND (({a}).hi IS NULL OR "
                f"({b}).hi < ({a}).hi OR (({b}).hi = ({a}).hi AND "
                f"NOT ({b}).ui AND ({a}).ui)))")
    hi_cross = (f"(({b}).lo IS NOT NULL AND (({a}).lo IS NULL OR "
                f"({b}).lo > ({a}).lo OR (({b}).lo = ({a}).lo AND "
                f"NOT ({b}).li AND ({a}).li)))")
    norm = (lambda s:
            f"CASE WHEN ({s}).lo IS NOT NULL AND ({s}).hi IS NOT NULL "
            f"AND (({s}).lo > ({s}).hi OR (({s}).lo = ({s}).hi AND "
            f"NOT (({s}).li AND ({s}).ui))) THEN {_empty(kind)} "
            f"ELSE ({s}) END")
    return (
        f"CASE WHEN ({a}).empty OR ({b}).empty "
        f"OR NOT {op_overlaps(a, b)} THEN ({a}) "
        f"WHEN {op_contains(b, a)} THEN {_empty(kind)} "
        f"WHEN {_lo_le(b, a)} THEN {norm(left_cut)} "
        f"WHEN {_hi_ge(b, a)} THEN {norm(right_cut)} "
        f"ELSE {err} END"
    )


# ------------------------------------------------------------------
# statement rewrite
# ------------------------------------------------------------------

_CTOR = re.compile(
    r"\b(?P<kind>numrange|int4range|int8range|daterange)\s*\(",
    re.IGNORECASE,
)

_ACCESSORS = ("isempty", "lower_inc", "upper_inc", "lower_inf",
              "upper_inf")

_RANGE_FNS = {
    "range_contains": ("rr", op_contains),
    "range_contained_by": ("rr_swap", op_contains),
    "range_overlaps": ("rr", op_overlaps),
    "range_adjacent": ("rr", op_adjacent),
    "range_before": ("rr", op_before),
    "range_after": ("rr_swap", op_before),
    "range_overleft": ("rr", op_overleft),
    "range_overright": ("rr_swap", op_overleft),
    "range_union": ("rr_kind", op_union),
    "range_intersect": ("rr_kind", op_intersect),
    "range_merge": ("rr_kind", op_merge),
    "range_minus": ("rr_kind", op_minus),
    "range_contains_elem": ("re", op_contains_elem),
    "elem_contained_by_range": ("er", op_contains_elem),
}

_OPS = ["@>", "<@", "&&", "-|-", "<<", ">>", "&<", "&>",
        "+", "*", "-", "=", "<>", "<=", ">=", "<", ">"]
_OP_RE = ("(?P<op>@>|<@|&&|-\\|-|<<|>>|&<|&>|<>|<=|>=|"
          "[+*=<>-])")


def _range_columns(engine) -> dict[str, str]:
    """column name → range kind, unioned over managed tables (the
    engine's name-based dispatch rule, as rewrite_array_ops)."""
    out: dict[str, str] = {}
    for meta in engine.managed_tables.tables.values():
        out.update(meta.get("range_cols") or {})
    return out


def _ctor_to_sql(engine, kind: str, args_text: str) -> str:
    args = split_top(args_text)
    if len(args) not in (2, 3):
        raise ValueError(
            f"{kind}: takes (lower, upper[, bounds]) — got "
            f"{len(args)} argument(s)"
        )
    li, ui = (True, False)
    if len(args) == 3:
        li, ui = _parse_bounds(args[2])
    lo = None if args[0].upper() in ("NULL", "") else \
        _rewrite_text(engine, args[0])
    hi = None if args[1].upper() in ("NULL", "") else \
        _rewrite_text(engine, args[1])
    return build_range(kind, lo, hi, li, ui)


def _match_atom(engine, text: str, masked: str, pos: int):
    """(end, struct_sql, kind) when text[pos:] starts with a range
    atom — a constructor call or a registered range column — else
    None."""
    m = _CTOR.match(text, pos)
    if m:
        cl = close_paren(masked, m.end() - 1)
        if cl < 0:
            return None
        kind = m.group("kind").lower()
        return (cl + 1, _ctor_to_sql(engine, kind,
                                     text[m.end():cl]), kind)
    rc = _range_columns(engine)
    im = re.match(r"\w+(?:\.\w+)?", text[pos:])
    if im:
        name = im.group(0).split(".")[-1].lower()
        if name in rc:
            return (pos + im.end(), text[pos:pos + im.end()], rc[name])
    return None


_SIMPLE_OPERAND = re.compile(
    r"\s*(?P<o>(?:DATE|TIMESTAMP|TIME|INTERVAL)\s+'(?:[^']|'')*'"
    r"|'(?:[^']|'')*'|-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"|\w+(?:\.\w+)?)",
    re.IGNORECASE,
)


def _operand_after(engine, text: str, masked: str, pos: int,
                   kind: str):
    """Parse the operand at text[pos:] — an atom, a range string
    literal (parsed with the partner's kind), or a simple elem
    expression.  Returns (end, sql, is_range) or None."""
    ws = len(text[pos:]) - len(text[pos:].lstrip())
    p = pos + ws
    atom = _match_atom(engine, text, masked, p)
    if atom is not None:
        return (atom[0], atom[1], True)
    m = _SIMPLE_OPERAND.match(text, pos)
    if m is None:
        return None
    o = m.group("o")
    if o.startswith("'"):
        inner = o[1:-1].replace("''", "'")
        if inner.strip().lower() == "empty" or \
                _RANGE_TEXT.match(inner.strip()):
            return (m.end(), parse_range_text(kind, inner), True)
        return (m.end(), o, False)
    # a call span (identifier followed by '(')
    rest = text[m.end():]
    if rest.lstrip().startswith("("):
        op_paren = m.end() + (len(rest) - len(rest.lstrip()))
        cl = close_paren(masked, op_paren)
        if cl < 0:
            return None
        return (cl + 1, text[m.start():cl + 1].strip(), False)
    return (m.end(), o, False)


def _apply_op(kind: str, op: str, a: str, b: str,
              a_range: bool, b_range: bool) -> str:
    if op in ("<", ">", "<=", ">=") and a_range and b_range:
        raise NotImplementedError(
            "range < / > ordering (range_cmp's bound order) is not "
            "compiled — compare lower(r)/upper(r) explicitly"
        )
    if op == "@>":
        return op_contains(a, b) if b_range else op_contains_elem(a, b)
    if op == "<@":
        return op_contains(b, a) if a_range and b_range \
            else op_contains_elem(b, a)
    if op == "&&":
        return op_overlaps(a, b)
    if op == "-|-":
        return op_adjacent(a, b)
    if op == "<<":
        return op_before(a, b)
    if op == ">>":
        return op_before(b, a)
    if op == "&<":
        return op_overleft(a, b)
    if op == "&>":
        return op_overleft(b, a)
    if op == "+":
        return op_union(kind, a, b)
    if op == "*":
        return op_intersect(kind, a, b)
    if op == "-":
        return op_minus(kind, a, b)
    if op == "=":
        return f"(({a}) = ({b}))"
    if op == "<>":
        return f"(NOT (({a}) = ({b})))"
    raise NotImplementedError(f"range operator {op!r}")


def _rewrite_text(engine, text: str) -> str:
    """The recursive worker: rewrite every range construct in a SQL
    fragment.  Each outer iteration applies ONE rewrite (leftmost
    actionable construct) and rescans — bounded, since every rewrite
    removes a constructor/function/operator occurrence."""
    out = text
    for _guard in range(300):
        masked = mask(out)
        rep_span = None  # (start, end, replacement)

        # 1) named range_* functions and accessors (leftmost
        #    actionable; string lower()/upper() are skipped)
        for fm in re.finditer(
            r"\b(?P<fn>" + "|".join(list(_RANGE_FNS) + ["lower",
            "upper", *_ACCESSORS]) + r")\s*\(",
            masked, re.IGNORECASE,
        ):
            fn = fm.group("fn").lower()
            cl = close_paren(masked, fm.end() - 1)
            if cl < 0:
                continue
            args = split_top(out[fm.end():cl])
            if fn in _RANGE_FNS:
                shape, builder = _RANGE_FNS[fn]
                if len(args) != 2:
                    raise ValueError(f"{fn}: takes 2 arguments")
                a = _rewrite_text(engine, args[0])
                b = _rewrite_text(engine, args[1])
                am = _atom_kind(engine, args[0])
                bm = _atom_kind(engine, args[1])
                kind = am or bm or "numrange"
                if shape == "rr":
                    rep = builder(a, b)
                elif shape == "rr_swap":
                    rep = builder(b, a)
                elif shape == "rr_kind":
                    rep = builder(kind, a, b)
                elif shape == "re":
                    rep = builder(a, b)
                else:  # er: (elem, range) argument order
                    rep = builder(b, a)
                rep_span = (fm.start(), cl + 1, rep)
                break
            if len(args) != 1:
                continue
            kind = _atom_kind(engine, args[0])
            if kind is None:
                if fn in _ACCESSORS:
                    raise ValueError(
                        f"{fn}: the argument is not a recognized "
                        "range expression (a constructor call or a "
                        "range-typed column)"
                    )
                continue  # string lower()/upper() — leave it
            atom = _rewrite_text(engine, args[0])
            if fn == "lower":
                rep = (f"(CASE WHEN ({atom}).empty THEN NULL "
                       f"ELSE ({atom}).lo END)")
            elif fn == "upper":
                rep = (f"(CASE WHEN ({atom}).empty THEN NULL "
                       f"ELSE ({atom}).hi END)")
            elif fn == "isempty":
                rep = f"(({atom}).empty)"
            elif fn == "lower_inc":
                rep = f"(NOT ({atom}).empty AND ({atom}).li)"
            elif fn == "upper_inc":
                rep = f"(NOT ({atom}).empty AND ({atom}).ui)"
            elif fn == "lower_inf":
                rep = f"(NOT ({atom}).empty AND ({atom}).lo IS NULL)"
            else:  # upper_inf
                rep = f"(NOT ({atom}).empty AND ({atom}).hi IS NULL)"
            rep_span = (fm.start(), cl + 1, rep)
            break
        if rep_span is not None:
            s, e, rep = rep_span
            out = out[:s] + rep + out[e:]
            continue

        # 2) infix operators around the leftmost atom; lone
        #    constructors substitute to their struct text
        pos = 0
        while pos < len(out):
            a_start = _next_atom_start(engine, out, masked, pos)
            if a_start is None:
                break
            atom = _match_atom(engine, out, masked, a_start)
            if atom is None:
                pos = a_start + 1
                continue
            a_end, a_sql, kind = atom
            is_col = not _CTOR.match(out, a_start)
            # right side: <atom> <op> <operand>
            om = re.match(r"\s*" + _OP_RE, out[a_end:])
            if om:
                od = _operand_after(engine, out, masked,
                                    a_end + om.end(), kind)
                if od is not None:
                    b_end, b_sql, b_range = od
                    op = om.group("op")
                    if not (is_col and not b_range and op in
                            _AMBIGUOUS_OPS):
                        rep = _apply_op(kind, op, a_sql, b_sql,
                                        True, b_range)
                        rep_span = (a_start, b_end, rep)
                        break
            # left side: <operand> <op> <atom>
            lm = re.search(
                r"(?P<o>(?:DATE|TIMESTAMP|TIME|INTERVAL)\s+"
                r"'(?:[^']|'')*'|'(?:[^']|'')*'|-?\d+(?:\.\d+)?"
                r"(?:[eE][+-]?\d+)?|\w+(?:\.\w+)?)\s*"
                + _OP_RE + r"\s*$",
                out[:a_start], re.IGNORECASE,
            )
            if lm:
                o, op = lm.group("o"), lm.group("op")
                if o.startswith("'"):
                    inner = o[1:-1].replace("''", "'")
                    if inner.strip().lower() == "empty" or \
                            _RANGE_TEXT.match(inner.strip()):
                        b_sql, b_range = \
                            parse_range_text(kind, inner), True
                    else:
                        b_sql, b_range = o, False
                else:
                    b_range = (o.split(".")[-1].lower()
                               in _range_columns(engine))
                    b_sql = o
                if not (is_col and not b_range and op in
                        _AMBIGUOUS_OPS):
                    rep = _apply_op(kind, op, b_sql, a_sql,
                                    b_range, True)
                    rep_span = (lm.start(), a_end, rep)
                    break
            if not is_col:
                rep_span = (a_start, a_end, a_sql)  # lone constructor
                break
            pos = a_end
        if rep_span is None:
            break
        s, e, rep = rep_span
        out = out[:s] + rep + out[e:]
    return out


# operators that also exist for non-range operands — a range COLUMN
# next to a non-range partner keeps its ordinary meaning (arith /
# scalar comparison), while a CONSTRUCTOR operand always dispatches
_AMBIGUOUS_OPS = ("+", "-", "*", "=", "<>", "<", ">", "<=", ">=")


def _atom_kind(engine, text: str) -> str | None:
    """kind when the WHOLE (stripped) fragment is a range atom."""
    t = text.strip()
    am = _match_atom(engine, t, mask(t), 0)
    if am is not None and am[0] == len(t):
        return am[2]
    return None


def _next_atom_start(engine, out: str, masked: str, pos: int):
    """Position of the next constructor call or range-column
    identifier at/after pos, else None."""
    starts = []
    cm = _CTOR.search(masked, pos)
    if cm:
        starts.append(cm.start())
    rc = _range_columns(engine)
    if rc:
        for im in re.finditer(r"\b\w+(?:\.\w+)?\b", masked[pos:]):
            nm = im.group(0).split(".")[-1].lower()
            if nm in rc and not masked[
                    pos + im.end():].lstrip().startswith("("):
                starts.append(pos + im.start())
                break
    return min(starts) if starts else None


def rewrite_range_ops(engine, query: str) -> str:
    """Engine.sql funnel pass: identity unless a range constructor,
    range_* function, accessor-over-range, or registered range column
    appears with a range operator."""
    low = query.lower()
    rc = _range_columns(engine)
    # tables owning range columns: an INSERT/UPDATE against one may
    # carry only bare literals (no constructor/column NAME in the
    # text), so the table name itself must trigger the pass
    rtables = {t for t, meta in engine.managed_tables.tables.items()
               if meta.get("range_cols")}
    if not (
        any(k in low for k in RANGE_KINDS)
        or any(f in low for f in _RANGE_FNS)
        or (rc and any(c in low for c in rc))
        or (rtables and any(t in low for t in rtables))
    ):
        return query
    # UPDATE <range-table> SET nr = '<lit>': the SET position is an
    # ASSIGNMENT, not an equality predicate — convert the literal to
    # the constructor struct directly (the WHERE clause below keeps
    # the normal operator dispatch)
    um = re.match(
        r"^(?P<head>\s*UPDATE\s+(?P<t>\w+)\s+SET\s+)(?P<sets>.*?)"
        r"(?P<where>\bWHERE\b.*)?;?\s*$",
        query, re.IGNORECASE | re.DOTALL,
    )
    if um:
        meta = engine.managed_tables.tables.get(um.group("t").lower())
        rcols = (meta or {}).get("range_cols") or {}
        if rcols:
            parts = []
            for clause in split_top(um.group("sets")):
                cm = re.match(r"^(?P<c>\w+)\s*=\s*(?P<v>.+)$",
                              clause.strip(), re.DOTALL)
                if cm and cm.group("c").lower() in rcols:
                    v = cm.group("v").strip()
                    if re.match(r"^'(?:[^']|'')*'$", v):
                        v = parse_range_text(
                            rcols[cm.group("c").lower()],
                            v[1:-1].replace("''", "'"))
                    else:
                        v = _rewrite_text(engine, v)
                    parts.append(f"{cm.group('c')} = {v}")
                else:
                    parts.append(_rewrite_text(engine, clause))
            where = um.group("where") or ""
            return (um.group("head") + ", ".join(parts)
                    + (" " + _rewrite_text(engine, where)
                       if where else ""))
    # INSERT INTO <range-table> VALUES(...): bare string literals in
    # range column positions parse through range_in
    m = re.match(
        r"^(?P<head>\s*INSERT\s+INTO\s+(?P<t>\w+)\s*"
        r"(?:\((?P<cols>[^)]*)\))?\s*VALUES\s*)(?P<rest>.*)$",
        query, re.IGNORECASE | re.DOTALL,
    )
    if m:
        meta = engine.managed_tables.tables.get(m.group("t").lower())
        rcols = (meta or {}).get("range_cols") or {}
        if rcols:
            cols = ([c.strip().lower() for c in
                     m.group("cols").split(",")]
                    if m.group("cols")
                    else [f.split(":")[0].strip() for f in []])
            if not cols and meta is not None:
                df_cols = engine.managed_tables.read(
                    m.group("t")).columns
                cols = [c.lower() for c in df_cols]
            rest = m.group("rest")
            tuples = []
            for mp in top_level(rest, r"\("):
                cl = close_paren(rest, mp.start())
                if cl < 0:
                    break
                vals = split_top(rest[mp.start() + 1:cl])
                for j, v in enumerate(vals):
                    if j < len(cols) and cols[j] in rcols and \
                            re.match(r"^'(?:[^']|'')*'$", v.strip()):
                        inner = v.strip()[1:-1].replace("''", "'")
                        vals[j] = parse_range_text(
                            rcols[cols[j]], inner)
                    else:
                        vals[j] = _rewrite_text(engine, v)
                # SELECT, not VALUES: Spark's inline-table form
                # rejects the non-foldable constructor CASE /
                # raise_error expressions
                tuples.append("SELECT " + ", ".join(
                    f"{v} AS {cols[j]}" if j < len(cols) else v
                    for j, v in enumerate(vals)
                ))
            head = re.sub(r"VALUES\s*$", "", m.group("head"),
                          flags=re.IGNORECASE)
            return head + " UNION ALL ".join(tuples)
    return _rewrite_text(engine, query)


# ------------------------------------------------------------------
# driver gate
# ------------------------------------------------------------------
from ..registry import query as _register  # noqa: E402


@_register(
    "range_type_funcs",
    """
    SELECT o_orderstatus AS st,
           CAST(SUM(CASE WHEN o_orderkey >= 500 AND o_orderkey < 1500
                         THEN 1 ELSE 0 END) AS BIGINT) AS in_window,
           CAST(SUM(CASE WHEN o_orderkey < 1000
                         THEN 1 ELSE 0 END) AS BIGINT) AS below_1000,
           CAST(SUM(CASE WHEN o_orderkey > 985 AND o_orderkey < 1005
                         THEN 1 ELSE 0 END) AS BIGINT) AS near_1000,
           CAST(MIN(o_orderkey) AS BIGINT) AS lo_key,
           CAST(MAX(o_orderkey) + 1 AS BIGINT) AS hi_key
    FROM orders GROUP BY st ORDER BY st
    """,
)
def range_type_funcs(spark, sf_dir):
    """Range types end-to-end (rangetypes.cpp — census batch 9): elem
    containment (@> / <@ with an infinite bound), range-range overlap
    over a column-derived constructor, and the discrete canonical
    form's accessors (upper of '[]' = max + 1), all over the orders
    table.  The oracle is each operator's CLOSED FORM in arithmetic
    (contains = bound comparisons; overlap of [k, k+10) with
    [995, 1005) = k > 985 AND k < 1005), so a green row proves the
    constructor canonicalization, the bound-comparison compilation,
    and the accessor field logic — not just that some filter ran.

    Scale: every operator is a pure codegen expression over struct
    fields — no UDF, no shuffle beyond the aggregation's own; the
    plan pin lives in test_range_types.py."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    out = eng.sql(
        "SELECT o_orderstatus AS st,"
        " CAST(SUM(CASE WHEN int8range(500, 1500) @> o_orderkey"
        "          THEN 1 ELSE 0 END) AS BIGINT) AS in_window,"
        " CAST(SUM(CASE WHEN o_orderkey <@ int8range(NULL, 1000)"
        "          THEN 1 ELSE 0 END) AS BIGINT) AS below_1000,"
        " CAST(SUM(CASE WHEN int8range(o_orderkey, o_orderkey + 10)"
        "               && int8range(995, 1005)"
        "          THEN 1 ELSE 0 END) AS BIGINT) AS near_1000,"
        " lower(int8range(MIN(o_orderkey), MAX(o_orderkey), '[]'))"
        "   AS lo_key,"
        " upper(int8range(MIN(o_orderkey), MAX(o_orderkey), '[]'))"
        "   AS hi_key"
        " FROM orders GROUP BY st ORDER BY st"
    )
    # lazy return (r13): nothing is dropped after the build, so the old
    # collect+createDataFrame round-trip bought nothing (guide §5)
    from ._util import pin_schema

    return pin_schema(
        out,
        "st STRING, in_window BIGINT, below_1000 BIGINT,"
        " near_1000 BIGINT, lo_key BIGINT, hi_key BIGINT",
    )
