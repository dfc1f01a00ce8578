"""Oracle/PG SQL-compat translation — the reference's compat-parser layer.

openGauss accepts Oracle dialect on top of PG (A_FORMAT compatibility:
`src/common/backend/parser/parse_compatibility.cpp`); the pieces Spark
SQL does not already speak are translated here:

  * `ROWNUM <= n` / `ROWNUM < n` top-level filters → `LIMIT` — the
    reference does this rewrite in the planner
    (`src/gausskernel/optimizer/prep/preprownum.cpp`) ONLY when the
    query block has no sortClause, because Oracle assigns ROWNUM before
    ORDER BY. When an ORDER BY is present in the same block we preserve
    Oracle semantics by limiting first in a derived table and sorting
    the limited rows: `SELECT * FROM (<query> LIMIT n) ORDER BY ...`.
  * `FROM dual` → removed (Spark allows SELECT without FROM).
  * `SYSDATE` → `current_timestamp()`.

Everything else Oracle-ish is native in Spark 4 (`MINUS`, `nvl`,
`nvl2`, `decode`, `::` casts) or registered under its PG name by
functions/pg_compat.py. The translator is conservative on purpose: only
whole-clause tail patterns are rewritten, matching preprownum.cpp's
"simple filter" scope; anything it does not recognize passes through
untouched for Spark's parser to judge.
"""

from __future__ import annotations

import re

from ..sqltext import LITERAL, close_paren, split_top, top_level

_FROM_DUAL = re.compile(r"\bfrom\s+dual\b", re.IGNORECASE)
_SYSDATE = re.compile(r"\bsysdate\b", re.IGNORECASE)

# datavec's vector distance operators (datavec--0.7.2.sql:172-187:
# <-> l2, <#> negative inner product for index order, <=> cosine,
# <+> l1) between simple operands: a column reference or a quoted
# pgvector literal '[1,2,3]'. Conservative on purpose — compound
# expressions pass through for Spark's parser to reject loudly rather
# than be half-rewritten. Two safety rules beyond pgvector's grammar:
#
#   * String literals are masked before ANY regex rewrite and restored
#     after, so `SELECT 'a <-> b'` (operators inside quoted text) is
#     never corrupted; only a masked literal whose body is a pgvector
#     vector `[...]` participates as an operand.
#   * `<=>` is Spark SQL's native null-safe equality operator, which
#     Postgres lacks — pgvector could claim the token, Spark cannot.
#     It is rewritten to cosine_distance ONLY when at least one operand
#     is a pgvector literal; `a.k <=> b.k` between plain identifiers
#     keeps Spark's null-safe-equal semantics untouched.
_MASK = "\x00"
_MASK_TOK = re.compile(r"\x00(\d+)\x00")
# A single-quoted SQL literal, with '' as the escaped quote.
_VEC_OPERAND = r"(?:\x00\d+\x00|[A-Za-z_][A-Za-z0-9_.]*)"
_VEC_OP = re.compile(
    rf"(?P<a>{_VEC_OPERAND})\s*(?P<op><->|<#>|<=>|<\+>)\s*"
    rf"(?P<b>{_VEC_OPERAND})"
)
_VEC_FNS = {
    "<->": "l2_distance",
    "<#>": "neg_inner_product",
    "<=>": "cosine_distance",
    "<+>": "l1_distance",
}
_VEC_LIT = re.compile(r"^'\[(?P<body>[^\]']*)\]'$")


def _stash_literals(sql: str) -> tuple[str, list[str]]:
    literals: list[str] = []

    def stash(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"{_MASK}{len(literals) - 1}{_MASK}"

    return LITERAL.sub(stash, sql), literals


def _unstash_literals(sql: str, literals: list[str]) -> str:
    return _MASK_TOK.sub(lambda m: literals[int(m.group(1))], sql)


def _rewrite_vector_ops(sql: str, literals: list[str]) -> str:
    def resolve(tok: str) -> str:
        m = _MASK_TOK.fullmatch(tok)
        return literals[int(m.group(1))] if m else tok

    def operand_sql(tok: str) -> str:
        m = _VEC_LIT.match(tok)
        if m:
            return f"array({m.group('body')})"
        return f"CAST({tok} AS ARRAY<DOUBLE>)"

    def sub(m: re.Match) -> str:
        op = m.group("op")
        a = resolve(m.group("a"))
        b = resolve(m.group("b"))
        a_is_vec = bool(_VEC_LIT.match(a))
        b_is_vec = bool(_VEC_LIT.match(b))
        # A masked literal that is NOT a vector literal can never be a
        # distance operand ('abc' <-> x is not pgvector); leave as-is.
        if (a.startswith("'") and not a_is_vec) or (
            b.startswith("'") and not b_is_vec
        ):
            return m.group(0)
        if op == "<=>" and not (a_is_vec or b_is_vec):
            return m.group(0)  # Spark's null-safe equality — not ours
        fn = _VEC_FNS[op]
        a_sql = operand_sql(a)
        b_sql = operand_sql(b)
        if fn == "neg_inner_product":
            return f"(-inner_product({a_sql}, {b_sql}))"
        return f"{fn}({a_sql}, {b_sql})"

    return _VEC_OP.sub(sub, sql)

# `WHERE ROWNUM <= n` (whole clause) or `AND ROWNUM <= n` (tail of a
# larger WHERE), optionally followed by the block's ORDER BY, at the end
# of the statement.
_ROWNUM_TAIL = re.compile(
    r"(?P<kw>\bwhere\b|\band\b)\s+rownum\s*(?P<op><=|<)\s*(?P<n>\d+)"
    r"(?P<order>\s+order\s+by\s+[^;]*?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# B-format CONVERT(expr, type) target types → Spark cast targets
# (typecmds / B-compat cast grammar; MySQL CONVERT docs are the
# public semantics).  UNSIGNED maps to BIGINT — the value range is
# honored, the reject-negatives semantics deviation is documented.
_CONVERT_TYPES = {
    "SIGNED": "BIGINT", "SIGNED INTEGER": "BIGINT",
    "UNSIGNED": "BIGINT", "UNSIGNED INTEGER": "BIGINT",
    "CHAR": "STRING", "NCHAR": "STRING",
    "BINARY": "BINARY", "DATE": "DATE", "DATETIME": "TIMESTAMP",
    "TIME": "STRING", "FLOAT": "FLOAT", "DOUBLE": "DOUBLE",
    "REAL": "DOUBLE", "YEAR": "INT",
}


def _rewrite_convert(masked: str) -> str:
    """B-format CONVERT (gram.y B-compat; MySQL public semantics):
    ``CONVERT(expr, type)`` → CAST; ``CONVERT(expr USING charset)`` →
    the expression unchanged (UTF-8 end-to-end — the B-charset
    COVERAGE position)."""
    out = masked
    pos = 0
    while True:
        m = re.search(r"\bCONVERT\s*\(", out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = pos + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        inner = out[op + 1:cl]
        mu = re.search(r"\s+USING\s+\w+\s*$", inner, re.IGNORECASE)
        if mu:
            repl = f"({inner[:mu.start()].strip()})"
        else:
            # split on the LAST top-level comma: expr may contain
            # commas inside nested calls, the type never does (except
            # DECIMAL(p,s), whose comma sits inside parens)
            commas = list(top_level(inner, ","))
            if not commas:
                pos = cl + 1  # not the two-arg form: leave untouched
                continue
            expr = inner[:commas[-1].start()].strip()
            ty = " ".join(inner[commas[-1].end():].upper().split())
            md = re.fullmatch(
                r"DECIMAL(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?", ty
            )
            if md:
                target = ty
            elif re.fullmatch(r"CHAR\s*\(\s*\d+\s*\)", ty):
                target = "STRING"
            elif ty in _CONVERT_TYPES:
                target = _CONVERT_TYPES[ty]
            else:
                target = ty  # unknown: let Spark's CAST report it
            repl = f"CAST({expr} AS {target})"
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start()  # rescan from here (nested CONVERTs)


# SELECT ... FOR UPDATE / FOR SHARE [OF t,...] [NOWAIT | SKIP LOCKED |
# WAIT n] — LockRows has no batch analogue (SURVEY §2.6 n/a set); the
# SELECT itself is the whole meaning here, so the clause strips.
_LOCK_ROWS_TAIL = re.compile(
    r"\s+FOR\s+(?:NO\s+KEY\s+)?(?:UPDATE|SHARE)(?:\s+OF\s+\w+"
    r"(?:\s*,\s*\w+)*)?(?:\s+(?:NOWAIT|SKIP\s+LOCKED|WAIT\s+\d+))?"
    r"\s*(;?)\s*$",
    re.IGNORECASE,
)

# FROM/JOIN generate_series(a, b[, s]) [AS] [alias[(col)]] — the
# canonical PG FunctionScan (regress uses it everywhere); Spark's
# explode(sequence(...)) is the exact equivalent.
_GENSERIES_FROM = re.compile(
    r"\b(?P<kw>FROM|JOIN)\s+generate_series\s*\((?P<args>[^()]*)\)"
    r"(?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|"
    r"ON\b|JOIN\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|INNER\b|UNION\b|"
    r"HAVING\b)\w+)\s*(?:\(\s*(?P<col>\w+)\s*\))?)?",
    re.IGNORECASE,
)


def _genseries_seq(args: str) -> str:
    """``sequence(...)`` with PG's empty-range semantics.  PG's
    generate_series(a, b) with the positive default step returns ZERO
    rows when a > b, while Spark's sequence(a, b) auto-negates the
    step and yields a DESCENDING series — so the rewrite guards the
    range and pins the step.  The empty branch spells
    slice(sequence(a, a), 1, 0) so both CASE arms share the element
    type.  A non-literal 3rd-arg step (expression / interval) passes
    through unguarded — its sign isn't statically known and the
    timestamp+interval form has no portable zero literal."""
    parts = [p.strip() for p in args.split(",")]
    if len(parts) == 2:
        a, b = parts
        return (
            f"CASE WHEN ({a}) <= ({b}) THEN sequence({a}, {b}, 1)"
            f" ELSE slice(sequence({a}, {a}), 1, 0) END"
        )
    if len(parts) == 3:
        a, b, s = parts
        ms = re.fullmatch(r"-?\d+", s)
        if ms:
            step = int(s)
            if step > 0:
                return (
                    f"CASE WHEN ({a}) <= ({b})"
                    f" THEN sequence({a}, {b}, {s})"
                    f" ELSE slice(sequence({a}, {a}), 1, 0) END"
                )
            if step < 0:
                return (
                    f"CASE WHEN ({a}) >= ({b})"
                    f" THEN sequence({a}, {b}, {s})"
                    f" ELSE slice(sequence({a}, {a}), 1, 0) END"
                )
    return f"sequence({args})"


def _rewrite_generate_series(masked: str) -> str:
    def sub_from(m: re.Match) -> str:
        alias = m.group("alias") or "generate_series"
        col = m.group("col") or m.group("alias") or "generate_series"
        return (
            f"{m.group('kw')} (SELECT explode("
            f"{_genseries_seq(m.group('args'))}) AS {col}) AS {alias}"
        )

    out = _GENSERIES_FROM.sub(sub_from, masked)
    # SELECT-position SRF (ProjectSet): same explode, simple-arg form
    return re.sub(
        r"\bgenerate_series\s*\(([^()]*)\)",
        lambda m: f"explode({_genseries_seq(m.group(1))})",
        out, flags=re.IGNORECASE,
    )


# PG json arrow operators (adt/jsonfuncs.cpp json_object_field /
# json_array_element and the _text variants): LHS is an identifier or
# a chained arrow result; RHS is a quoted key (masked literal) or an
# array index.  `->>` extracts text, `->` extracts json — rendered
# via get_json_object with a type-sniffing re-quote for string
# scalars (a string that lexically looks like a number/bool comes
# back unquoted; use ->> for text extraction — documented deviation).
# Guards: `(?<![<>-])` keeps datavec's `<->` and `->>`-inside-`->`
# detection clean, and a quoted/integer RHS never collides with
# Spark lambda syntax in practice (lambda bodies here are
# expressions, not bare literals; literals in oracles never pass
# through translate).
# A whole arrow CHAIN composes into ONE JSONPath: `a->'b'->3->>'c'`
# → get_json_object(a, '$.b[3].c'), with the LAST arrow deciding
# text (->>)  vs json (-> — the re-quote CASE).
_JSON_CHAIN = re.compile(
    r"(?P<a>\x00\d+\x00|[A-Za-z_][A-Za-z0-9_.]*)"
    r"(?P<chain>(?:\s*(?<![<>-])->>?\s*(?:\x00\d+\x00|-?\d+))+)"
)
_JSON_STEP = re.compile(
    r"(?P<op>->>|->)\s*(?P<k>\x00\d+\x00|-?\d+)"
)


def _rewrite_json_arrows(masked: str, literals: list[str]) -> str:
    def sub(m: re.Match) -> str:
        steps = _JSON_STEP.findall(m.group("chain"))
        # the FIRST step must be a quoted key: `col->'k'...` is
        # unambiguously the json operator, while `x -> 2` could be a
        # Spark lambda with a constant body — those pass through
        # (integer-first json chains are the rare loss; ->'k' first
        # then ->N indexes compose fine)
        if not steps or not _MASK_TOK.fullmatch(steps[0][1]):
            return m.group(0)
        path = "$"
        for _op, k in steps:
            mt = _MASK_TOK.fullmatch(k)
            if mt:
                key = literals[int(mt.group(1))][1:-1].replace("''", "'")
                # a key containing a quote would break out of the
                # single-quoted JSONPath literal (malformed SQL) and
                # '.'/'['/']'/'\\' corrupt the composed path — leave
                # the expression untranslated (PG-side spelling
                # surfaces as an analyzer error, never wrong results)
                if any(ch in key for ch in "'.[]\\"):
                    return m.group(0)
                path += f".{key}"
            else:
                path += f"[{k}]"
        base = f"get_json_object({m.group('a')}, '{path}')"
        if steps[-1][0] == "->>":
            return base
        return (
            f"(CASE WHEN {base} IS NULL THEN NULL"
            f" WHEN {base} RLIKE '^(\\\\{{|\\\\[)' THEN {base}"
            f" WHEN {base} IN ('true', 'false', 'null') THEN {base}"
            f" WHEN {base} RLIKE"
            f" '^-?[0-9]+(\\\\.[0-9]+)?([eE][-+]?[0-9]+)?$'"
            f" THEN {base}"
            f" ELSE concat('\"', {base}, '\"') END)"
        )

    return _JSON_CHAIN.sub(sub, masked)


# PG format() specs this rewrite compiles: %s / %I / %L with optional
# n$ position, and %% (adt/varlena.cpp text_format).  Width/flag forms
# (%5s, %-I) leave the call untranslated — the analyzer error names
# the missing function rather than silently dropping padding.
_FMT_SPEC = re.compile(r"%(?:(?P<pos>\d+)\$)?(?P<t>[sIL%])")


def _compile_pg_format(fmt: str, args: list[str],
                       literals: list[str]) -> str | None:
    def lit(s: str) -> str:
        literals.append("'" + s.replace("'", "''") + "'")
        return f"\x00{len(literals) - 1}\x00"

    # every % must sit inside a supported spec span
    covered: set[int] = set()
    for sm in _FMT_SPEC.finditer(fmt):
        covered.update(range(sm.start(), sm.end()))
    if any(ch == "%" and i not in covered
           for i, ch in enumerate(fmt)):
        return None
    pieces, last, argi = [], 0, 0
    for m in _FMT_SPEC.finditer(fmt):
        if fmt[last:m.start()]:
            pieces.append(lit(fmt[last:m.start()]))
        last = m.end()
        t = m.group("t")
        if t == "%":
            pieces.append(lit("%"))
            continue
        k = int(m.group("pos")) - 1 if m.group("pos") else argi
        if not m.group("pos"):
            argi += 1
        if k < 0 or k >= len(args):
            return None  # arity error: PG raises at runtime — leave
        a = f"({args[k].strip()})"
        if t == "s":
            # text_format: NULL renders as empty for %s
            pieces.append(f"coalesce(CAST({a} AS STRING), {lit('')})")
        elif t == "I":
            pieces.append(f"quote_ident(CAST({a} AS STRING))")
        else:  # %L — NULL renders as unquoted NULL
            pieces.append(
                f"CASE WHEN {a} IS NULL THEN {lit('NULL')} "
                f"ELSE quote_literal(CAST({a} AS STRING)) END"
            )
    if fmt[last:]:
        pieces.append(lit(fmt[last:]))
    if not pieces:
        return lit("")
    return f"concat({', '.join(pieces)})"


def _rewrite_format(masked: str, literals: list[str]) -> str:
    """PG format(fmt, ...) with a LITERAL template → a concat of
    literal chunks and per-spec argument expressions — whole-stage
    codegen, no UDF (Spark has no variadic SQL-function registration,
    and printf's Java specs lack %I/%L).  Non-literal templates and
    unsupported specs pass through untouched."""
    out, pos = masked, 0
    while True:
        m = re.search(r"\bformat\s*\(", out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = pos + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        args = split_top(out[op + 1:cl])
        mt = _MASK_TOK.fullmatch(args[0].strip()) if args else None
        repl = None
        if mt is not None:
            fmt = literals[int(mt.group(1))][1:-1].replace("''", "'")
            repl = _compile_pg_format(fmt, args[1:], literals)
        if repl is None:
            pos = op + 1
            continue
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start() + len(repl)


def _rewrite_trunc(masked: str) -> str:
    """Numeric trunc(x[, s]) (adt/numeric.cpp trunc — toward zero) →
    the sign-aware FLOOR/CEIL form.  The 2-arg DATE spelling
    trunc(d, 'MM') keeps Spark's builtin (the scale arg here must be
    an integer literal to rewrite); a date passed to the numeric form
    fails analysis rather than silently truncating epoch seconds."""
    out, pos = masked, 0
    while True:
        m = re.search(r"\btrunc\s*\(", out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = pos + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        args = split_top(out[op + 1:cl])
        repl = None
        if len(args) == 1 and args[0]:
            a = f"({args[0]})"
            repl = (f"(CASE WHEN {a} >= 0 THEN FLOOR{a} "
                    f"ELSE CEIL{a} END)")
        elif len(args) == 2 and re.fullmatch(r"-?\d+", args[1]):
            a, s = f"({args[0]})", int(args[1])
            p = f"POW(10, {s})"
            repl = (f"(CASE WHEN {a} >= 0 "
                    f"THEN FLOOR({a} * {p}) / {p} "
                    f"ELSE CEIL({a} * {p}) / {p} END)")
        if repl is None:
            pos = op + 1
            continue
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start() + len(repl)


def _rewrite_extract_dow(masked: str) -> str:
    """extract(dow/isodow from x) — PG numbers days 0-6 with Sunday=0
    (isodow 1-7 Monday=1; timestamp.cpp timestamp_part), while
    Spark's dayofweek is 1-7 with Sunday=1: uncorrected, every PG dow
    predicate is silently off by one."""
    out, pos = masked, 0
    while True:
        m = re.search(r"\bextract\s*\(\s*(?P<f>dow|isodow)\s+from\b",
                      out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = out.index("(", pos + m.start())
        cl = close_paren(out, op)
        if cl < 0:
            return out
        f = m.group("f").lower()
        expr = re.sub(r"^\s*(?:dow|isodow)\s+from\b", "",
                      out[op + 1:cl], flags=re.IGNORECASE).strip()
        if f == "dow":
            repl = f"CAST(dayofweek({expr}) - 1 AS BIGINT)"
        else:
            repl = (f"CAST(pmod(dayofweek({expr}) + 5, 7) + 1"
                    " AS BIGINT)")
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start()


def _rewrite_date_part_dow(masked: str, literals: list[str]) -> str:
    """The date_part('dow'/'isodow', x) literal-field spelling
    (same PG day-numbering correction as _rewrite_extract_dow)."""
    out, pos = masked, 0
    while True:
        m = re.search(r"\bdate_part\s*\(\s*(?P<q>\x00\d+\x00)\s*,",
                      out[pos:], re.IGNORECASE)
        if m is None:
            return out
        mt = _MASK_TOK.fullmatch(m.group("q"))
        field = literals[int(mt.group(1))][1:-1].lower()
        if field not in ("dow", "isodow"):
            pos = pos + m.end()
            continue
        op = out.index("(", pos + m.start())
        cl = close_paren(out, op)
        if cl < 0:
            return out
        expr = out[op + 1:cl].split(",", 1)[1].strip()
        if field == "dow":
            repl = f"CAST(dayofweek({expr}) - 1 AS BIGINT)"
        else:
            repl = (f"CAST(pmod(dayofweek({expr}) + 5, 7) + 1"
                    " AS BIGINT)")
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start()


# SIMILAR TO (PG's SQL-regex operator, adt/regexp.cpp
# similar_to_escape): % -> .*, _ -> . , anchored both ends; the
# POSIX subset (| * + ? ( ) [ ]) passes through, as PG documents.
_SIMILAR_TO = re.compile(
    r"\s+(?P<neg>NOT\s+)?SIMILAR\s+TO\s+(?P<p>\x00\d+\x00)",
    re.IGNORECASE,
)


def _rewrite_similar_to(masked: str, literals: list[str]) -> str:
    def sub(m: re.Match) -> str:
        mt = _MASK_TOK.fullmatch(m.group("p"))
        # collapse the SQL '' escape first — the masked literal is the
        # raw quoted text, so 'a''b%' holds two quote chars that are
        # ONE literal quote (the re-escape below restores the SQL
        # doubling on the rewritten regex literal)
        pat = literals[int(mt.group(1))][1:-1].replace("''", "'")
        rx, i = [], 0
        while i < len(pat):
            ch = pat[i]
            if ch == "%":
                rx.append(".*")
            elif ch == "_":
                rx.append(".")
            elif ch == "\\" and i + 1 < len(pat):
                rx.append(re.escape(pat[i + 1]))
                i += 1
            elif ch in ".^$":
                rx.append("\\" + ch)
            else:
                rx.append(ch)
            i += 1
        # Spark string literals consume backslashes (Hive-style
        # escapes), so the regex's own backslashes double up
        body = ("".join(rx).replace("\\", "\\\\")
                .replace("'", "''"))
        literals.append("'^(?:" + body + ")$'")
        tok = f"\x00{len(literals) - 1}\x00"
        op = "NOT RLIKE" if m.group("neg") else "RLIKE"
        return f" {op} {tok}"

    return _SIMILAR_TO.sub(sub, masked)


# a format model is treated as PG/Oracle (not a Spark pattern) when it
# carries a PG-style ALL-CAPS token and no lowercase Spark pattern
# letter — 'YYYY-MM-DD HH24:MI:SS' rewrites, 'yyyy-MM-dd' passes
# through untouched
_PG_MODEL_HINT = re.compile(
    r"YYYY|\bYY\b|HH24|HH12|MI|SS|DDD|\bDD\b|MON|MONTH|\bDY\b|DAY"
    r"|Month|Mon\b|Day\b|Dy\b|\bAM\b|\bPM\b|\bRM\b|\bFM"
)

# PG's mixed/lower-case NAME tokens — stripped before the
# lowercase-letter test, since their casing selects the rendered
# case, not the dialect
_PG_NAME_TOKENS = re.compile(
    r"Month|month|Mon|mon|Day|day|Dy|dy|FM|TM|FX"
)


def _is_pg_dt_model(model: str) -> bool:
    if re.search(r"[ymdhs]", _PG_NAME_TOKENS.sub("", model)):
        return False  # lowercase Spark pattern letters present
    return _PG_MODEL_HINT.search(model) is not None


def _rewrite_pg_datetime_fns(masked: str, literals: list[str]) -> str:
    """SQL-text ``to_date/to_timestamp(x, '<PG model>')`` →
    the Spark pattern (formatting.cpp's DCH table via
    pg_compat.pg_datetime_model_to_spark), and ``to_char(x,
    '<datetime model>')`` → ``date_format(x, '<pattern>')`` when the
    model needs no expression-tier tokens (SSSS/WW/CC/J/... keep the
    DataFrame API, functions/pg_compat.py to_char).  Numeric to_char
    models (9/0 digits) rewrite separately (_rewrite_to_char_numeric).
    Spark-native patterns (lowercase letters) pass through untouched."""
    from .pg_compat import _parse_dt_model, pg_datetime_model_to_spark

    out, pos = masked, 0
    while True:
        m = re.search(r"\b(?P<fn>to_date|to_timestamp|to_char)\s*\(",
                      out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = pos + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        args = split_top(out[op + 1:cl])
        mt = (_MASK_TOK.fullmatch(args[1].strip())
              if len(args) == 2 else None)
        repl = None
        if mt is not None:
            model = literals[int(mt.group(1))][1:-1].replace("''", "'")
            fn = m.group("fn").lower()
            if fn == "to_char" and set(model) & set("90"):
                repl = _to_char_numeric_sql(args[0].strip(), model,
                                            literals)
            elif _is_pg_dt_model(model):
                pat = pg_datetime_model_to_spark(model)
                ptok = None
                if "'" not in pat.replace("''", ""):
                    literals.append("'" + pat.replace("'", "''") + "'")
                    ptok = f"\x00{len(literals) - 1}\x00"
                if ptok is not None and fn in ("to_date",
                                               "to_timestamp"):
                    repl = f"{fn}({args[0].strip()}, {ptok})"
                elif ptok is not None:
                    segs = _parse_dt_model(model)
                    if all(k != "expr" for k, _ in segs):
                        repl = (f"date_format({args[0].strip()}, "
                                f"{ptok})")
        if repl is None:
            pos = op + 1
            continue
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        # rescan from just inside the replacement: NESTED calls
        # (to_date(to_char(x, ...), ...)) still need their own
        # rewrite; the outer name re-matches once and falls through
        # (its model token is already Spark-cased)
        pos = pos + m.start() + 1


def _to_char_numeric_sql(arg: str, model: str,
                         literals: list[str]) -> str | None:
    """Numeric to_char with the SIMPLE digit subset ('9'/'0' digits,
    one optional '.', optional FM prefix — formatting.cpp NUM table's
    head): rounded to the model's scale, sign-aware, PG's leading
    sign slot, '#' fill on overflow.  Group separators / currency /
    EEEE / RN keep the DataFrame API (functions/pg_compat.py
    _to_char_numeric)."""
    fm = model.upper().startswith("FM")
    body = model[2:] if fm else model
    mm = re.fullmatch(r"(?P<i>[90]+)(?:\.(?P<d>[90]+))?", body)
    if mm is None:
        return None
    intw = len(mm.group("i"))
    dec = len(mm.group("d") or "")
    a = f"({arg})"

    def lit(s: str) -> str:
        literals.append("'" + s.replace("'", "''") + "'")
        return f"\x00{len(literals) - 1}\x00"

    num = f"CAST(ROUND(CAST({a} AS DOUBLE), {dec}) AS DECIMAL(38, {dec}))"
    txt = f"CAST(ABS({num}) AS STRING)"
    sign = f"CASE WHEN {num} < 0 THEN {lit('-')} ELSE {lit(' ')} END"
    if fm:
        sign = f"CASE WHEN {num} < 0 THEN {lit('-')} ELSE {lit('')} END"
    width = intw + (dec + 1 if dec else 0)
    over = lit("#" * (len(body) + 1))
    base = f"concat({sign}, {txt})"
    if not fm:
        base = f"lpad({base}, {width + 1}, {lit(' ')})"
    return (
        f"(CASE WHEN {a} IS NULL THEN NULL"
        f" WHEN ABS({num}) >= POW(10, {intw}) THEN {over}"
        f" ELSE {base} END)"
    )


def _rewrite_pg_typeof(masked: str) -> str:
    """pg_typeof(expr) → pg_typename(typeof(expr)) — Spark's typeof()
    is polymorphic, the macro maps the name spelling (misc.cpp
    pg_typeof; SQL macros are monomorphic so the composition happens
    here, balanced-paren aware)."""
    out = masked
    pos = 0
    while True:
        m = re.search(r"\bpg_typeof\s*\(", out[pos:], re.IGNORECASE)
        if m is None:
            return out
        op = pos + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        inner = out[op + 1:cl]
        repl = f"pg_typename(typeof({inner}))"
        out = out[:pos + m.start()] + repl + out[cl + 1:]
        pos = pos + m.start() + len(repl)


def _rewrite_regexp_like3(masked: str, literals: list[str]) -> str:
    """3-argument ``regexp_like(s, p, match_param)`` (adt/regexp.cpp;
    the A-format match_param letters): Spark's builtin regexp_like is
    2-arg only and cannot be shadowed by a SQL UDF, so the flag letters
    compile into an inline-flag prefix on the pattern — i → (?i),
    m → (?m), n → (?s), c/'' → none — and the call lowers to the
    builtin.  The match_param must be a literal (regress always spells
    it so); a non-literal third argument is left for the analyzer to
    reject."""
    out = masked
    while True:
        start = 0
        hit = None
        while True:
            m = re.search(r"\bregexp_like\s*\(", out[start:],
                          re.IGNORECASE)
            if m is None:
                break
            op = start + m.end() - 1
            cl = close_paren(out, op)
            if cl < 0:
                break
            args = split_top(out[op + 1:cl])
            if len(args) == 3 and _MASK_TOK.fullmatch(args[2].strip()):
                hit = (start + m.start(), op, cl, args)
                break
            start += m.end()
        if hit is None:
            return out
        st, op, cl, args = hit
        flags = literals[
            int(_MASK_TOK.fullmatch(args[2].strip()).group(1))
        ][1:-1].lower()
        prefix = ("(?i)" if "i" in flags else "") + \
                 ("(?s)" if "n" in flags else "") + \
                 ("(?m)" if "m" in flags else "")
        if prefix:
            tok = f"\x00{len(literals)}\x00"
            literals.append(f"'{prefix}'")
            pat = f"concat({tok}, {args[1].strip()})"
        else:
            pat = args[1].strip()
        out = (out[:st]
               + f"regexp_like({args[0].strip()}, {pat})"
               + out[cl + 1:])


def _json_elem(arg: str) -> str:
    """A json-valued aggregate element must enter the collection as a
    STRUCT/ARRAY, not as serialized text (else to_json of the
    collection re-escapes it into strings — PG nests the objects).
    Unwraps the spellings that produce json values."""
    a = arg.strip()
    for pat, head in (
        (r"^jsonb?_build_object\s*\(", "named_struct("),
        (r"^jsonb?_build_array\s*\(", "array("),
        (r"^to_json\s*\(", ""),
    ):
        m = re.match(pat, a, re.IGNORECASE)
        if m and close_paren(a, m.end() - 1) == len(a) - 1:
            inner = a[m.end():-1]
            return f"{head}{inner})" if head else inner
    m = re.fullmatch(
        r"row_to_json\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)", a,
        re.IGNORECASE,
    )
    if m:
        return f"struct({m.group(1)}.*)"
    return a


def _rewrite_json_ctors(masked: str) -> str:
    """PG JSON construction spellings (adt/json.cpp — row_to_json,
    json[b]_build_object/_build_array, json[b]_agg, json[b]_object_agg,
    json_object) onto Spark's native to_json over struct/array/map:

      * ``row_to_json(alias)``            → ``to_json(struct(alias.*))``
      * ``json_build_object(k,v,...)``    → ``to_json(named_struct(...))``
        (keys must be foldable strings, PG's overwhelmingly common form)
      * ``json_build_array(...)``         → ``to_json(array(...))``
      * ``json_agg(x)``                   → ``to_json(collect_list(x))``
        (the ordered form routes through _rewrite_agg_orderby)
      * ``json_object_agg(k, v)``         → ``to_json(map_from_entries(
                                             collect_list(struct(k,v))))``
      * ``json_object(keys[], vals[])``   → ``to_json(map_from_arrays)``

    jsonb_* spellings map identically (the engine's JSON is text)."""
    out = masked
    # simple head renames first (argument lists pass through verbatim)
    out = re.sub(r"\bjsonb?_build_object\s*\(",
                 "to_json(named_struct(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bjsonb?_build_array\s*\(", "to_json(array(", out,
                 flags=re.IGNORECASE)
    # NOTE: the two renames above open TWO parens for one original —
    # close them by extending each call's closing paren
    for opener in ("to_json(named_struct(", "to_json(array("):
        start = 0
        while True:
            i = out.find(opener, start)
            if i < 0:
                break
            cl = close_paren(out, i + len(opener) - 1)
            if cl < 0:
                break
            out = out[:cl + 1] + ")" + out[cl + 1:]
            start = i + len(opener)
    out = re.sub(
        r"\brow_to_json\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)",
        r"to_json(struct(\1.*))", out, flags=re.IGNORECASE,
    )
    # aggregates: plain spellings (ordered ones were already lowered
    # by _rewrite_agg_orderby, which runs first)
    start = 0
    while True:
        m = re.search(r"\bjsonb?_agg\s*\(", out[start:], re.IGNORECASE)
        if m is None:
            break
        op = start + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            break
        inner = _json_elem(out[op + 1:cl])
        repl = f"to_json(collect_list({inner}))"
        out = out[:start + m.start()] + repl + out[cl + 1:]
        start = start + m.start() + len(repl)
    start = 0
    while True:
        m = re.search(r"\bjsonb?_object_agg\s*\(", out[start:],
                      re.IGNORECASE)
        if m is None:
            break
        op = start + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            break
        args = split_top(out[op + 1:cl])
        if len(args) != 2:
            raise ValueError("json_object_agg takes (key, value)")
        repl = (f"to_json(map_from_entries(collect_list("
                f"struct({args[0]}, {args[1]}))))")
        out = out[:start + m.start()] + repl + out[cl + 1:]
        start = start + m.start() + len(repl)
    start = 0
    while True:
        m = re.search(r"\bjson_object\s*\(", out[start:], re.IGNORECASE)
        if m is None:
            break
        op = start + m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            break
        args = split_top(out[op + 1:cl])
        if len(args) == 2:
            repl = (f"to_json(map_from_arrays({args[0]}, {args[1]}))")
        else:
            # one alternating-pairs array (json.cpp json_object 1-arg)
            a = args[0]
            repl = (
                "to_json(map_from_arrays("
                f"filter({a}, (__jx, __ji) -> __ji % 2 = 0), "
                f"filter({a}, (__jx, __ji) -> __ji % 2 = 1)))"
            )
        out = out[:start + m.start()] + repl + out[cl + 1:]
        start = start + m.start() + len(repl)
    return out


def _rewrite_agg_orderby(masked: str) -> str:
    """PG's ORDER-BY-INSIDE-AGGREGATE spelling (varlena.cpp
    string_agg / array_userfuncs.cpp array_agg / xml.cpp xmlagg —
    ``agg(x, d ORDER BY k)``): Spark spells ordered concatenation as
    ``listagg/string_agg(...) WITHIN GROUP (ORDER BY ...)``, and
    ordered collection as a struct-keyed array_sort.  The rewrite:

      * ``string_agg(x, d ORDER BY ks)`` → ``string_agg(x, d) WITHIN
        GROUP (ORDER BY ks)`` (ASC/DESC ride through natively)
      * ``xmlagg(x [ORDER BY ks])`` → ``string_agg(x, '') [WITHIN
        GROUP ...]`` (XML aggregation is concatenation of the already-
        serialized pieces)
      * ``array_agg(x ORDER BY x)`` → ``array_sort(collect_list(x))``;
        ``array_agg(x ORDER BY k [DESC] [, k2 ...])`` → sort structs
        of (keys, value) and project the value (single-key DESC via
        reverse; mixed-direction multi-key refuses naming the struct
        spelling)
    """
    out = masked
    pos = 0
    while True:
        m = None
        for mm in re.finditer(
            r"\b(string_agg|array_agg|xmlagg|jsonb?_agg|"
            r"jsonb?_object_agg)\s*\(",
            out, re.IGNORECASE,
        ):
            if mm.start() >= pos:
                m = mm
                break
        if m is None:
            return out
        fn = m.group(1).lower()
        op = m.end() - 1
        cl = close_paren(out, op)
        if cl < 0:
            return out
        inner = out[op + 1:cl]
        # split at the ORDER BY at paren depth 0 of THIS call
        ob = next(top_level(inner, r"\bORDER\s+BY\b"), None)
        parts = [inner[:ob.start()], inner[ob.end():]] if ob else [inner]
        if len(parts) == 1 and fn != "xmlagg":
            # plain json_agg/jsonb_agg lowers in _rewrite_json_ctors
            pos = cl + 1
            continue
        args = parts[0].strip().rstrip(",").strip()
        keys = parts[1].strip() if len(parts) == 2 else None
        if fn in ("json_agg", "jsonb_agg"):
            args = _json_elem(args)
        if fn in ("json_object_agg", "jsonb_object_agg"):
            kv = split_top(args)
            if len(kv) != 2:
                raise ValueError("json_object_agg takes (key, value)")
            norm = lambda s: re.sub(r"\s+", " ", s).strip().lower()  # noqa: E731
            kparts = split_top(keys)
            descs = [bool(re.search(r"\bDESC\b", k, re.IGNORECASE))
                     for k in kparts]
            bare = [re.sub(r"\b(ASC|DESC|NULLS\s+(FIRST|LAST))\b", "",
                           k, flags=re.IGNORECASE).strip()
                    for k in kparts]
            entry = f"struct(({kv[0]}) AS __jk, ({kv[1]}) AS __jv)"
            if (len(kparts) == 1 and not descs[0]
                    and norm(bare[0]) == norm(kv[0])):
                arr = f"array_sort(collect_list({entry}))"
            elif any(descs):
                raise NotImplementedError(
                    "json_object_agg with DESC sort keys — sort "
                    "structs explicitly with an encoded key"
                )
            else:
                fields = ", ".join(
                    f"({b}) AS __o{i}" for i, b in enumerate(bare)
                )
                arr = (
                    f"transform(array_sort(collect_list(struct("
                    f"{fields}, {entry} AS __ov))), __s -> __s.__ov)"
                )
            repl = f"to_json(map_from_entries({arr}))"
        elif fn == "string_agg":
            repl = f"string_agg({args})"
            if keys:
                repl += f" WITHIN GROUP (ORDER BY {keys})"
        elif fn == "xmlagg":
            repl = f"string_agg({args}, '')"
            if keys:
                repl += f" WITHIN GROUP (ORDER BY {keys})"
        else:  # array_agg / json_agg / jsonb_agg (array-shaped aggs)
            kparts = split_top(keys)
            norm = lambda s: re.sub(r"\s+", " ", s).strip().lower()  # noqa: E731
            descs = [bool(re.search(r"\bDESC\b", k, re.IGNORECASE))
                     for k in kparts]
            bare = [re.sub(r"\b(ASC|DESC|NULLS\s+(FIRST|LAST))\b", "",
                           k, flags=re.IGNORECASE).strip()
                    for k in kparts]
            if len(kparts) == 1 and norm(bare[0]) == norm(args):
                repl = f"array_sort(collect_list({args}))"
                if descs[0]:
                    repl = f"reverse({repl})"
            elif any(descs) and not all(descs):
                raise NotImplementedError(
                    "array_agg with mixed ASC/DESC sort keys — sort "
                    "structs explicitly: transform(array_sort("
                    "collect_list(struct(keys..., value))), s -> "
                    "s.value) with encoded keys"
                )
            else:
                fields = ", ".join(
                    f"({b}) AS __o{i}" for i, b in enumerate(bare)
                )
                repl = (
                    f"transform(array_sort(collect_list(struct("
                    f"{fields}, ({args}) AS __ov))), "
                    f"__s -> __s.__ov)"
                )
                if all(descs) and descs:
                    repl = f"reverse({repl})"
            if fn in ("json_agg", "jsonb_agg"):
                repl = f"to_json({repl})"
        out = out[:m.start()] + repl + out[cl + 1:]
        pos = m.start() + len(repl)


def translate(sql: str) -> str:
    """Rewrite the supported Oracle-compat constructs into Spark SQL."""
    masked, literals = _stash_literals(sql)
    # B-format charset-prefixed literals (_utf8'x', _utf8mb4'x', ...):
    # the engine is UTF-8 end-to-end (COVERAGE's charset position), so
    # the introducer strips — the literal text is already UTF-8
    masked = re.sub(
        r"\b_(?:utf8mb4|utf8|gbk|gb18030|latin1|binary|ucs2|ascii)"
        r"\s*(?=\x00\d+\x00)",
        "", masked, flags=re.IGNORECASE,
    )
    out = _FROM_DUAL.sub("", masked)
    out = _SYSDATE.sub("current_timestamp()", out)
    # bare LOCALTIMESTAMP keyword (PG/standard SQL) → Spark's
    # function form (the parenthesized call stays untouched)
    out = re.sub(r"\blocaltimestamp\b(?!\s*\()", "localtimestamp()",
                 out, flags=re.IGNORECASE)
    out = _rewrite_vector_ops(out, literals)
    out = _LOCK_ROWS_TAIL.sub(r"\1", out)
    if "hll_" in out.lower():
        # contrib/hll's sketch-building spellings onto Spark's native
        # datasketches HLL (hll_function.cpp hll_add_agg :315,
        # hll_cardinality :560; hll_union_agg is Spark-native already).
        # hll_add_agg conventionally takes hll_hash_*(x) — sketching
        # the 64-bit hash keeps the distribution contract (the
        # hll_hash macros are xxhash64, the documented deviation).
        out = re.sub(r"\bhll_add_agg\s*\(", "hll_sketch_agg(", out,
                     flags=re.IGNORECASE)
        out = re.sub(r"\bhll_cardinality\s*\(", "hll_sketch_estimate(",
                     out, flags=re.IGNORECASE)
    if re.search(r"\bpg_typeof\s*\(", out, re.IGNORECASE):
        out = _rewrite_pg_typeof(out)
    if "->" in out:
        out = _rewrite_json_arrows(out, literals)
    # date_trunc('decade'|'century'|'millennium', x) — Spark's
    # date_trunc silently returns NULL for fields it lacks
    # (timestamp.cpp timestamp_trunc supports them: decade → year -
    # year%10, century → 100-year blocks ending in 00 so 1997 →
    # 1901-01-01, millennium likewise)
    pos0 = 0
    while True:
        mt = re.search(
            r"\bdate_trunc\s*\(\s*(?P<tok>\x00\d+\x00)\s*,",
            out[pos0:], re.IGNORECASE)
        if mt is None:
            break
        f = literals[
            int(_MASK_TOK.fullmatch(mt.group("tok")).group(1))
        ][1:-1].lower()
        if f not in ("decade", "century", "millennium"):
            pos0 += mt.end()
            continue
        op = out.index("(", pos0 + mt.start())
        cl = close_paren(out, op)
        if cl < 0:
            break
        arg = out[op + 1:cl].split(",", 1)[1].strip()
        y = f"year(CAST(({arg}) AS TIMESTAMP))"
        if f == "decade":
            yy = f"({y} - pmod({y}, 10))"
        elif f == "century":
            yy = f"({y} - pmod({y} - 1, 100))"
        else:
            yy = f"({y} - pmod({y} - 1, 1000))"
        out = (out[:pos0 + mt.start()]
               + f"to_timestamp(make_date({yy}, 1, 1))"
               + out[cl + 1:])
        pos0 = 0  # rescan (replacement shifted offsets)
    # extract(epoch FROM x) — Spark's EXTRACT has no EPOCH field
    # (timestamp.cpp's epoch = seconds since 1970 with fraction)
    while True:
        me = re.search(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\b", out,
                       re.IGNORECASE)
        if me is None:
            break
        op = out.index("(", me.start())
        cl = close_paren(out, op)
        if cl < 0:
            break
        inner = out[op + 1:cl]
        expr = re.sub(r"^\s*EPOCH\s+FROM\b", "", inner,
                      flags=re.IGNORECASE).strip()
        out = (
            out[:me.start()]
            + f"(CAST(unix_micros(CAST(({expr}) AS TIMESTAMP)) AS"
            " DOUBLE) / 1000000.0)"
            + out[cl + 1:]
        )
    if re.search(r"\bCONVERT\s*\(", out, re.IGNORECASE):
        out = _rewrite_convert(out)
    if re.search(r"\bgenerate_series\s*\(", out, re.IGNORECASE):
        out = _rewrite_generate_series(out)
    if re.search(r"\bformat\s*\(", out, re.IGNORECASE):
        out = _rewrite_format(out, literals)
    if re.search(r"\btrunc\s*\(", out, re.IGNORECASE):
        out = _rewrite_trunc(out)
    if re.search(r"\bto_(?:date|timestamp|char)\s*\(", out,
                 re.IGNORECASE):
        out = _rewrite_pg_datetime_fns(out, literals)
    if re.search(r"\bextract\s*\(\s*(?:dow|isodow)\b", out,
                 re.IGNORECASE):
        out = _rewrite_extract_dow(out)
    if re.search(r"\bdate_part\s*\(", out, re.IGNORECASE):
        out = _rewrite_date_part_dow(out, literals)
    if re.search(r"\bSIMILAR\s+TO\b", out, re.IGNORECASE):
        out = _rewrite_similar_to(out, literals)
    if re.search(r"\bregexp_like\s*\(", out, re.IGNORECASE):
        out = _rewrite_regexp_like3(out, literals)
    if re.search(r"\bxmlagg\s*\(", out, re.IGNORECASE) or (
        re.search(r"\b(?:string_agg|array_agg|jsonb?_agg|"
                  r"jsonb?_object_agg)\s*\(", out, re.IGNORECASE)
        and re.search(r"\bORDER\s+BY\b", out, re.IGNORECASE)
    ):
        out = _rewrite_agg_orderby(out)
    if re.search(
        r"\b(?:row_to_json|jsonb?_build_object|jsonb?_build_array|"
        r"jsonb?_agg|jsonb?_object_agg|json_object)\s*\(",
        out, re.IGNORECASE,
    ):
        out = _rewrite_json_ctors(out)
    if re.search(r"\bxml(?:element|forest|concat|comment|parse|pi|"
                 r"serialize|root)\s*\(|\bxpath\s*\(", out,
                 re.IGNORECASE):
        from .xml_compat import rewrite_xml

        out = rewrite_xml(out, literals)

    m = _ROWNUM_TAIL.search(out)
    if m:
        n = int(m.group("n"))
        if m.group("op") == "<":
            n -= 1
        order = m.group("order") or ""
        # for an `AND ROWNUM...` tail the preceding predicates (and their
        # WHERE) stay; for a whole `WHERE ROWNUM...` clause the WHERE
        # goes too.
        body = out[: m.start()].strip()
        if order:
            # Oracle assigns ROWNUM BEFORE ORDER BY of the same block
            # (preprownum.cpp refuses the plain-LIMIT rewrite when a
            # sortClause exists): limit first, then sort the n rows.
            out = f"SELECT * FROM ({body} LIMIT {n}) {order.strip()}"
        else:
            out = f"{body} LIMIT {n}"
    return _unstash_literals(out, literals)
