"""START WITH ... CONNECT BY hierarchical queries compiled to native
WITH RECURSIVE.

Reference surface: ``parse_startwith.cpp`` (the reference itself
TRANSFORMS a StartWith/ConnectBy clause into a recursive CTE before
planning — transformStartWith builds the CTE, StartWithOp only
materializes the pseudo columns), ``nodeStartWithOp.cpp`` for the
pseudo-column contract, and the ``sw_basic.sql`` / ``sw_bugfix-*.sql``
regress family (29+ hierarchy walks over a single relation).

Spark-first design: the same rewrite, one level earlier — the SQL text
is rewritten into Spark 4's native ``WITH RECURSIVE`` so Catalyst plans
the per-level loop (one shuffle on the join key per level, AQE-sized),
and every pseudo column is an accumulated STRING/INT column threaded
through the recursion:

  * ``LEVEL``                      → a depth counter (anchor 1, +1/level)
  * ``SYS_CONNECT_BY_PATH(e,'/')`` → a concat-accumulated path column
  * ``CONNECT_BY_ROOT e``          → the anchor value carried down
  * ``CONNECT_BY_ISLEAF``          → anti-join on the result's
                                     parent-keypath set (a row is a leaf
                                     iff no result row names its keypath
                                     as parent — NOCYCLE-pruned children
                                     therefore do NOT count, the Oracle
                                     rule)
  * ``CONNECT_BY_ISCYCLE``         → (NOCYCLE only, as the reference
                                     requires) a row is flagged iff some
                                     child candidate was suppressed by
                                     the cycle guard
  * ``ORDER SIBLINGS BY k``        → depth-first preorder via a
                                     fixed-width-encoded sort-key path

Cycle handling matches the reference: ``NOCYCLE`` prunes an edge whose
child key already appears on the row's ancestor keypath; WITHOUT
NOCYCLE a cyclic hierarchy exhausts the recursion budget and errors
(Spark's cteRecursionLevelLimit plays the reference's max-depth error).

Scale: identical to the reference's own CTE transform — each level is
one distributed equi-join of the base relation against the previous
level's frontier (shuffle keyed on the join key), the accumulated
state per row is O(depth) strings, and nothing is ever collected.
The isleaf/iscycle post-passes are group-key-bounded equi-joins on the
keypath column.

Deliberately out of scope (each refuses naming the rewrite): multiple
relations / subqueries in FROM, non-equality PRIOR conjuncts, PRIOR on
both sides of one comparison, and DESC sibling order — all are
expressible by writing the WITH RECURSIVE form directly.
"""

from __future__ import annotations

import re

from ..sqltext import close_paren, mask, split_top, top_level

_KW = re.compile(
    r"\b(FROM|WHERE|START\s+WITH|CONNECT\s+BY|ORDER\s+SIBLINGS\s+BY|"
    r"GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b",
    re.IGNORECASE,
)

# fixed-width sort-key encodes for ORDER SIBLINGS BY (documented
# bounded-key contract: numerics within ±1e19 at 6 decimals, strings
# compared on their first 64 characters)
_NUM_OFFSET = "10000000000000000000"


def _scan_clauses(masked: str):
    """Depth-0 keyword positions over the masked text, in order."""
    return [(m.start(), m.end(), " ".join(m.group(1).upper().split()))
            for m in top_level(masked, _KW)]


def _dequalify(expr: str, alias: str | None) -> str:
    """Strip the user's FROM-alias qualification so exprs re-qualify
    cleanly against the rewrite's own aliases."""
    if not alias:
        return expr
    return re.sub(rf"\b{re.escape(alias)}\s*\.\s*", "", expr,
                  flags=re.IGNORECASE)


def _qualify(expr: str, alias: str, cols: list[str]) -> str:
    """Prefix every bare base-column token in ``expr`` with
    ``alias.`` (skips already-qualified tokens, function calls, and
    string literals)."""
    masked = mask(expr)
    colset = {c.lower() for c in cols}
    out, last = [], 0
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", masked):
        tok = m.group(0)
        if tok.lower() not in colset:
            continue
        before = masked[:m.start()].rstrip()
        after = masked[m.end():].lstrip()
        if before.endswith("."):
            continue
        if after.startswith("("):
            continue
        out.append(expr[last:m.start()])
        out.append(f"{alias}.{tok}")
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _extract_calls(text: str, fname: str):
    """Balanced-paren call sites of ``fname`` in ``text`` (masked scan):
    list of (start, end, [arg texts from the ORIGINAL string])."""
    masked = mask(text)
    sites = []
    for m in re.finditer(rf"\b{fname}\s*\(", masked, re.IGNORECASE):
        cl = close_paren(masked, m.end() - 1)
        if cl != -1:
            sites.append((m.start(), cl + 1, split_top(text[m.end():cl])))
    return sites


def _norm(expr: str) -> str:
    return re.sub(r"\s+", " ", expr).strip().lower()


class _Swcb:
    """One parsed START WITH / CONNECT BY statement."""

    def __init__(self):
        self.items = ""
        self.rel = ""
        self.alias = None
        self.where = None
        self.start_with = None
        self.connect_by = ""
        self.nocycle = False
        self.siblings = None
        self.tail = ""  # GROUP BY / HAVING / ORDER BY / LIMIT text


def _parse(query: str, masked: str) -> _Swcb | None:
    if not re.search(r"\bCONNECT\s+BY\b", masked, re.IGNORECASE):
        return None
    if not re.match(r"^\s*SELECT\b", masked, re.IGNORECASE):
        if re.match(r"^\s*WITH\b", masked, re.IGNORECASE) and any(
            kw == "CONNECT BY" for _, _, kw in _scan_clauses(masked)
        ):
            raise NotImplementedError(
                "START WITH/CONNECT BY under a WITH clause — inline "
                "the CTE as a derived table in FROM, or write the "
                "WITH RECURSIVE form directly"
            )
        return None
    hits = _scan_clauses(masked)
    if not any(kw == "CONNECT BY" for _, _, kw in hits):
        return None  # only nested (subquery) connect-by: unsupported
    sw = _Swcb()
    head = re.match(r"^\s*SELECT\s+", masked, re.IGNORECASE)
    # segment boundaries: from each keyword hit to the next
    segs = []
    for idx, (s, e, kw) in enumerate(hits):
        nxt = hits[idx + 1][0] if idx + 1 < len(hits) else len(query)
        segs.append((kw, s, e, nxt))
    if not segs or segs[0][0] != "FROM":
        return None
    sw.items = query[head.end():segs[0][1]].strip()
    tail_parts = []
    for kw, s, e, nxt in segs:
        body = query[e:nxt].strip().rstrip(";").strip()
        if kw == "FROM":
            sw.rel = body
        elif kw == "WHERE":
            sw.where = body
        elif kw == "START WITH":
            sw.start_with = body
        elif kw == "CONNECT BY":
            sw.connect_by = body
        elif kw == "ORDER SIBLINGS BY":
            sw.siblings = body
        else:  # GROUP BY / HAVING / ORDER BY / LIMIT — outer tail
            tail_parts.append(query[s:nxt].strip().rstrip(";").strip())
    sw.tail = " ".join(tail_parts)
    m = re.match(r"^\s*NOCYCLE\b", sw.connect_by, re.IGNORECASE)
    if m:
        sw.nocycle = True
        sw.connect_by = sw.connect_by[m.end():].strip()
    rel = sw.rel.strip()
    if rel.startswith("("):
        # subquery base (the sw_bugfix "fromlist startwith" family's
        # derived-table spelling): the parenthesized SELECT is the
        # relation the recursion walks.  Each level re-executes it —
        # the reference's CTE transform materializes the base once, so
        # push heavy filtering into the subquery.
        cl = close_paren(rel, 0)
        am = re.fullmatch(r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*",
                          rel[cl + 1:], re.IGNORECASE)
        if cl == -1 or not am:
            raise NotImplementedError(
                "START WITH/CONNECT BY over this FROM shape — write "
                "the WITH RECURSIVE form directly (parse_startwith.cpp "
                "transforms to the same)"
            )
        sw.rel, sw.alias = rel[:cl + 1], am.group(1)
        return sw
    rm = re.match(
        r"^([A-Za-z_][A-Za-z0-9_.]*)(?:\s+(?:AS\s+)?"
        r"([A-Za-z_][A-Za-z0-9_]*))?$",
        rel, re.IGNORECASE,
    )
    if not rm:
        raise NotImplementedError(
            "START WITH/CONNECT BY supports a single named relation or "
            "a parenthesized subquery in FROM — for a multi-relation "
            "fromlist, wrap the join in a derived table or write the "
            "WITH RECURSIVE form directly (parse_startwith.cpp "
            "transforms to the same)"
        )
    sw.rel, sw.alias = rm.group(1), rm.group(2)
    if sw.alias and sw.alias.upper() in (
        "START", "CONNECT", "ORDER", "GROUP", "WHERE", "LIMIT",
    ):
        sw.alias = None
    return sw


_CONNECT_BY = re.compile(r"\bCONNECT\s+BY\b", re.IGNORECASE)


def rewrite_start_with(engine, query: str) -> str:
    """Engine.sql hook: compile a top-level START WITH / CONNECT BY
    SELECT into WITH RECURSIVE; identity for every other statement."""
    if not _CONNECT_BY.search(query):
        return query
    masked = mask(query)
    if not _CONNECT_BY.search(masked):
        return query
    sw = _parse(query, masked)
    if sw is None:
        return query

    cols = engine.spark.sql(
        f"SELECT * FROM {sw.rel} WHERE 1=0"
    ).columns
    lower = {c.lower() for c in cols}
    for reserved in ("level", "__sw_kp", "__sw_pkp", "__sw_level"):
        if reserved in lower:
            raise NotImplementedError(
                f"CONNECT BY over a relation with a column named "
                f"{reserved!r} shadows the pseudo column — rename it or "
                f"write the WITH RECURSIVE form directly"
            )

    # --- connect-by conjuncts: PRIOR joins vs child-side filters -----
    joins: list[tuple[str, str]] = []  # (parent_expr, child_expr)
    filters: list[str] = []
    for conj in split_top(sw.connect_by, r"\bAND\b"):
        conj = _dequalify(conj, sw.alias)
        sides = split_top(conj, r"(?<![<>!=])=(?!=)")
        prior = re.compile(r"^\s*PRIOR\b(.*)$", re.IGNORECASE | re.S)
        if len(sides) == 2:
            lm, rm_ = prior.match(sides[0]), prior.match(sides[1])
            if lm and rm_:
                raise NotImplementedError(
                    "PRIOR on both sides of one comparison has no "
                    "hierarchy direction — the reference rejects it too"
                )
            if lm:
                joins.append((lm.group(1).strip(), sides[1].strip()))
                continue
            if rm_:
                joins.append((rm_.group(1).strip(), sides[0].strip()))
                continue
        if re.search(r"\bPRIOR\b", mask(conj), re.IGNORECASE):
            raise NotImplementedError(
                "non-equality PRIOR conjuncts are not supported — "
                "write the WITH RECURSIVE form directly"
            )
        filters.append(conj.strip())

    # --- pseudo-column inventory over the OUTER fragments ------------
    outer_src = " ".join(
        x for x in (sw.items, sw.where, sw.tail) if x
    )
    paths: list[tuple[str, str]] = []   # (expr, sep literal)
    for _, _, args in _extract_calls(outer_src, "sys_connect_by_path"):
        if len(args) != 2 or not re.match(r"^\s*'", args[1]):
            raise ValueError(
                "sys_connect_by_path(expr, 'sep') needs a literal "
                "separator"
            )
        key = (_norm(_dequalify(args[0], sw.alias)), args[1].strip())
        if key not in paths:
            paths.append(key)
    roots: list[str] = []
    root_src = re.sub(  # normalize the no-paren Oracle form first
        r"\bCONNECT_BY_ROOT\s+([A-Za-z_][A-Za-z0-9_.]*)",
        r"connect_by_root(\1)", outer_src, flags=re.IGNORECASE,
    )
    for _, _, args in _extract_calls(root_src, "connect_by_root"):
        if len(args) != 1:
            raise ValueError("connect_by_root takes one expression")
        key = _norm(_dequalify(args[0], sw.alias))
        if key not in roots:
            roots.append(key)
    m_out = mask(outer_src)
    want_isleaf = bool(re.search(r"\bconnect_by_isleaf\b", m_out,
                                 re.IGNORECASE))
    want_iscycle = bool(re.search(r"\bconnect_by_iscycle\b", m_out,
                                  re.IGNORECASE))
    if want_iscycle and not sw.nocycle:
        raise ValueError(
            "CONNECT_BY_ISCYCLE requires NOCYCLE (the reference "
            "errors the same way)"
        )

    # --- keypath / join fragments -------------------------------------
    def keycat(alias: str) -> str:
        if not joins:
            return "''"
        parts = ", ".join(
            f"COALESCE(CAST({_qualify(p, alias, cols)} AS STRING), '')"
            for p, _ in joins
        )
        return f"CONCAT_WS(':', {parts})"

    def join_conds(child: str, parent: str) -> list[str]:
        conds = [
            f"{_qualify(c, child, cols)} = {_qualify(p, parent, cols)}"
            for p, c in joins
        ]
        for f_ in filters:
            g = re.sub(r"\bLEVEL\b", f"({parent}.__sw_level + 1)", f_,
                       flags=re.IGNORECASE)
            g = re.sub(
                r"\bPRIOR\s+([A-Za-z_][A-Za-z0-9_]*)",
                lambda mm: f"{parent}.{mm.group(1)}", g,
                flags=re.IGNORECASE,
            )
            if re.search(r"\bPRIOR\b", mask(g), re.IGNORECASE):
                raise NotImplementedError(
                    "PRIOR over a non-column expression in a filter "
                    "conjunct — write the WITH RECURSIVE form directly"
                )
            conds.append(f"({_qualify(g, child, cols)})")
        if not conds:
            conds.append("TRUE")
        return conds

    cycle_hit = (
        f"instr(p.__sw_kp, CONCAT('/', {keycat('__c')}, '/')) > 0"
    )

    # --- sibling sort-key encode --------------------------------------
    def sib_encode(alias: str) -> str:
        e = _dequalify(sw.siblings.strip(), sw.alias)
        if len(split_top(e)) > 1 or re.fullmatch(
            r"\d+", re.sub(r"\b(?:ASC|NULLS\s+(?:FIRST|LAST))\b", "",
                           e, flags=re.IGNORECASE).strip()
        ):
            raise NotImplementedError(
                "ORDER SIBLINGS BY supports one named sort key — for "
                "multi-key or positional sibling order write the WITH "
                "RECURSIVE form with your own sort-key path"
            )
        e = re.sub(r"\bNULLS\s+(?:FIRST|LAST)\b", "", e,
                   flags=re.IGNORECASE).strip()
        if re.search(r"\bDESC\b", e, re.IGNORECASE):
            raise NotImplementedError(
                "ORDER SIBLINGS BY ... DESC — invert the key or write "
                "the WITH RECURSIVE form directly"
            )
        e = re.sub(r"\bASC\b", "", e, flags=re.IGNORECASE).strip()
        numeric = False
        if e.lower() in lower:
            try:
                t = dict(
                    engine.spark.sql(
                        f"SELECT * FROM {sw.rel} WHERE 1=0"
                    ).dtypes
                )[[c for c in cols if c.lower() == e.lower()][0]]
                numeric = any(
                    t.startswith(k)
                    for k in ("int", "bigint", "smallint", "tinyint",
                              "double", "float", "decimal")
                )
            except Exception:
                numeric = False
        q = _qualify(e, alias, cols)
        if numeric:
            return (f"LPAD(CAST(CAST({q} AS DECIMAL(38,6)) + "
                    f"{_NUM_OFFSET} AS STRING), 28, '0')")
        return f"RPAD(CAST({q} AS STRING), 64, ' ')"

    # --- assemble the recursive CTE -----------------------------------
    extra_anchor, extra_child = [], []
    for i, (expr, _sep) in enumerate(paths):
        q = _qualify(expr, "__c", cols)
        extra_anchor.append(
            f"CONCAT({_sep}, CAST({q} AS STRING)) AS __sw_path{i}"
        )
        extra_child.append(
            f"CONCAT(p.__sw_path{i}, {_sep}, CAST({q} AS STRING))"
        )
    for i, expr in enumerate(roots):
        q = _qualify(expr, "__c", cols)
        extra_anchor.append(f"{q} AS __sw_root{i}")
        extra_child.append(f"p.__sw_root{i}")
    if sw.siblings:
        extra_anchor.append(f"{sib_encode('__c')} AS __sw_ord")
        extra_child.append(f"CONCAT(p.__sw_ord, {sib_encode('__c')})")

    anchor_where = ""
    if sw.start_with is not None:
        cond = _qualify(_dequalify(sw.start_with, sw.alias), "__c", cols)
        anchor_where = f"  WHERE {cond}\n"
    rec_conds = join_conds("__c", "p")
    if sw.nocycle:
        rec_conds.append(f"NOT ({cycle_hit})")

    sel_extra_a = ("".join(",\n         " + x for x in extra_anchor))
    sel_extra_c = ("".join(",\n         " + x for x in extra_child))
    cte = (
        "WITH RECURSIVE __swcb AS (\n"
        "  SELECT __c.*,\n"
        "         CAST(1 AS INT) AS __sw_level,\n"
        f"         CONCAT('/', {keycat('__c')}, '/') AS __sw_kp,\n"
        "         CAST(NULL AS STRING) AS __sw_pkp"
        f"{sel_extra_a}\n"
        f"  FROM {sw.rel} __c\n"
        f"{anchor_where}"
        "  UNION ALL\n"
        "  SELECT __c.*,\n"
        "         p.__sw_level + 1,\n"
        f"         CONCAT(p.__sw_kp, {keycat('__c')}, '/'),\n"
        "         p.__sw_kp"
        f"{sel_extra_c}\n"
        f"  FROM {sw.rel} __c JOIN __swcb p\n"
        f"    ON {' AND '.join(rec_conds)}\n"
        ")"
    )

    # --- outer statement ----------------------------------------------
    def subst(fragment: str) -> str:
        s = _dequalify(fragment, sw.alias)
        for i, (expr, sep) in enumerate(paths):
            for st, en, args in reversed(
                _extract_calls(s, "sys_connect_by_path")
            ):
                if (_norm(_dequalify(args[0], sw.alias)), args[1].strip()
                        ) == (expr, sep):
                    s = s[:st] + f"__sw_path{i}" + s[en:]
        s = re.sub(
            r"\bCONNECT_BY_ROOT\s+([A-Za-z_][A-Za-z0-9_.]*)",
            r"connect_by_root(\1)", s, flags=re.IGNORECASE,
        )
        for i, expr in enumerate(roots):
            for st, en, args in reversed(
                _extract_calls(s, "connect_by_root")
            ):
                if _norm(_dequalify(args[0], sw.alias)) == expr:
                    s = s[:st] + f"__sw_root{i}" + s[en:]
        s = re.sub(
            r"\bconnect_by_isleaf\b",
            "(CASE WHEN __swkids.__sw_ckp IS NULL THEN 1 ELSE 0 END)",
            s, flags=re.IGNORECASE,
        )
        s = re.sub(r"\bconnect_by_iscycle\b",
                   "COALESCE(__swcyc.__sw_cyc, 0)", s,
                   flags=re.IGNORECASE)
        s = re.sub(r"\bLEVEL\b", "__sw_level", s, flags=re.IGNORECASE)
        return s

    star = ", ".join(cols)
    items = []
    for raw in split_top(sw.items):
        item = raw.strip()
        if item == "*" or re.fullmatch(
            rf"{re.escape(sw.alias or '')}\s*\.\s*\*", item
        ):
            items.append(star)
            continue
        rewritten = subst(item)
        if rewritten != item and not re.search(
            r"\bAS\s+[A-Za-z_][A-Za-z0-9_]*\s*$", item, re.IGNORECASE
        ):
            # bare pseudo item: keep the reference's output column name
            canon = {
                r"^\s*LEVEL\s*$": "level",
                r"^\s*connect_by_isleaf\s*$": "connect_by_isleaf",
                r"^\s*connect_by_iscycle\s*$": "connect_by_iscycle",
                r"^\s*connect_by_root\s*\(": "connect_by_root",
                r"^\s*CONNECT_BY_ROOT\s+": "connect_by_root",
                r"^\s*sys_connect_by_path\s*\(": "sys_connect_by_path",
            }
            for pat, name in canon.items():
                if re.match(pat, item, re.IGNORECASE):
                    rewritten += f" AS {name}"
                    break
        items.append(rewritten)

    out = [cte, f"SELECT {', '.join(items)}", "FROM __swcb"]
    if want_isleaf:
        out.append(
            "LEFT JOIN (SELECT DISTINCT __sw_pkp AS __sw_ckp "
            "FROM __swcb WHERE __sw_pkp IS NOT NULL) __swkids "
            "ON __swkids.__sw_ckp = __swcb.__sw_kp"
        )
    if want_iscycle:
        cyc_conds = " AND ".join(join_conds("__c", "p"))
        out.append(
            "LEFT JOIN (SELECT p.__sw_kp AS __sw_cyckp, "
            "CAST(1 AS INT) AS __sw_cyc "
            f"FROM __swcb p JOIN {sw.rel} __c ON {cyc_conds} "
            f"AND {cycle_hit} "
            "GROUP BY p.__sw_kp) __swcyc "
            "ON __swcyc.__sw_cyckp = __swcb.__sw_kp"
        )
    if sw.where:
        out.append(f"WHERE {subst(sw.where)}")
    if sw.tail:
        out.append(subst(sw.tail))
    if sw.siblings and not re.search(r"\bORDER\s+BY\b",
                                     mask(sw.tail or ""),
                                     re.IGNORECASE):
        out.append("ORDER BY __sw_ord")
    return "\n".join(out)
