"""SQL/XML publishing functions as codegen string builders.

Reference surface: ``adt/xml.cpp`` (xmlelement/xmlforest/xmlconcat/
xmlcomment/xmlpi construction, xmlserialize) exercised by the
``xml.sql`` regress family — the reference builds these through libxml;
the OUTPUT CONTRACT is plain XML text, which a string expression can
produce exactly, so every builder here compiles to a concat tree inside
whole-stage codegen (no Python, no XML library at runtime).

Type tracking the reference gets from the xml type is reproduced
syntactically: arguments that are themselves xml* builders, ``xml
'...'`` typed literals, or xmlparse results are spliced RAW; everything
else renders through xml_escape (&, <, > — attributes also ")
exactly as xml.cpp's escape_xml.  Deviations (documented):
``xmlparse`` validates literal inputs at rewrite time (Python's
expat) but passes non-literal arguments through unvalidated, and
timestamp attribute values render in Spark's space-separated form, not
XML Schema's 'T' form.

Out of scope with the rewrite named in the refusal: xmlroot
(re-rooting needs a parsed document — use from_xml), IS DOCUMENT.
PG's xpath(path, xml) maps to Spark's native xpath(xml, path).
"""

from __future__ import annotations

import re

from ..sqltext import close_paren, split_top

_MASK_TOK = re.compile("\x00(\\d+)\x00")

_XMLFN = re.compile(
    r"\b(xmlelement|xmlforest|xmlconcat|xmlcomment|xmlparse|xmlpi|"
    r"xmlserialize|xmlroot|xpath)\s*\(",
    re.IGNORECASE,
)


def _esc(expr: str) -> str:
    return f"xml_escape(CAST(({expr}) AS STRING))"


def _name_of(tok: str) -> str | None:
    tok = tok.strip()
    m = re.fullmatch(r'"([^"]+)"', tok)
    if m:
        return m.group(1)
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", tok):
        return tok
    return None


def _rw_content(arg: str, literals: list[str]) -> tuple[str, bool]:
    """(sql, is_xml) for one argument expression."""
    a = arg.strip()
    m = re.match(r"^(xml|text)\s+(\x00\d+\x00)$", a, re.IGNORECASE)
    if m:
        return m.group(2), m.group(1).lower() == "xml"
    m = _XMLFN.match(a)
    if m and close_paren(a, m.end() - 1) == len(a) - 1:
        return _rw_call(a, m, literals), True
    # nested xml* somewhere inside (e.g. round(...) over xml) still
    # rewrites, but the value is no longer statically xml-typed
    return rewrite_xml(a, literals), False


def _rw_call(text: str, m: re.Match, literals: list[str]) -> str:
    fn = m.group(1).lower()
    op = m.end() - 1
    cl = close_paren(text, op)
    inner = text[op + 1:cl]
    args = split_top(inner)

    if fn == "xmlcomment":
        return f"xmlcomment({rewrite_xml(inner, literals)})"

    if fn == "xmlconcat":
        # xml-typed inputs concatenate raw; NULLs are skipped and an
        # all-NULL list yields NULL (xml.cpp xmlconcat)
        parts = ", ".join(
            _rw_content(a, literals)[0] for a in args
        )
        return f"nullif(concat_ws('', {parts}), '')"

    if fn == "xmlpi":
        nm = re.match(r"^NAME\s+(.+)$", args[0],
                      re.IGNORECASE | re.DOTALL)
        name = _name_of(nm.group(1)) if nm else None
        if name is None:
            raise ValueError("xmlpi needs NAME <identifier>")
        if len(args) == 1:
            return f"'<?{name}?>'"
        body = rewrite_xml(args[1], literals)
        return (f"concat('<?{name} ', CAST(({body}) AS STRING), '?>')")

    if fn == "xmlserialize":
        mm = re.match(r"^(?:DOCUMENT|CONTENT)\s+(.*)\s+AS\s+.+$",
                      inner, re.IGNORECASE | re.DOTALL)
        if not mm:
            raise ValueError(
                "xmlserialize({DOCUMENT|CONTENT} expr AS type)"
            )
        v, _isx = _rw_content(mm.group(1), literals)
        return f"CAST(({v}) AS STRING)"

    if fn == "xmlparse":
        mm = re.match(r"^(DOCUMENT|CONTENT)\s+(.*)$", inner,
                      re.IGNORECASE | re.DOTALL)
        if not mm:
            raise ValueError("xmlparse({DOCUMENT|CONTENT} expr)")
        body = mm.group(2).strip()
        tok = _MASK_TOK.fullmatch(body)
        if tok:
            lit = literals[int(tok.group(1))][1:-1].replace("''", "'")
            import xml.parsers.expat as _expat

            p = _expat.ParserCreate()
            try:
                if mm.group(1).upper() == "DOCUMENT":
                    p.Parse(lit, True)
                else:
                    p.Parse(f"<r>{lit}</r>", True)
            except _expat.ExpatError as e:
                raise ValueError(f"invalid XML content: {e}") from None
            return body
        # non-literal: passthrough, validation documented out
        return rewrite_xml(body, literals)

    if fn == "xmlroot":
        raise NotImplementedError(
            "xmlroot re-roots a parsed document — parse with Spark's "
            "from_xml and rebuild with xmlelement instead"
        )

    if fn == "xpath":
        # PG xpath(path, xml) → Spark's native xpath(xml, path)
        if len(args) != 2:
            raise NotImplementedError(
                "xpath with a namespace argument — use Spark's xpath "
                "family directly"
            )
        return (f"xpath({rewrite_xml(args[1], literals)}, "
                f"{rewrite_xml(args[0], literals)})")

    if fn == "xmlforest":
        items = []
        for a in args:
            mm = re.match(r"^(.*)\s+AS\s+(\S+)\s*$", a,
                          re.IGNORECASE | re.DOTALL)
            if mm:
                expr, name = mm.group(1).strip(), _name_of(mm.group(2))
            else:
                expr, name = a, _name_of(a)
            if name is None:
                raise ValueError(
                    "unnamed XMLFOREST argument must be a column "
                    "reference (xml.cpp transformXmlExpr)"
                )
            expr = rewrite_xml(expr, literals)
            items.append(
                f"CASE WHEN ({expr}) IS NULL THEN '' ELSE "
                f"concat('<{name}>', {_esc(expr)}, '</{name}>') END"
            )
        return f"concat({', '.join(items)})"

    # xmlelement
    nm = re.match(r"^NAME\s+(.+)$", args[0], re.IGNORECASE | re.DOTALL)
    name = _name_of(nm.group(1)) if nm else None
    if name is None:
        raise ValueError("xmlelement needs NAME <identifier> first")
    rest = args[1:]
    attr_sql = ""
    if rest and re.match(r"^xmlattributes\s*\(", rest[0],
                         re.IGNORECASE):
        aop = rest[0].index("(")
        acl = close_paren(rest[0], aop)
        seen, attr_parts = set(), []
        for a in split_top(rest[0][aop + 1:acl]):
            mm = re.match(r"^(.*)\s+AS\s+(\S+)\s*$", a,
                          re.IGNORECASE | re.DOTALL)
            if mm:
                expr, aname = mm.group(1).strip(), _name_of(mm.group(2))
            else:
                expr, aname = a, _name_of(a)
            if aname is None:
                raise ValueError(
                    "unnamed XMLATTRIBUTES argument must be a column "
                    "reference"
                )
            if aname in seen:
                raise ValueError(
                    f'XML attribute name "{aname}" appears more than '
                    f"once"
                )
            seen.add(aname)
            expr = rewrite_xml(expr, literals)
            attr_parts.append(
                f"CASE WHEN ({expr}) IS NULL THEN '' ELSE "
                f"concat(' {aname}=\"', "
                f"xml_escape_attr(CAST(({expr}) AS STRING)), '\"') END"
            )
        attr_sql = ", ".join(attr_parts)
        rest = rest[1:]
    contents = []
    for a in rest:
        s, isx = _rw_content(a, literals)
        contents.append(
            s if isx
            else f"coalesce({_esc(s)}, '')"
        )
    head = [f"'<{name}'"]
    if attr_sql:
        head.append(attr_sql)
    if not contents:
        head.append("'/>'")
        return f"concat({', '.join(head)})"
    head.append("'>'")
    return (f"concat({', '.join(head)}, {', '.join(contents)}, "
            f"'</{name}>')")


def rewrite_xml(masked: str, literals: list[str]) -> str:
    """Rewrite every outermost xml* call in ``masked``; identity when
    none appear."""
    out = masked
    pos = 0
    while True:
        m = _XMLFN.search(out, pos)
        if m is None:
            return out
        cl = close_paren(out, m.end() - 1)
        if cl < 0:
            return out
        repl = _rw_call(out[m.start():cl + 1], _XMLFN.match(
            out[m.start():cl + 1]), literals)
        out = out[:m.start()] + repl + out[cl + 1:]
        pos = m.start() + len(repl)
