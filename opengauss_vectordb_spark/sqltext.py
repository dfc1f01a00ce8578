"""The one lexer for the SQL text the engine rewrites.

Every statement rewrite that scans SQL text (keyword searches, call
spans, comma lists, statement lists) goes through these functions, so
the whole engine shares one literal rule and one nesting rule:

* a string literal is ``'...'`` with ``''`` as the escaped quote (the
  standard-conforming ``xq`` rule of the reference's scanner); an
  unterminated literal runs to the end of the text;
* nesting is ``(``/``)`` and ``[``/``]`` outside literals;
* comments are ``--`` to the end of the line and ``/* ... */`` (not
  nested).  Only ``strip_comments`` reads them: the other functions
  treat comment text as code, so callers strip comments first where a
  body may carry them.

Not lexed: dollar-quoted strings (``$tag$...$tag$``; callers unquote a
function body before scanning it), double-quoted or backtick
identifiers (a comma inside ``"a,b"`` splits), ``E'...'`` backslash
escapes, and ``<``/``>`` type brackets.

``mask`` is the primitive: literal interiors become spaces and every
offset is preserved, so a match found in the masked text is a match
at the same offsets of the original.  ``top_level`` and ``split_top``
mask internally and accept either form.
"""

from __future__ import annotations

import re
from typing import Iterator

# unrolled `'(?:[^']|'')*'`: linear, with no backtracking on long or
# unterminated literals
LITERAL = re.compile(r"'(?P<body>[^']*(?:''[^']*)*)(?P<end>'|\Z)")
_COMMENT = re.compile(
    rf"(?P<lit>{LITERAL.pattern})|--[^\n]*|/\*.*?(?:\*/|\Z)", re.DOTALL
)
_PAREN = re.compile(r"[()]")
_BRACKET = re.compile(r"[()\[\]]")
_STEP = {"(": 1, "[": 1, ")": -1, "]": -1}


def _blank(m: re.Match) -> str:
    return "'" + " " * len(m.group("body")) + m.group("end")


def mask(text: str) -> str:
    """``text`` with every character inside a string literal replaced
    by a space (the quotes themselves kept), so offsets stay valid."""
    if "'" not in text:
        return text
    return LITERAL.sub(_blank, text)


def close_paren(text: str, open_pos: int) -> int:
    """Offset of the ``)`` that closes the ``(`` at ``open_pos``, or -1
    when the text is unbalanced."""
    depth = 0
    for m in _PAREN.finditer(mask(text), open_pos):
        depth += _STEP[m.group()]
        if depth == 0:
            return m.start()
    return -1


def top_level(text: str, pattern: str | re.Pattern) -> Iterator[re.Match]:
    """Matches of ``pattern`` that start at depth 0 of ``()`` and
    ``[]``, outside literals, left to right.  A string pattern compiles
    case-insensitively (SQL keywords are).  The matches run over the
    masked text: use their offsets, and read literal contents from the
    original."""
    if isinstance(pattern, str):
        pattern = re.compile(pattern, re.IGNORECASE)
    masked = mask(text)
    depth = last = 0
    for m in pattern.finditer(masked):
        for b in _BRACKET.finditer(masked, last, m.start()):
            depth += _STEP[b.group()]
        last = m.start()
        if depth == 0:
            yield m


def split_top(text: str, sep: str | re.Pattern = ",") -> list[str]:
    """The stripped, non-empty parts of ``text`` between top-level
    matches of the regex ``sep``."""
    parts, start = [], 0
    for m in top_level(text, sep):
        parts.append(text[start:m.start()])
        start = m.end()
    parts.append(text[start:])
    return [p for p in map(str.strip, parts) if p]


def strip_comments(text: str) -> str:
    """``text`` without its ``--`` and ``/* */`` comments.  Literals and
    comments are lexed in one pass, so ``'--'`` inside a literal
    survives and an apostrophe inside a comment opens no literal."""
    return _COMMENT.sub(lambda m: m.group("lit") or "", text)
