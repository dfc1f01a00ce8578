"""Seeded property tests for the SQL text lexer (sqltext.py) — pure
string logic, no Spark session needed.

The generator builds comma lists of SQL expressions from tokens that
know whether they are string literals, so the expected masked text is
known without the lexer: literals hold quoted ``,`` ``;`` ``(`` ``)``
``[`` ``]`` and ``''`` escapes, expressions nest calls, array
constructors and parentheses."""

from __future__ import annotations

import random

from opengauss_vectordb_spark.sqltext import (
    close_paren,
    mask,
    split_top,
    strip_comments,
    top_level,
)

_LIT_CHARS = "ab ,;()[]'"
_SEED = 20261019
_CASES = 400


def _literal(rng: random.Random) -> list[tuple[str, bool]]:
    body = "".join(rng.choice(_LIT_CHARS) for _ in range(rng.randint(0, 7)))
    return [("'" + body.replace("'", "''") + "'", True)]


def _joined(rng, depth, open_, close):
    out = [(open_, False)]
    for i in range(rng.randint(0, 3)):
        if i:
            out.append((", ", False))
        out += _expr(rng, depth + 1)
    return out + [(close, False)]


def _expr(rng: random.Random, depth: int) -> list[tuple[str, bool]]:
    """One expression as (text, is_literal) tokens: no top-level comma,
    no leading or trailing blank."""
    kind = rng.randrange(7 if depth < 3 else 2)
    if kind == 0:
        return [(rng.choice(["a", "b1", "x_y", "42", "3.5"]), False)]
    if kind == 1:
        return _literal(rng)
    if kind == 2:
        return _joined(rng, depth, rng.choice(["f(", "coalesce(", "g2 ("]),
                       ")")
    if kind == 3:
        return _joined(rng, depth, rng.choice(["ARRAY[", "arr["]), "]")
    if kind == 4:
        return (_expr(rng, depth + 1) + [(" || ", False)]
                + _expr(rng, depth + 1))
    if kind == 5:
        return [("(", False)] + _expr(rng, depth + 1) + [(")", False)]
    return _expr(rng, depth + 1) + [(" AS tag", False)]


def _cases():
    rng = random.Random(_SEED)
    for _ in range(_CASES):
        parts = [_expr(rng, 0) for _ in range(rng.randint(1, 5))]
        tokens: list[tuple[str, bool]] = []
        for i, part in enumerate(parts):
            if i:
                tokens.append((", ", False))
            tokens += part
        text = "".join(t for t, _ in tokens)
        masked = "".join(
            "'" + " " * (len(t) - 2) + "'" if lit else t
            for t, lit in tokens
        )
        yield ["".join(t for t, _ in p) for p in parts], text, masked


def _stack_pairs(masked: str) -> dict[int, int]:
    """open offset → close offset (-1 when unclosed), plain stack scan."""
    pairs, stack = {}, []
    for i, ch in enumerate(masked):
        if ch == "(":
            stack.append(i)
            pairs[i] = -1
        elif ch == ")" and stack:
            pairs[stack.pop()] = i
    return pairs


def test_split_top_recovers_the_parts():
    for parts, text, _ in _cases():
        assert split_top(text) == parts, text


def test_mask_keeps_length_and_text_outside_literals():
    for _, text, masked in _cases():
        assert len(mask(text)) == len(text)
        assert mask(text) == masked, text
        assert mask(mask(text)) == mask(text)


def test_close_paren_matches_a_stack_scan():
    rng = random.Random(_SEED + 1)
    for _, text, masked in _cases():
        # the whole text, and a random prefix (unbalanced, and possibly
        # cut inside a literal, which then runs to the end)
        cut = rng.randint(0, len(text))
        for t, m in ((text, masked), (text[:cut], masked[:cut])):
            for op, cl in _stack_pairs(m).items():
                assert close_paren(t, op) == cl, (t, op)


def test_separators_are_regexes_at_depth_zero():
    assert split_top("a = 1 AND f(b AND c) AND d = 'x AND y'",
                     r"\bAND\b") == ["a = 1", "f(b AND c)", "d = 'x AND y'"]
    assert split_top("PRIOR id = parent_id", r"(?<![<>!=])=(?!=)") == [
        "PRIOR id", "parent_id"]
    assert split_top("a; 'b;c'; (d; e);", ";") == ["a", "'b;c'", "(d; e)"]
    assert [m.start() for m in top_level(
        "SELECT (SELECT 1 FROM u), 'FROM' FROM t", r"\bFROM\b")] == [33]


def test_strip_comments_lexes_literals_and_comments_together():
    assert strip_comments("a -- it's\nb /* ; */ c '--x' d") == \
        "a \nb  c '--x' d"
    assert strip_comments("x /* unterminated") == "x "
