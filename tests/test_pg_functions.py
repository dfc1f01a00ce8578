"""Edge-case unit tests for the round-4 function surfaces: the tsquery
constructors (to_tsany.cpp grammar corners), phrase chains, and the
format()/quoting family (varlena.cpp text_format, quote.cpp). The
driver-gated queries pin the happy paths against DuckDB; these pin the
corners that never show up in the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_CORRECT

from opengauss_vectordb_spark.functions.pg_compat import (
    num_nonnulls,
    num_nulls,
    pg_format,
    quote_ident,
    quote_literal,
    quote_nullable,
)
from opengauss_vectordb_spark.operators.text import (
    plainto_tsquery,
    ts_lexemes,
    ts_phrase_chain,
    websearch_to_tsquery,
)


def _eval(spark, text, qcol_fn):
    df = spark.createDataFrame([(text,)], "text STRING")
    ts = ts_lexemes(F.col("text"))
    return df.select(qcol_fn(ts).alias("m")).first().m


def test_plainto_punctuation_and_case(spark):
    f = lambda q: (lambda ts: plainto_tsquery(ts, q))  # noqa: E731
    assert _eval(spark, "the table has a scan", f("Table, Scan!")) is True
    assert _eval(spark, "the table only", f("Table, Scan!")) is False
    # empty / punctuation-only query = empty tsquery → matches nothing
    assert _eval(spark, "anything", f("")) is False
    assert _eval(spark, "anything", f("!!! ---")) is False


def test_websearch_grammar_corners(spark):
    f = lambda q: (lambda ts: websearch_to_tsquery(ts, q))  # noqa: E731
    # quoted phrase requires ADJACENCY, not mere co-occurrence
    assert _eval(spark, "full table scan here", f('"table scan"')) is True
    assert _eval(spark, "table of the scan", f('"table scan"')) is False
    # negation
    assert _eval(spark, "table scan", f("table -hash")) is True
    assert _eval(spark, "table hash scan", f("table -hash")) is False
    # OR splits disjuncts; AND binds within
    assert _eval(spark, "only vector here", f("vector OR stream")) is True
    assert _eval(spark, "only stream here", f("vector OR stream")) is True
    assert _eval(spark, "neither word", f("vector OR stream")) is False
    # quoted single word degrades to a plain term
    assert _eval(spark, "a table b", f('"table"')) is True
    # negated phrase
    assert _eval(spark, "x table scan y", f('x -"table scan"')) is False
    assert _eval(spark, "x scan table y", f('x -"table scan"')) is True
    # junk-only input matches nothing, never raises
    assert _eval(spark, "anything", f("---")) is False
    assert _eval(spark, "anything", f("")) is False


def test_phrase_chain_three_words(spark):
    f = lambda ws: (lambda ts: ts_phrase_chain(ts, ws))  # noqa: E731
    assert _eval(spark, "a big red dog ran", f(["big", "red", "dog"])) is True
    # pairwise-adjacent but not a 3-chain must NOT match
    assert _eval(spark, "big red x red dog", f(["big", "red", "dog"])) is False
    # document shorter than the phrase
    assert _eval(spark, "big red", f(["big", "red", "dog"])) is False


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_pg_format_conversions(spark):
    out = _one(spark, pg_format(
        "%s is 100%% %L", F.lit("x"), F.lit("O'Reilly")
    ))
    assert out == "x is 100% 'O''Reilly'"
    # %L of NULL renders the bare keyword
    assert _one(spark, pg_format("%L", F.lit(None).cast("string"))) == "NULL"
    # %s of NULL renders empty (PG text_format)
    assert _one(spark, pg_format("v=%s.", F.lit(None).cast("string"))) == "v=."


def test_pg_format_errors():
    with pytest.raises(ValueError, match="too few"):
        pg_format("%s %s", F.lit("a"))
    with pytest.raises(ValueError, match="positional"):
        pg_format("%1$s", F.lit("a"))
    with pytest.raises(ValueError, match="unknown conversion"):
        pg_format("%q", F.lit("a"))


def test_quoting_family(spark):
    assert _one(spark, quote_ident(F.lit("safe_name"))) == "safe_name"
    assert _one(spark, quote_ident(F.lit("Mixed"))) == '"Mixed"'
    assert _one(spark, quote_ident(F.lit('a"b'))) == '"a""b"'
    assert _one(spark, quote_ident(F.lit("1starts_digit"))) == '"1starts_digit"'
    assert _one(spark, quote_literal(F.lit("it's"))) == "'it''s'"
    assert _one(spark, quote_nullable(F.lit(None).cast("string"))) == "NULL"


def test_num_nulls_nonnulls(spark):
    a, b, c = F.lit(None).cast("int"), F.lit(1), F.lit(None).cast("string")
    assert _one(spark, num_nulls(a, b, c).cast("int")) == 2
    assert _one(spark, num_nonnulls(a, b, c).cast("int")) == 1


def test_to_char_numeric_long_tail(spark):
    """formatting.cpp NUM table long tail, pinned to the PG manual's
    own examples (FM semantics — no blank padding)."""
    from opengauss_vectordb_spark.functions.pg_compat import to_char

    def tc(v, model, typ="double"):
        return _one(spark, to_char(F.lit(v).cast(typ), model))

    assert tc(485, "999") == "485"
    assert tc(-485, "999") == "-485"
    assert tc(485, "S999") == "+485"
    assert tc(-485, "S999") == "-485"
    assert tc(-485, "999MI") == "485-"
    assert tc(485, "999MI") == "485"
    assert tc(-485, "999PR") == "<485>"
    assert tc(485, "999PR") == "485"
    assert tc(485, "RN") == "CDLXXXV"
    assert tc(3999, "RN") == "MMMCMXCIX"
    assert tc(485, "rn") == "cdlxxxv"
    assert tc(412, "999th") == "412th"
    assert tc(412, "999TH") == "412TH"
    assert tc(421, "999th") == "421st"
    assert tc(411, "999th") == "411th"
    assert tc(422, "999th") == "422nd"
    assert tc(423, "999th") == "423rd"
    assert tc(12, "99V999") == "12000"
    assert tc(12.4, "99V999") == "12400"
    assert tc(0.0004859, "9.99EEEE") == "4.86e-04"
    assert tc(1234.56, "9G999D99") == "1,234.56"
    assert tc(485.67, "L999D99") == "$485.67"
    assert tc(0, "B999") == ""
    assert tc(7, "B999") == "7"


def test_to_char_mode_prefixes(spark):
    """TM (translation mode) and FX (fixed mode) prefixes pass through:
    TMMonth renders the month name, FX models parse in to_date."""
    import datetime

    from opengauss_vectordb_spark.functions.pg_compat import (
        pg_to_date,
        to_char,
    )

    ts = F.lit("2026-03-07 00:00:00").cast("timestamp")
    assert _one(spark, to_char(ts, "TMMonth")) == "March"
    assert _one(spark, to_char(ts, "FMDay, TMDD")) == "Saturday, 07"
    got = _one(spark, pg_to_date(F.lit("2026-03-07"), "FXYYYY-MM-DD"))
    assert got == datetime.date(2026, 3, 7)


def test_to_char_rn_out_of_range(spark):
    """Roman-numeral models outside 1..3999 print fill characters
    (formatting.cpp int_to_roman overflow behavior)."""
    from opengauss_vectordb_spark.functions.pg_compat import to_char

    assert _one(spark, to_char(F.lit(0).cast("int"), "RN")) == "###"
    assert _one(spark, to_char(F.lit(4000).cast("int"), "RN")) == "###"
    assert _one(spark, to_char(F.lit(3999).cast("int"), "RN")) == "MMMCMXCIX"
    # the range check applies to the SIGNED value — -5 is out of range,
    # not 'V' (int_to_roman never abs()es)
    assert _one(spark, to_char(F.lit(-5).cast("int"), "RN")) == "###"


def test_pg_typeof_sleep_hll_hash(spark):
    """pg_typeof (misc.cpp; engine rewrites to the pg_typename macro
    over Spark's polymorphic typeof), pg_sleep as the documented
    batch no-op, and the contrib/hll hash family (xxhash64-backed —
    the distribution contract, not bit parity)."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    for q, want in [
        ("SELECT pg_typeof(1) AS t", "integer"),
        ("SELECT pg_typeof(CAST(1 AS BIGINT) + 2) AS t", "bigint"),
        ("SELECT pg_typeof('x') AS t", "text"),
        ("SELECT pg_typeof(1.5) AS t", "numeric"),
        ("SELECT pg_typeof(CAST(1.5 AS DOUBLE)) AS t",
         "double precision"),
        ("SELECT pg_typeof(array(1, 2)) AS t", "integer[]"),
        ("SELECT pg_typeof(upper(concat('a', 'b'))) AS t", "text"),
    ]:
        assert eng.sql(q).collect()[0].t == want, q
    assert eng.sql("SELECT pg_sleep(0.01) AS s").collect()[0].s is None
    r = eng.sql(
        "SELECT hll_hash_integer(42) AS a, hll_hash_bigint(42) AS b,"
        " hll_hash_text('42') AS c"
    ).collect()[0]
    assert isinstance(r.a, int) and isinstance(r.c, int)


def test_timestamp_compat_functions(spark):
    """clock/statement/transaction_timestamp collapse to the
    statement snapshot (autocommit), isfinite is TRUE for every
    non-null value (Spark has no ±infinity dates), and
    extract(epoch FROM x) rewrites to fractional seconds since
    1970 — Spark's EXTRACT lacks the EPOCH field."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    assert eng.sql(
        "SELECT clock_timestamp() IS NOT NULL"
    ).collect()[0][0]
    assert eng.sql(
        "SELECT statement_timestamp() <= transaction_timestamp()"
        " OR statement_timestamp() >= transaction_timestamp()"
    ).collect()[0][0]
    assert eng.sql(
        "SELECT isfinite(TIMESTAMP '2001-04-10')").collect()[0][0]
    assert eng.sql(
        "SELECT isfinite(CAST(NULL AS TIMESTAMP))"
    ).collect()[0][0] is None
    assert eng.sql(
        "SELECT extract(epoch FROM TIMESTAMP '2001-04-10 01:02:03.5')"
    ).collect()[0][0] == 986864523.5
    assert eng.sql(
        "SELECT extract(epoch FROM DATE '1970-01-02')"
    ).collect()[0][0] == 86400.0
    # other EXTRACT fields keep Spark's native path
    assert eng.sql(
        "SELECT extract(year FROM DATE '2001-04-10')"
    ).collect()[0][0] == 2001


def test_age_function(spark):
    """age(a, b) — timestamp.cpp's calendar borrow algorithm in one
    codegen'd expression, rendered in PG interval text."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    for q, want in [
        ("SELECT age(TIMESTAMP '2001-04-10', TIMESTAMP '1957-06-13')",
         "43 years 9 mons 27 days"),
        ("SELECT age(TIMESTAMP '2001-03-01', TIMESTAMP '2001-01-30')",
         "1 mon 2 days"),  # day borrow uses JANUARY (the earlier month)
        ("SELECT age(TIMESTAMP '2001-01-01', TIMESTAMP '2001-01-01')",
         "00:00:00"),
        ("SELECT age(TIMESTAMP '2001-01-01 10:20:30.5',"
         " TIMESTAMP '2001-01-01')", "10:20:30.5"),
        ("SELECT age(TIMESTAMP '1957-06-13', TIMESTAMP '2001-04-10')",
         "-43 years -9 mons -27 days"),
        ("SELECT age(TIMESTAMP '2001-01-02',"
         " TIMESTAMP '2000-12-31 23:00:00')", "1 day 01:00:00"),
    ]:
        assert eng.sql(q).collect()[0][0] == want, q


def test_string_quote_hex_and_trunc_fields(spark):
    """string_to_array/array_to_string (literal-delimiter split via
    regex quoting; NULL delimiter → chars; NULL elements skipped),
    to_hex lowercase, quote_ident/quote_literal (quote.cpp rules,
    reserved-word check documented out), and the date_trunc fields
    Spark lacks — decade/century/millennium per timestamp_trunc."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT string_to_array('a.|b', '.|')") == ["a", "b"]
    assert one("SELECT string_to_array('abc', CAST(NULL AS STRING))") \
        == ["a", "b", "c"]
    assert one("SELECT array_to_string(array('a', NULL, 'b'), '-')") \
        == "a-b"
    assert one("SELECT to_hex(255)") == "ff"
    assert one("SELECT quote_ident('foo')") == "foo"
    assert one("SELECT quote_ident('Foo bar')") == '"Foo bar"'
    assert one("SELECT quote_literal(\"O'hare\")") == "'O''hare'"
    for f, want in [("decade", "1990-01-01"), ("century", "1901-01-01"),
                    ("millennium", "1001-01-01")]:
        assert str(one(
            f"SELECT CAST(date_trunc('{f}', DATE '1997-04-10') AS DATE)"
        )) == want
    assert str(one(
        "SELECT CAST(date_trunc('century', DATE '2001-04-10') AS DATE)"
    )) == "2001-01-01"
    # native fields keep Spark's path
    assert str(one(
        "SELECT CAST(date_trunc('year', DATE '1997-04-10') AS DATE)"
    )) == "1997-01-01"


def test_sql_vector_functions_are_the_kernels(spark):
    """The datavec SQL functions (l2_distance, inner_product,
    cosine_distance, l1_distance, vector_norm) are the distance.py
    kernels' own SQL text: equal bit for bit, a zero vector's cosine
    distance included (NaN, not NULL — NULL would sort first and rank
    the zero vector nearest), also through the ``<=>`` operator
    outside the canonical ANN shape."""
    import math

    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.vector import distance as D

    eng = Engine(spark, SF_CORRECT)
    rows = [
        (0, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
        (1, [1.5, -2.0, 0.25], [0.5, 3.0, -1.0]),
        (2, [-0.0, 0.0, -0.0], [0.0, -0.0, 0.0]),
        (3, [1e-3, 7.0, -4.5], [2.0, -0.5, 1e3]),
        (4, [0.1, 0.2], [0.3, 0.4, 0.5]),
        (5, None, [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    pairs = (
        ("l2_distance(a, b)", D.l2_distance("a", "b")),
        ("inner_product(a, b)", D.dot_product("a", "b")),
        ("cosine_distance(a, b)", D.cosine_distance("a", "b")),
        ("l1_distance(a, b)", D.l1_distance("a", "b")),
        ("vector_norm(a)", D.l2_norm("a")),
    )
    got = df.select(
        "i", *[c for sql, kernel in pairs for c in (F.expr(sql), kernel)]
    ).orderBy("i").collect()

    def same(x, y):
        if x is None or y is None:
            return x is None and y is None
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return x == y and math.copysign(1, x) == math.copysign(1, y)

    for r in got:
        for j in range(1, 2 * len(pairs), 2):
            assert same(r[j], r[j + 1]), (r.i, pairs[j // 2][0], r)
    cos = 1 + 2 * 2  # the SQL cosine_distance column
    assert math.isnan(got[0][cos]) and math.isnan(got[2][cos])
    op = eng.sql("SELECT v <=> '[1,2,3]' AS d FROM (SELECT array(0D, 0D, 0D)"
                 " AS v) t").collect()
    assert op[0].d is not None and math.isnan(op[0].d)


def _macro_calls():
    """{macro: {other macro it calls: number of calls}} over the
    bodies of _SQL_MACROS (the text after RETURN)."""
    import re

    from opengauss_vectordb_spark.functions.pg_compat import _SQL_MACROS

    calls = {}
    for name, ddl in _SQL_MACROS.items():
        body = re.split(r"\bRETURN\b", ddl, maxsplit=1)[1]
        counts = {m: len(re.findall(rf"(?<![\w.]){m}\s*\(", body))
                  for m in _SQL_MACROS if m != name}
        calls[name] = {m: n for m, n in counts.items() if n}
    return calls


def test_macro_calls_are_registered_earlier_and_bound_once():
    """register_pg_functions creates the macros in _SQL_MACROS' order,
    so each macro's callees must come first.  A callee called more
    than once has its whole body inlined at every call: age once
    spelled pg_age_parts(a, b) 26 times, which cost seconds of
    analysis per session and the driver heap on a column argument.  A
    macro that needs a value more than once passes it to a helper
    macro's parameter instead."""
    calls = _macro_calls()
    order = {name: i for i, name in enumerate(calls)}
    for name, callees in calls.items():
        for callee, n in callees.items():
            assert order[callee] < order[name], (name, callee)
            assert n == 1, (name, callee, n)


def _inline_age_ddl(name):
    """age as it was spelled before pg_age_text: pg_age_text's body
    with every field read of its parameter replaced by a call of
    pg_age_parts(a, b)."""
    import re

    from opengauss_vectordb_spark.functions.pg_compat import _SQL_MACROS

    body = re.split(r"\bRETURN\b", _SQL_MACROS["pg_age_text"], maxsplit=1)[1]
    return (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            "(a TIMESTAMP, b TIMESTAMP) RETURNS STRING RETURN"
            + re.sub(r"\bp\.", "pg_age_parts(a, b).", body))


def test_age_binds_parts_once_and_matches_inline_spelling(spark):
    """age(a, b) = pg_age_text(pg_age_parts(a, b)) renders what the
    inline spelling rendered on the borrow cases, NULL for a NULL
    argument, and runs over a
    column of 2,000 timestamps on the default driver heap, where the
    inline spelling's count(DISTINCT ...) dies at 20 rows
    (test_inline_age_exhausts_driver_heap)."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    spark.sql(_inline_age_ddl("age_inline"))
    pairs = [
        ("2001-04-10", "1957-06-13"),
        ("2001-03-01", "2001-01-30"),
        ("2001-01-01", "2001-01-01"),
        ("2001-01-01 10:20:30.5", "2001-01-01"),
        ("1957-06-13", "2001-04-10"),
        ("2001-01-02", "2000-12-31 23:00:00"),
        ("2001-03-31", "2001-02-28"),  # month ends
        ("2001-05-31", "2001-04-30 12:00:00"),
        ("2004-03-01", "2004-02-29"),  # leap day
        ("2005-02-28", "2004-02-29"),
        ("2001-01-01 00:00:01.25", "2001-01-01 00:00:00.75"),
        ("2001-01-01 00:00:00", "2001-01-01 00:00:01.5"),  # negative secs
        (None, "2001-01-01"),
    ]
    values = ", ".join(
        "(" + ", ".join("NULL" if t is None else f"TIMESTAMP '{t}'"
                        for t in pair) + ")"
        for pair in pairs)
    got = eng.sql(
        "SELECT age(a, b) AS new, age_inline(a, b) AS old"
        f" FROM VALUES {values} AS v(a, b)").collect()
    assert len(got) == len(pairs)
    for pair, r in zip(pairs[:-1], got):
        assert r.new == r.old, (pair, r)
    # PG's age is strict; the inline spelling has no guard of its own,
    # so it renders pg_age_parts' NULL struct as the empty text
    assert (got[-1].new, got[-1].old) == (None, "")
    assert got[8].new == "1 day" and got[11].new == "-00:00:01.5"

    gen = ("SELECT timestamp_micros(946684800000000"
           " + pmod(id * 982451653, 1000000000) * 1000003) AS ts,"
           " timestamp_micros(946684800000000"
           " + pmod(id * 373587883, 1000000000) * 1000003) AS ts2"
           " FROM range(2000)")
    rows = eng.sql(
        "SELECT ts, ts2, age(ts, TIMESTAMP '2020-01-01 00:00:00') AS lit,"
        f" age(ts, ts2) AS col FROM ({gen}) g").collect()
    assert len(rows) == 2000
    distinct = eng.sql(
        "SELECT count(DISTINCT age(ts, TIMESTAMP '2020-01-01 00:00:00')),"
        f" count(DISTINCT age(ts, ts2)) FROM ({gen}) g").first()
    assert tuple(distinct) == (len({r.lit for r in rows}),
                               len({r.col for r in rows}))
    assert all(r.lit is not None and r.col is not None for r in rows)
    for r in rows[:3]:
        assert r.lit == eng.sql(
            f"SELECT age(TIMESTAMP '{r.ts}',"
            " TIMESTAMP '2020-01-01 00:00:00')").first()[0]
        assert r.col == eng.sql(
            f"SELECT age(TIMESTAMP '{r.ts}', TIMESTAMP '{r.ts2}')"
        ).first()[0]


def test_pg_age_parts_is_null_on_a_null_argument(spark):
    """pg_age_parts is strict: greatest and least skip a NULL, so
    unguarded it would difference the other argument with itself."""
    from opengauss_vectordb_spark.functions.pg_compat import _SQL_MACROS

    spark.sql(_SQL_MACROS["pg_age_parts"])
    got = spark.sql(
        "SELECT pg_age_parts(NULL, TIMESTAMP '2001-01-01') IS NULL,"
        " pg_age_parts(TIMESTAMP '2001-01-01', NULL) IS NULL,"
        " pg_age_parts(TIMESTAMP '2001-04-10', TIMESTAMP '1957-06-13')"
    ).first()
    assert (got[0], got[1]) == (True, True)
    assert (got[2].years, got[2].mons, got[2].days) == (43, 9, 27)


_INLINE_AGE_CHILD = """
import sys
from opengauss_vectordb_spark.functions.pg_compat import _SQL_MACROS
from opengauss_vectordb_spark.session import get_spark

spark = get_spark(app_name="inline-age", shuffle_partitions=2)
spark.sql(_SQL_MACROS["pg_age_parts"])
spark.sql(sys.argv[1])
spark.sql("SELECT count(DISTINCT age_inline(timestamp_seconds(id * 86413),"
          " TIMESTAMP '2020-01-01 00:00:00')) FROM range(20)").collect()
"""


@pytest.mark.slow
def test_inline_age_exhausts_driver_heap(tmp_path):
    """count(DISTINCT ...) of the inline spelling of age over a 20-row
    column exhausts the default 1 GB driver heap.  It runs in a child process so that the
    OutOfMemoryError stops the child's SparkContext, not this
    session's."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_DRIVER_MEMORY"}
    env["PYTHONPATH"] = repo
    env["SPARK_GRAFT_CPUS"] = "2"
    child = subprocess.run(
        [sys.executable, "-c", _INLINE_AGE_CHILD,
         _inline_age_ddl("age_inline")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert child.returncode != 0
    assert "OutOfMemoryError" in child.stdout + child.stderr
