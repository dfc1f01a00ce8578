"""Portals (cursors) and EXPLAIN — the remaining utility-statement
surface of the reference's query protocol (SURVEY §3).

Reference: `optimizer/commands/portalcmds.cpp` (569 LoC) —
`PerformCursorOpen` (:49) plans the query but defers execution,
`PerformPortalFetch` (:172) pulls the next N rows through the portal;
`optimizer/commands/explain.cpp` (11,495 LoC) — `ExplainQuery` (:279)
renders the plan tree (the reference's EXPLAIN output is what its
vectorized-engine regression suites assert on).

Spark-first shape:

* DECLARE ... CURSOR FOR stores the translated DataFrame plus a fetch
  position; FETCH n materializes ONLY the next window via
  ``df.offset(pos).limit(n)`` — declarative paging Catalyst collapses
  to a bounded take (GlobalLimit over the already-consumed prefix), so
  no full-result materialization ever happens driver-side. Paging is
  deterministic when the cursor query is ordered (same contract PG
  gives: unordered cursor order is implementation-defined but stable
  within a plan). A 100 TB consumer streaming the WHOLE result should
  use ``DataFrame.toLocalIterator`` instead — the cursor surface is
  the protocol-parity window onto it, not a bulk-export path.
* EXPLAIN [stmt] returns the Catalyst plan rendering as a one-column
  QUERY PLAN frame (psql shape). EXPLAIN ANALYZE executes the plan
  first (noop write) so the rendering carries runtime statistics —
  mirroring explain.cpp's instrumented run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from ._util import status_frame


class CursorRegistry:
    """name → (DataFrame, fetch position)."""

    def __init__(self, spark):
        self.spark = spark
        self.cursors: dict[str, tuple[DataFrame, int]] = {}

    def declare(self, name: str, df: DataFrame) -> None:
        name = name.lower()
        if name in self.cursors:
            raise ValueError(f"cursor {name!r} already exists")
        self.cursors[name] = (df, 0)

    def fetch(self, name: str, n: int) -> DataFrame:
        name = name.lower()
        if name not in self.cursors:
            raise KeyError(f"cursor {name!r} does not exist")
        df, pos = self.cursors[name]
        out = df.offset(pos).limit(n)
        # advance by the rows ACTUALLY in the window (PG positions the
        # cursor after the last row on a short fetch, not beyond it) —
        # the count is n-bounded, protocol-sized
        got = out.count()
        self.cursors[name] = (df, pos + got)
        return out

    def move(self, name: str, n: int) -> int:
        name = name.lower()
        if name not in self.cursors:
            raise KeyError(f"cursor {name!r} does not exist")
        df, pos = self.cursors[name]
        self.cursors[name] = (df, max(0, pos + n))
        return max(0, pos + n)

    def fetch_backward(self, name: str, n: int) -> DataFrame:
        """FETCH BACKWARD n (PerformPortalFetch's scroll direction):
        the ≤n rows PRECEDING the position, in reverse order; the
        position retreats past them.  The window is n-bounded, so the
        driver-side reversal is protocol-sized, never result-sized."""
        name = name.lower()
        if name not in self.cursors:
            raise KeyError(f"cursor {name!r} does not exist")
        df, pos = self.cursors[name]
        start = max(0, pos - n)
        out = df.offset(start).limit(pos - start)
        rows = out.collect()[::-1]
        self.cursors[name] = (df, start)
        if not rows:
            return out.limit(0)
        return self.spark.createDataFrame(rows, out.schema)

    def fetch_absolute(self, name: str, k: int) -> DataFrame:
        """FETCH ABSOLUTE k (1-based; 0/-k per PG: 0 → before first,
        negative → from the end, which costs one COUNT)."""
        name = name.lower()
        if name not in self.cursors:
            raise KeyError(f"cursor {name!r} does not exist")
        df, _pos = self.cursors[name]
        if k < 0:
            total = df.count()
            k = total + k + 1
        if k <= 0:
            self.cursors[name] = (df, 0)
            return df.limit(0)
        out = df.offset(k - 1).limit(1)
        self.cursors[name] = (df, k)
        return out

    def close(self, name: str) -> bool:
        return self.cursors.pop(name.lower(), None) is not None


_DECLARE = re.compile(
    r"^\s*DECLARE\s+(?P<name>\w+)\s+(?:NO\s+)?(?:SCROLL\s+)?CURSOR\s+"
    r"(?:WITH\s+HOLD\s+)?FOR\s+(?P<stmt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_FETCH = re.compile(
    r"^\s*FETCH\s+(?:(?:FORWARD|NEXT)\s+)?(?P<n>\d+)?\s*"
    r"(?:FROM|IN)\s+(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
# scroll directions (PerformPortalFetch FETCH_BACKWARD/ABSOLUTE):
# BACKWARD [n], PRIOR, FIRST, LAST, ABSOLUTE k
_FETCH_SCROLL = re.compile(
    r"^\s*FETCH\s+(?:BACKWARD(?:\s+(?P<bn>\d+))?|(?P<prior>PRIOR)"
    r"|(?P<first>FIRST)|(?P<last>LAST)"
    r"|ABSOLUTE\s+(?P<abs>-?\d+))\s+"
    r"(?:FROM|IN)\s+(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_MOVE = re.compile(
    r"^\s*MOVE\s+(?:(?P<dir>FORWARD|BACKWARD)\s+)?(?P<n>\d+)\s+"
    r"(?:FROM|IN)\s+(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CLOSE = re.compile(
    r"^\s*CLOSE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
# PERFORMANCE is openGauss's everything-on EXPLAIN spelling
# (explain.cpp's EXPLAIN PERFORMANCE = ANALYZE + VERBOSE + timings);
# it routes to the executed-plan rendering like ANALYZE.  The
# parenthesized option-list form — EXPLAIN (COSTS OFF[, ...]) stmt,
# ~4,900 regress uses — parses too: ANALYZE/VERBOSE take their
# meanings; display options (COSTS/BUFFERS/TIMING/SUMMARY/CPU/DETAIL/
# NODES/FORMAT) are accepted and ignored — Catalyst's rendering has
# no PG cost numbers to turn off in the first place.
_EXPLAIN = re.compile(
    r"^\s*EXPLAIN\s+(?:\(\s*(?P<opts>[^)]*)\)\s*)?"
    r"(?P<analyze>(?:ANALYZE|PERFORMANCE)\s+)?"
    r"(?P<verbose>VERBOSE\s+)?"
    r"(?P<stmt>(?:SELECT|WITH|VALUES)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)

_EXPLAIN_OPTS = re.compile(
    r"^\s*(?:(?:ANALYZE|VERBOSE|COSTS|BUFFERS|TIMING|SUMMARY|CPU"
    r"|DETAIL|NODES|NUM_NODES|PLAN|WAL)(?:\s+(?:ON|OFF|TRUE|FALSE"
    r"|0|1))?|FORMAT\s+\w+)"
    r"(?:\s*,\s*(?:(?:ANALYZE|VERBOSE|COSTS|BUFFERS|TIMING|SUMMARY"
    r"|CPU|DETAIL|NODES|NUM_NODES|PLAN|WAL)(?:\s+(?:ON|OFF|TRUE"
    r"|FALSE|0|1))?|FORMAT\s+\w+))*\s*$",
    re.IGNORECASE,
)


def _opt_enabled(opts: str, name: str) -> bool:
    m = re.search(rf"\b{name}\b(?:\s+(?P<v>ON|OFF|TRUE|FALSE|0|1))?",
                  opts, re.IGNORECASE)
    if m is None:
        return False
    return (m.group("v") or "ON").upper() in ("ON", "TRUE", "1")


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    """Engine.sql hook for DECLARE/FETCH/MOVE/CLOSE/EXPLAIN text."""
    m = _DECLARE.match(query)
    if m:
        engine.cursors.declare(m.group("name"), engine.sql(m.group("stmt")))
        return status_frame(engine.spark, ("DECLARE CURSOR", m.group("name").lower()), "tag STRING, cursor STRING",)
    m = _FETCH_SCROLL.match(query)
    if m:
        name = m.group("name")
        if m.group("abs") is not None:
            return engine.cursors.fetch_absolute(
                name, int(m.group("abs"))
            )
        if m.group("first"):
            return engine.cursors.fetch_absolute(name, 1)
        if m.group("last"):
            return engine.cursors.fetch_absolute(name, -1)
        n = 1 if m.group("prior") else int(m.group("bn") or 1)
        return engine.cursors.fetch_backward(name, n)
    m = _FETCH.match(query)
    if m:
        return engine.cursors.fetch(
            m.group("name"), int(m.group("n") or 1)
        )
    m = _MOVE.match(query)
    if m:
        n = int(m.group("n"))
        if (m.group("dir") or "").upper() == "BACKWARD":
            n = -n
        pos = engine.cursors.move(m.group("name"), n)
        return status_frame(engine.spark, ("MOVE", m.group("name").lower(), pos), "tag STRING, cursor STRING, position INT",)
    m = _CLOSE.match(query)
    if m and m.group("name").lower() in engine.cursors.cursors:
        engine.cursors.close(m.group("name"))
        return status_frame(engine.spark, ("CLOSE CURSOR", m.group("name").lower()), "tag STRING, cursor STRING",)
    m = _EXPLAIN.match(query)
    if m:
        opts = m.group("opts")
        analyze = m.group("analyze")
        verbose = m.group("verbose")
        if opts is not None:
            if not _EXPLAIN_OPTS.match(opts):
                raise ValueError(
                    f"EXPLAIN: unrecognized option list ({opts.strip()!r})"
                )
            analyze = analyze or _opt_enabled(opts, "ANALYZE")
            verbose = verbose or _opt_enabled(opts, "VERBOSE")
        # arm the index-routing collector: rewrites and the ANN
        # router note "Index Scan using <name> ..." lines with their
        # pruned-unit counts (explain.cpp's index-scan nodes — the
        # user-visible proof the statement is index-served)
        prev, engine.last_index_routing = engine.last_index_routing, []
        try:
            df = engine.sql(m.group("stmt"))
            routing = list(engine.last_index_routing)
        finally:
            engine.last_index_routing = prev
        if analyze:
            # instrumented run (explain.cpp's ANALYZE executes the plan)
            df.write.format("noop").mode("overwrite").save()
        mode = "formatted" if not verbose else "extended"
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        lines = [(line,) for line in routing]
        lines += [(line,) for line in buf.getvalue().splitlines()]
        return engine.spark.createDataFrame(lines, "`QUERY PLAN` STRING")
    return None


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "cursor_fetch_pages",
    """
    WITH ranked AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
                                DESC, o_orderkey) AS rn
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST((rn - 1) // 7 + 1 AS INT) AS page,
           o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS o_totalprice
    FROM ranked WHERE rn <= 21
    ORDER BY rn
    """,
)
def cursor_fetch_pages(spark, sf_dir):
    """Cursor protocol end-to-end (portalcmds.cpp PerformCursorOpen :49
    / PerformPortalFetch :172): DECLARE an ordered cursor, FETCH 7
    three times, tag each batch with its page number. The oracle
    paginates the same ordered relation with ROW_NUMBER — a hash match
    proves the fetch position advances exactly across batches with no
    gap or overlap. Each FETCH plans offset+limit (a bounded take),
    never a driver-side materialization of the full result. The price
    column orders through DECIMAL(18,2) but RETURNS as DOUBLE per the
    registry determinism convention."""
    from pyspark.sql import functions as F

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "DECLARE c_pages CURSOR FOR"
        " SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,"
        " CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice"
        " FROM orders WHERE o_orderstatus = 'F'"
        " ORDER BY o_totalprice DESC, o_orderkey"
    )
    pages = []
    for page in (1, 2, 3):
        batch = eng.sql("FETCH 7 FROM c_pages")
        pages.append(batch.withColumn("page", F.lit(page)))
    eng.sql("CLOSE c_pages")
    out = pages[0]
    for p in pages[1:]:
        out = out.unionByName(p)
    return out.select(
        "page",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    ).orderBy("page", F.col("o_totalprice").desc(), "o_orderkey")


from ..registry import query  # noqa: E402


@query(
    "scroll_cursor_pages",
    """
    WITH ranked AS (
      SELECT o_orderkey AS k,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey <= 100
    )
    SELECT 'f1' AS phase, CAST(rn AS BIGINT) AS seq, k
    FROM ranked WHERE rn <= 10
    UNION ALL
    SELECT 'b1', CAST(11 - rn AS BIGINT), k
    FROM ranked WHERE rn BETWEEN 7 AND 10
    UNION ALL
    SELECT 'f2', CAST(rn - 6 AS BIGINT), k
    FROM ranked WHERE rn BETWEEN 7 AND 9
    UNION ALL
    SELECT 'abs', CAST(1 AS BIGINT), k FROM ranked WHERE rn = 2
    UNION ALL
    SELECT 'last', CAST(1 AS BIGINT), k
    FROM ranked WHERE rn = (SELECT MAX(rn) FROM ranked)
    ORDER BY phase, seq
    """,
)
def scroll_cursor_pages(spark, sf_dir):
    """Scrollable-cursor protocol end-to-end (portalcmds.cpp
    PerformPortalFetch scroll directions): FORWARD 10, BACKWARD 4
    (reverse order, position retreats), FORWARD 3 resuming from the
    retreated position, ABSOLUTE 2, LAST — each emitted with its
    within-phase sequence so the oracle pins both CONTENT and ORDER
    of every window via ROW_NUMBER arithmetic."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "DECLARE sgate SCROLL CURSOR FOR SELECT o_orderkey AS k"
        " FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey"
    )
    try:
        rows = []
        for phase, stmt in (
            ("f1", "FETCH 10 FROM sgate"),
            ("b1", "FETCH BACKWARD 4 FROM sgate"),
            ("f2", "FETCH 3 FROM sgate"),
            ("abs", "FETCH ABSOLUTE 2 FROM sgate"),
            ("last", "FETCH LAST FROM sgate"),
        ):
            for i, r in enumerate(eng.sql(stmt).collect(), start=1):
                rows.append((phase, i, r[0]))
        return spark.createDataFrame(
            rows, "phase STRING, seq BIGINT, k BIGINT"
        ).orderBy("phase", "seq")
    finally:
        eng.sql("CLOSE sgate")
