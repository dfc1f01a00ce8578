"""TsStore time-bucket functions: ``time_window``, ``time_fill`` +
``fill_last``/``fill_first``, and the tsdb ``first``/``last`` array
pairs.

Reference surface: the tsdb aggregate layer exercised by
``tsdb_aggregate.sql`` (time_window epoch-aligned flooring across
microsecond..week intervals; time_fill generating every bucket between
the floored FROM/TO bounds with NULL aggregates in empty buckets;
fill_last carrying the last non-NULL aggregate forward; the regress'
own error shapes for multiple/nested/non-top-level time_fill and the
bound-distance check).

Spark-first design — all rewrites, no new execution machinery:

  * ``time_window(interval 'X', ts)`` → an origin-anchored floor
    expression (micros arithmetic around the public time_bucket
    origin 2000-01-03, a Monday — verified against every multi-unit
    case in tsdb_aggregate.out), codegen'd in the scan projection, so
    bucketing costs what a hand-written date_bin costs.  A bare
    numeric first argument means days, NULL yields NULL — both
    regress-pinned behaviors.
  * ``GROUP BY time_fill`` desugars to: aggregate by the bucket
    expression, LEFT-JOIN a generated ``sequence(floor(from),
    floor(to), step)`` bucket spine, and apply fill_last/fill_first as
    IGNORE-NULLS window folds over the spine.  The spine is bounded by
    the user's own FROM/TO bounds — (to-from)/interval rows — so the
    single-partition fill window is protocol-sized, never data-sized
    (the per-series LOCF shape at scale is `tsstore_locf_gapfill`,
    which partitions the window by series key).
  * ``first(xs, ts)`` / ``last(xs, ts)`` over ``array_agg`` pairs →
    ``element_at(xs, array_position(ts, array_min/max(ts)))`` — the
    value carried at the earliest/latest timestamp.  Only the
    two-argument array-pair spelling rewrites, so Spark's own
    first/last aggregates stay untouched.
"""

from __future__ import annotations

import re
from datetime import datetime

from ..sqltext import mask, split_top
from .start_with import _extract_calls, _scan_clauses

_UNIT_US = {
    "microsecond": 1, "microseconds": 1, "us": 1,
    "millisecond": 1000, "milliseconds": 1000, "ms": 1000,
    "second": 10**6, "seconds": 10**6, "sec": 10**6, "secs": 10**6,
    "min": 60 * 10**6, "mins": 60 * 10**6,
    "minute": 60 * 10**6, "minutes": 60 * 10**6,
    "hour": 3600 * 10**6, "hours": 3600 * 10**6,
    "day": 86400 * 10**6, "days": 86400 * 10**6,
    "week": 7 * 86400 * 10**6, "weeks": 7 * 86400 * 10**6,
}


def _interval_micros(arg: str) -> int | None:
    """Micros of a literal interval argument; None for literal NULL."""
    a = arg.strip()
    if re.fullmatch(r"NULL(\s*::\s*\w+)?", a, re.IGNORECASE):
        return None
    m = re.fullmatch(r"interval\s+'\s*(\d+)\s+([a-z]+)\s*'", a,
                     re.IGNORECASE)
    if m:
        unit = m.group(2).lower()
        if unit not in _UNIT_US:
            raise ValueError(
                f"time_window/time_fill interval unit {unit!r} is not "
                f"supported (microsecond..week)"
            )
        return int(m.group(1)) * _UNIT_US[unit]
    m = re.fullmatch(r"(\d+)", a)
    if m:  # bare numeric = days (regress: time_window(1, ts) → day)
        return int(m.group(1)) * _UNIT_US["day"]
    raise ValueError(
        "time_window/time_fill needs a literal interval first argument"
    )


def _ts_literal(arg: str) -> datetime:
    a = arg.strip()
    a = re.sub(r"::\s*timestamptz\b|::\s*timestamp\b", "", a,
               flags=re.IGNORECASE).strip()
    a = re.sub(r"^TIMESTAMP\s+", "", a, flags=re.IGNORECASE).strip()
    m = re.fullmatch(r"'([^']+)'", a)
    if not m:
        raise ValueError(
            "time_fill FROM/TO bounds must be timestamp literals"
        )
    return datetime.fromisoformat(m.group(1))


# Bucket origin 2000-01-03 00:00:00 (a Monday) — the public
# time_bucket anchor the regress outputs follow: '1 week' buckets land
# on Mondays and '10 week'/'100 day'/'1000 hour' buckets all verify
# against this origin in tsdb_aggregate.out (epoch-anchoring fails
# every multi-day case there).
_ORIGIN_US = 946_857_600_000_000


def _floor_us(dt: datetime, w: int) -> int:
    epoch = int((dt - datetime(1970, 1, 1)).total_seconds() * 10**6)
    return ((epoch - _ORIGIN_US) // w) * w + _ORIGIN_US


def _win_expr(ts: str, w: int | None) -> str:
    if w is None:
        return "CAST(NULL AS TIMESTAMP)"
    return (
        f"timestamp_micros(CAST(FLOOR((unix_micros(CAST({ts} AS "
        f"TIMESTAMP)) - {_ORIGIN_US}) / {w}) * {w} + {_ORIGIN_US} "
        f"AS BIGINT))"
    )


def _sub_time_window(query: str) -> str:
    while True:
        sites = _extract_calls(query, "time_window")
        if not sites:
            return query
        st, en, args = sites[0]
        if len(args) != 2:
            raise ValueError("time_window(interval, ts) takes two "
                             "arguments")
        w = _interval_micros(args[0])
        query = query[:st] + _win_expr(args[1], w) + query[en:]


def _sub_first_last(query: str) -> str:
    """tsdb first/last over array_agg pairs — only the two-argument
    array spelling rewrites (Spark's own first/last stay untouched)."""
    for fname, pick in (("first", "array_min"), ("last", "array_max")):
        while True:
            hit = None
            for st, en, args in _extract_calls(query, fname):
                if len(args) == 2 and re.search(
                    r"\barray_agg\s*\(", mask(args[1]),
                    re.IGNORECASE,
                ):
                    hit = (st, en, args)
                    break
            if hit is None:
                break
            st, en, (xs, ts) = hit
            query = (
                query[:st]
                + f"element_at({xs}, CAST(array_position({ts}, "
                + f"{pick}({ts})) AS INT))"
                + query[en:]
            )
    return query


def rewrite_tsdb_fill(engine, query: str) -> str:
    """Engine.sql hook: tsdb time-bucket spellings; identity when the
    statement uses none of them."""
    masked = mask(query)
    if not re.search(r"\btime_window\s*\(|\btime_fill\s*\(|"
                     r"\bfill_last\s*\(|\bfill_first\s*\(|"
                     r"\b(first|last)\s*\(", masked, re.IGNORECASE):
        return query
    query = _sub_first_last(query)
    has_fill = re.search(r"\btime_fill\s*\(", mask(query),
                         re.IGNORECASE)
    if not has_fill:
        if re.search(r"\bfill_(last|first)\s*\(", mask(query),
                     re.IGNORECASE):
            raise ValueError(
                "fill_last/fill_first can only be used in a time_fill "
                "gapfill context (the reference errors the same way)"
            )
        return _sub_time_window(query)

    # ---- time_fill desugar ------------------------------------------
    m = re.match(r"^\s*SELECT\s+", query, re.IGNORECASE)
    if not m:
        # not a bare SELECT (e.g. CREATE VIEW wrapping one): leave the
        # time_fill call for the handler that owns the inner body —
        # the view path re-enters this rewrite with the body alone
        return _sub_time_window(query)
    hits = _scan_clauses(mask(query))
    seg = {kw: (s, e) for s, e, kw in hits}
    if "GROUP BY" not in seg:
        raise ValueError(
            "time_fill function must appear in the GROUP BY clause"
        )
    items_txt = query[m.end():seg["FROM"][0]]
    gb_start, gb_end = seg["GROUP BY"]
    after_gb = [(s, e, kw) for s, e, kw in hits if s > gb_start]
    gb_stop = after_gb[0][0] if after_gb else len(query)
    from_txt = query[seg["FROM"][1]:gb_start].strip()
    gb_txt = query[gb_end:gb_stop].strip().rstrip(";").strip()
    tail_txt = query[gb_stop:].strip().rstrip(";").strip()
    if not re.fullmatch(r"1|time_fill", gb_txt, re.IGNORECASE):
        raise NotImplementedError(
            "GROUP BY with time_fill supports the bucket as the only "
            "group key — for per-series gapfill use the partitioned "
            "LOCF shape (tsstore_locf_gapfill)"
        )

    items = split_top(items_txt)
    fill_item = None
    fill_alias = "time_fill"
    inner_items, outer_items = [], []
    n_aux = 0
    for item in items:
        sites = _extract_calls(item, "time_fill")
        if sites:
            if fill_item is not None or len(sites) > 1:
                raise ValueError(
                    "multiple time_fill function calls are not "
                    "supported"
                )
            st, en, args = sites[0]
            am = re.fullmatch(
                r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*",
                item[en:], re.IGNORECASE,
            )
            if item[:st].strip() or (item[en:].strip() and not am):
                raise ValueError(
                    "extra operations in the time_fill function are "
                    "not supported"
                )
            if am:
                fill_alias = am.group(1)
            if re.search(r"\btime_fill\s*\(",
                         mask(" ".join(args)), re.IGNORECASE):
                raise ValueError(
                    "nested time_fill calls are not supported"
                )
            fill_item = args
            outer_items.append(None)  # placeholder for the bucket col
            continue
        wrap = re.match(
            r"^\s*fill_(last|first)\s*\(", item, re.IGNORECASE
        )
        if wrap:
            st, en, args = _extract_calls(item, "fill_(?:last|first)")[0]
            kind = wrap.group(1).lower()
            am = re.fullmatch(
                r"\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*",
                item[en:], re.IGNORECASE,
            )
            alias = am.group(1) if am else f"fill_{kind}"
            aux = f"__tf_a{n_aux}"
            n_aux += 1
            inner_items.append(f"{args[0]} AS {aux}")
            if kind == "last":
                outer_items.append(
                    f"last_value({aux}) IGNORE NULLS OVER (ORDER BY "
                    f"__tf_spine.__tf_b ROWS BETWEEN UNBOUNDED "
                    f"PRECEDING AND CURRENT ROW) AS {alias}"
                )
            else:
                outer_items.append(
                    f"first_value({aux}) IGNORE NULLS OVER (ORDER BY "
                    f"__tf_spine.__tf_b ROWS BETWEEN CURRENT ROW AND "
                    f"UNBOUNDED FOLLOWING) AS {alias}"
                )
            continue
        am = re.search(r"\bAS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", item,
                       re.IGNORECASE)
        if am:
            alias = am.group(1)
        else:
            fm = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(", item)
            alias = fm.group(1).lower() if fm else f"col{n_aux}"
        aux = f"__tf_a{n_aux}"
        n_aux += 1
        body = item[:am.start()] if am else item
        inner_items.append(f"{body.strip()} AS {aux}")
        outer_items.append(f"{aux} AS {alias}")

    if fill_item is None:
        raise ValueError(
            "time_fill function must appear in the GROUP BY clause"
        )
    iv, ts, lo, hi = (fill_item + [None] * 4)[:4]
    if hi is None:
        raise ValueError(
            "time_fill(interval, ts, from, to) takes four arguments"
        )
    w = _interval_micros(iv)
    if w is None:
        raise ValueError("time_fill interval must not be NULL")
    lo_dt, hi_dt = _ts_literal(lo), _ts_literal(hi)
    lo_us, hi_us = _floor_us(lo_dt, w), _floor_us(hi_dt, w)
    if (int((hi_dt - lo_dt).total_seconds() * 10**6)) <= w:
        raise ValueError(
            "invalid time_fill argument: the distance between start "
            "and finish must be bigger than interval"
        )

    outer_items[outer_items.index(None)] = (
        f"__tf_spine.__tf_b AS {fill_alias}"
    )
    inner = (
        f"SELECT {_win_expr(ts, w)} AS __tf_b"
        + "".join(", " + x for x in inner_items)
        + f" FROM {from_txt} GROUP BY 1"
    )
    spine = (
        "SELECT explode(sequence("
        f"timestamp_micros({lo_us}), timestamp_micros({hi_us}), "
        f"make_dt_interval(0, 0, 0, {w / 10**6}))) AS __tf_b"
    )
    out = (
        f"WITH __tf_agg AS ({_sub_time_window(inner)}),\n"
        f"__tf_spine AS ({spine})\n"
        f"SELECT {', '.join(outer_items)}\n"
        "FROM __tf_spine LEFT JOIN __tf_agg "
        "ON __tf_agg.__tf_b = __tf_spine.__tf_b"
    )
    if tail_txt:
        tail_txt = re.sub(r"\border\s+by\s+time_fill\b",
                          f"ORDER BY {fill_alias}", tail_txt,
                          flags=re.IGNORECASE)
        out += "\n" + tail_txt
    return _sub_time_window(out)
