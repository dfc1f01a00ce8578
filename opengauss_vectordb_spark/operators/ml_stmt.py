"""CREATE MODEL / PREDICT BY / DROP MODEL as SQL text through
Engine.sql — the DB4AI statement surface.

Reference: ``CREATE MODEL <name> USING <algorithm> FEATURES ...
TARGET ... FROM <table> [WITH <hyper>=<v>, ...]`` (gram.y:11603,
executed by nodeTrainModel.cpp) and the ``PREDICT BY <name>
(FEATURES ...)`` expression (gram.y:27180).  The Python API
(`ml.ModelWarehouse`) has carried the training/scoring semantics
since round 1 (driver-gated by the db4ai_* queries); this module adds
the statement TEXT so a reference user's DB4AI SQL runs verbatim:

  CREATE MODEL price_m USING linear_regression
      FEATURES l_quantity TARGET l_extendedprice FROM lineitem;
  SELECT l_orderkey, PREDICT BY price_m (FEATURES l_quantity) AS p
  FROM lineitem WHERE l_orderkey <= 10;
  DROP MODEL price_m;

Scale: CREATE MODEL trains once via MLlib (distributed fit); PREDICT
BY rewrites to a model.transform() over the scanned table — scoring is
a per-partition map (MLlib transform), no driver round-trips.  The
PREDICT BY rewrite supports the canonical shape (one PREDICT BY over
the FROM table); compositions beyond it get a clear error naming the
DataFrame API.
"""

from __future__ import annotations

import re

from ..sqltext import split_top, top_level
from ._util import status_frame

_CREATE_MODEL_RE = re.compile(
    r"^\s*CREATE\s+MODEL\s+(?P<name>\w+)\s+USING\s+(?P<algo>\w+)\s+"
    r"FEATURES\s+(?P<feats>[\w\s,]+?)\s*"
    r"(?:TARGET\s+(?P<target>\w+)\s+)?"
    r"FROM\s+(?P<table>\w+)"
    r"(?:\s+WITH\s+(?P<params>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MODEL_RE = re.compile(
    r"^\s*DROP\s+MODEL\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_PREDICT_RE = re.compile(
    r"PREDICT\s+BY\s+(?P<model>\w+)\s*"
    r"\(\s*FEATURES\s+(?P<feats>[\w\s,]+?)\s*\)",
    re.IGNORECASE,
)
_FROM_RE = re.compile(r"\bFROM\s+(?P<table>\w+)", re.IGNORECASE)


def _top_level_from(query: str) -> re.Match | None:
    """The statement's MAIN ``FROM <table>`` — the one at paren/quote
    depth 0.  Anchoring on the textually-first FROM would latch onto a
    scalar subquery's FROM (``SELECT (SELECT MAX(y) FROM u), PREDICT BY
    … FROM t``) and silently score the wrong table.  Returns None when
    no depth-0 FROM exists; raises when the shape is not the canonical
    single-FROM SELECT (set operations, multiple top-level FROMs)."""
    hits = list(top_level(query, _FROM_RE))
    if len(hits) > 1:
        raise NotImplementedError(
            "PREDICT BY in SQL text supports the canonical single-FROM "
            "SELECT; compose set operations or joins with "
            "models.predict_by() on DataFrames"
        )
    return hits[0] if hits else None


def _parse_hyper(params: str | None) -> dict:
    out: dict = {}
    if not params:
        return out
    for kv in split_top(params):
        k, _, v = kv.partition("=")
        k, v = k.strip(), v.strip().strip("'\"")
        if not k:
            continue
        try:
            out[k] = int(v)
        except ValueError:
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
    return out


def try_handle_stmt(engine, query: str):
    """Engine.sql hook: CREATE MODEL / DROP MODEL / SELECT ... PREDICT
    BY routing; None when the text is none of those."""
    m = _CREATE_MODEL_RE.match(query)
    if m:
        feats = [f.strip() for f in m.group("feats").split(",") if f.strip()]
        table = m.group("table").lower()
        train = engine.table(table)
        engine.models.create_model(
            m.group("name").lower(),
            m.group("algo").lower(),
            train,
            feats,
            label=(m.group("target") or "").lower() or None,
            **_parse_hyper(m.group("params")),
        )
        return status_frame(engine.spark, ("CREATE MODEL", m.group("name").lower(),
              m.group("algo").lower()), "tag STRING, model STRING, algorithm STRING",)
    m = _DROP_MODEL_RE.match(query)
    if m:
        name = m.group("name").lower()
        existed = name in engine.models.list_models()
        if not existed and not re.search(r"IF\s+EXISTS", query,
                                         re.IGNORECASE):
            raise KeyError(f"DROP MODEL: {name!r} does not exist")
        engine.models.drop_model(name)
        return status_frame(engine.spark, ("DROP MODEL", name, existed), "tag STRING, model STRING, existed BOOLEAN",)
    pm = _PREDICT_RE.search(query)
    if pm is None:
        return None
    if len(_PREDICT_RE.findall(query)) > 1:
        raise NotImplementedError(
            "one PREDICT BY per statement is supported in SQL text; "
            "compose multiple scorings with models.predict_by() on "
            "DataFrames"
        )
    fm = _top_level_from(query)
    if fm is None:
        raise NotImplementedError(
            "PREDICT BY needs a top-level FROM <table> to score; for "
            "DataFrame inputs use models.predict_by()"
        )
    model = pm.group("model").lower()
    if model not in engine.models.list_models():
        raise KeyError(f"PREDICT BY: model {model!r} does not exist")
    table = fm.group("table").lower()
    scored = engine.models.predict_by(model, engine.table(table))
    # MLlib's transform appends 'prediction' (+ assembler intermediates)
    view = f"__predict_{model}_{table}"
    pred_col = "prediction" if "prediction" in scored.columns else (
        "pcaFeatures" if "pcaFeatures" in scored.columns else "prediction"
    )
    scored.drop("features").createOrReplaceTempView(view)
    # splice the view name in at the matched span — a first-match
    # regex replace could hit a subquery's FROM over the same table
    rewritten = (
        query[: fm.start()] + f"FROM {view}" + query[fm.end():]
    )
    rewritten = _PREDICT_RE.sub(pred_col, rewritten)
    return engine.spark.sql(rewritten)
