"""CREATE INDEX ... USING gin (to_tsvector(col)) — a persisted
inverted (posting-list) index for full-text search.

Reference: GIN index build/insert
(`src/gausskernel/storage/access/gin/gininsert.cpp:368` ``ginbuild``,
posting trees per key), the tsvector opclass (`tsginidx.cpp`), and the
regress suites ``cgin_test.sql`` / ``create_index_gist.sql``.  The
reference builds a btree-of-lexemes whose leaves are posting lists of
heap TIDs; ``@@`` queries fetch the posting lists of the query's
lexemes and intersect them.

Spark-first shape: the index IS a parquet table of postings —
``(lexeme, doc_id, tf, doc_len, positions)``, one row per distinct
(lexeme, document), range-partitioned and sorted by lexeme so a
``lexeme IN (...)`` predicate prunes to the few rowgroups holding the
query's terms (parquet min/max stats are the btree descent; the
posting rows are the posting list).  ``@@`` match becomes a semi-join:
``id IN (SELECT doc_id FROM <posting> WHERE lexeme IN (...) GROUP BY
doc_id HAVING COUNT(DISTINCT lexeme) = k)`` — Catalyst plans the
pruned posting scan + one short-key aggregation + a semi-join, never
re-tokenizing the corpus.  ``tf``/``doc_len`` ride along so
index-backed ts_rank needs no base-table access at all, and
``positions`` (the tsvector word positions) persist for phrase
verification.

Staleness and compaction follow the shared delta lifecycle
(index_lifecycle.py): appends add a lexeme-sorted ``delta_<csn>``
posting over only the new files — the reference's `fastupdate` pending
list (gininsert.cpp) — and the view is one multi-path read over base ∪
deltas; copy-on-write rewrites rebuild.

At 100 TB: the posting table is ~(total tokens) rows of short fixed
columns, written once, sorted by lexeme — each query reads only the
rowgroups of its terms (thousands of rows), aggregates on a short
key, and semi-joins; the corpus itself is never re-scanned.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..plans.explain import note_routing
from . import index_lifecycle as lifecycle
from ..sqltext import split_top
from ._util import scan_refs, status_frame, sub_outside_literals

# CREATE INDEX [name] ON tbl USING gin (to_tsvector(['cfg',] col))
# — also accepts a bare column (the tsvector expression is implied,
# as the reference's expression index is almost always exactly this)
# and the pg_trgm opclass `(col gin_trgm_ops)` (trgm_gin.cpp)
_CREATE_GIN = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:(?P<name>\w+)\s+)?ON\s+(?P<table>\w+)\s+"
    r"USING\s+gin\s*\(\s*(?:to_tsvector\s*\(\s*(?:'\w+'\s*,\s*)?"
    r"(?P<tscol>\w+)\s*\)|(?P<trgmcol>\w+)\s+gin_trgm_ops"
    r"|(?P<col>\w+))\s*\)\s*;?\s*$",
    re.IGNORECASE,
)

# to_tsvector(col) @@ <fn>('...') — the match predicate shape; the
# plainto/websearch grammars (to_tsany.cpp) convert to tsquery text
# up front so one compile path serves all three
_TSMATCH = re.compile(
    r"to_tsvector\s*\(\s*(?:'\w+'\s*,\s*)?(?P<col>\w+(?:\.\w+)?)\s*\)"
    r"\s*@@\s*"
    r"(?P<fn>to_tsquery|plainto_tsquery|websearch_to_tsquery)"
    r"\s*\(\s*(?:'\w+'\s*,\s*)?'(?P<q>[^']*)'\s*\)",
    re.IGNORECASE,
)


def _plainto_text(q: str) -> str:
    """plainto_tsquery: every word ANDs (to_tsany.cpp)."""
    return " & ".join(re.findall(r"[a-z0-9]+", q.lower()))


def _websearch_text(q: str) -> str:
    """websearch_to_tsquery grammar → tsquery text: bare words AND,
    OR separates disjuncts, -token negates, "quoted words" become a
    followed-by chain (round 9: any length — the variadic phrase
    node evaluates chains exactly, indexed or inline)."""
    raw = re.findall(r'-?"[^"]*"|\S+', q)
    groups: list[list[str]] = [[]]
    for tok in raw:
        if not tok.startswith('"') and tok.upper() == "OR":
            groups.append([])
            continue
        neg = tok.startswith("-")
        if neg:
            tok = tok[1:]
        words = re.findall(r"[a-z0-9]+", tok.lower())
        if not words:
            continue
        item = (
            " <-> ".join(words)
            if tok.startswith('"') and len(words) >= 2
            else " & ".join(words)
        )
        if neg:
            item = (f"!{item}" if " " not in item
                    else f"!({item})")
        groups[-1].append(f"({item})" if " " in item and not neg
                          else item)
    disjuncts = [" & ".join(g) for g in groups if g]
    return " | ".join(
        f"({d})" if len(disjuncts) > 1 and " " in d else d
        for d in disjuncts
    )

_LEXEME_SQL = (
    "split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ')), ' ')"
)


def _view_name(index_name: str) -> str:
    return f"__gin_{index_name}"


# empty-array marker posting (GIN_SEARCH_MODE_INCLUDE_EMPTY)
_EMPTY_SENTINEL = "\x00empty"


def _posting_frame(idx: dict, df: DataFrame) -> DataFrame:
    """The posting rows for ``df`` under the index's opclass.  Two
    opclasses: tsvector lexeme postings (kind 'fts') and pg_trgm
    trigram postings (kind 'trgm' — trgm_gin.cpp's
    gin_extract_value_trgm: one posting row per DISTINCT trigram of
    the row, plus the row's trigram-set size so similarity computes
    entirely from the index).  Every posting attribute (tf, doc_len,
    positions / n_trgm) is PER-DOCUMENT, which is what makes delta
    maintenance sound: postings built over only the newly appended
    files are complete for their documents."""
    col, id_col = idx["col"], idx["id_col"]
    if idx.get("kind") == "array":
        # ginarrayproc.cpp ginarrayextract: one posting per DISTINCT
        # non-null element (stringified — one posting schema for all
        # element types), plus the n_elem payload so contained-by and
        # equality answer index-only; empty arrays store a sentinel
        # posting (the reference's GIN_SEARCH_MODE_INCLUDE_EMPTY
        # empty-item pointers).  NULL elements are dropped (PG's
        # NULL-element recheck semantics have no consumer here —
        # documented deviation).
        elems = F.expr(
            f"array_distinct(transform(filter({col},"
            " x -> x IS NOT NULL), x -> CAST(x AS STRING)))"
        )
        posting = (
            df.filter(F.col(col).isNotNull())
            .select(
                F.col(id_col).alias("doc_id"),
                F.size(elems).alias("n_elem"),
                F.explode(
                    F.when(F.size(elems) == 0,
                           F.array(F.lit(_EMPTY_SENTINEL)))
                    .otherwise(elems)
                ).alias("lexeme"),
            )
        )
        return posting
    if idx.get("kind") == "trgm":
        from .fuzzy import trigrams

        trg = trigrams(F.col(col))
        posting = df.select(
            F.col(id_col).alias("doc_id"),
            F.size(trg).alias("n_trgm"),
            F.explode(trg).alias("lexeme"),
        )
    else:
        lex = F.split(
            F.trim(
                F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9]+", " ")
            ),
            " ",
        )
        exploded = (
            df.select(
                F.col(id_col).alias("doc_id"),
                F.size(lex).alias("doc_len"),
                F.posexplode(lex).alias("pos", "lexeme"),
            )
            .filter(F.col("lexeme") != "")
        )
        posting = (
            exploded.groupBy("lexeme", "doc_id")
            .agg(
                F.count("*").alias("tf"),
                F.first("doc_len").alias("doc_len"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            )
        )
    return posting


class _Gin(lifecycle.AccessMethod):
    subdir = "_gin"
    key_frame = staticmethod(_posting_frame)

    def indexes(self, engine) -> dict:
        return engine.gin_indexes

    def write_layer(self, engine, idx, keys, path, npart) -> int:
        # lexeme-sorted ranges: a lexeme predicate prunes to the
        # rowgroups holding the query's terms, in every layer
        (
            keys.repartitionByRange(npart, "lexeme")
            .sortWithinPartitions("lexeme")
            .write.mode("overwrite")
            .parquet(path)
        )
        return engine.spark.read.parquet(path).count()

    def layers_changed(self, engine, name, idx) -> None:
        """The index view is ONE multi-path parquet read over the base
        posting plus every live delta — Catalyst lists both, and the
        lexeme predicates prune rowgroups in each independently (the
        reference's GIN likewise consults the main tree AND the pending
        list per scan, gininsert.cpp fastupdate)."""
        engine.spark.read.parquet(
            idx["base_path"], *idx["delta_paths"]
        ).createOrReplaceTempView(_view_name(name))

    def dropped(self, engine, name) -> None:
        engine.spark.catalog.dropTempView(_view_name(name))

    def describe(self, idx) -> tuple[str, str]:
        return idx["col"], "gin_trgm" if idx["kind"] == "trgm" else "gin"


AM = _Gin()


def try_handle_ddl(engine, query: str):
    """Engine.sql hook: CREATE INDEX ... USING gin."""
    m = _CREATE_GIN.match(query)
    if m is None:
        return None
    table = m.group("table").lower()
    col = (m.group("tscol") or m.group("trgmcol")
           or m.group("col")).lower()
    kind = "trgm" if m.group("trgmcol") else "fts"
    name = (m.group("name") or f"{table}_{col}_gin").lower()
    df = lifecycle.source_df(engine, table)
    # a BARE column picks its opclass by type, as PG does: an array
    # column gets the array element opclass (ginarrayproc.cpp), a
    # string column the implied-to_tsvector text opclass
    elem_cat = "other"
    if m.group("col"):
        from pyspark.sql.types import (
            ArrayType, ByteType, IntegerType, LongType, ShortType,
            StringType,
        )

        field = next(
            (f for f in df.schema.fields
             if f.name.lower() == col), None
        )
        if field is not None and isinstance(field.dataType, ArrayType):
            kind = "array"
            # literal-routing compatibility class (see
            # rewrite_array_ops): which SQL literal spellings equal
            # the posting's CAST(element AS STRING) rendering
            et = field.dataType.elementType
            if isinstance(et, StringType):
                elem_cat = "string"
            elif isinstance(et, (ByteType, ShortType, IntegerType,
                                 LongType)):
                elem_cat = "integral"
    # the row identifier is the relation's FIRST column — the heap
    # TID analogue (GIN posting lists hold TIDs; a columnar relation
    # addresses rows by its leading key)
    id_col = df.columns[0]
    if id_col == col:
        raise ValueError(
            "gin index: the relation's first column is its row "
            "identifier and cannot also be the indexed text column"
        )
    idx = lifecycle.create(engine, AM, name, {
        "table": table, "col": col, "id_col": id_col, "kind": kind,
        "elem_cat": elem_cat,
    })
    return status_frame(engine.spark, ("CREATE INDEX", name, table, col, idx["base_rows"]), "tag STRING, index STRING, table STRING, col STRING,"
        " postings BIGINT",)


def _terms_and_kind(querytext: str) -> tuple[list[str], str] | None:
    """(terms, 'and'|'or') for a pure-conjunction or pure-disjunction
    tsquery; None for anything else (mixed/NOT/phrase — those fall
    back to the inline predicate)."""
    txt = querytext.strip()
    if re.search(r"<->|<\d+>|!|\(", txt):
        return None
    if "&" in txt and "|" in txt:
        return None
    sep = "&" if "&" in txt else "|"
    terms = [t.strip().lower() for t in txt.split(sep)]
    if not all(re.fullmatch(r"[a-z0-9]+(:\*)?", t) for t in terms):
        return None
    if any(t.endswith(":*") for t in terms):
        return None  # prefix match: inline fallback
    return terms, ("and" if sep == "&" else "or")


def _match_select(node, view: str) -> str | None:
    """General tsquery AST → a SELECT of matching doc_ids over the
    posting table, by set algebra (gin_tsquery_consistent's boolean
    evaluation as INTERSECT/UNION): terms are pruned posting scans,
    AND/OR are set ops, and PHRASE uses the persisted word positions
    (a <-> b: some position of a has b at position+1 — the tsvector
    position payload earning its storage).  Returns None for NOT —
    a pure negation needs the document universe, which postings of
    empty documents are absent from; the reference's GIN likewise
    falls back to a scan there (the inline predicate here)."""
    kind = node[0]
    if kind == "term":
        if node[1].endswith(":*"):
            stem = node[1][:-2].replace("'", "''")
            return (f"SELECT DISTINCT doc_id FROM {view}"
                    f" WHERE lexeme LIKE '{stem}%'")
        t = node[1].replace("'", "''")
        return f"SELECT doc_id FROM {view} WHERE lexeme = '{t}'"
    if kind == "and":
        l_sql = _match_select(node[1], view)
        r_sql = _match_select(node[2], view)
        if l_sql is None or r_sql is None:
            return None
        return f"({l_sql}) INTERSECT ({r_sql})"
    if kind == "or":
        l_sql = _match_select(node[1], view)
        r_sql = _match_select(node[2], view)
        if l_sql is None or r_sql is None:
            return None
        return f"({l_sql}) UNION ({r_sql})"
    if kind in ("phrase", "phrasen"):
        # n-way chain: one posting scan per word, equi-joined on
        # doc_id, then a single common start position must carry
        # every word at its offset — exists(p of word0: p+off_j in
        # positions_j ∀j).  Pairwise overlap would accept docs with
        # no single common start.  Prefix operands (foo:* <-> bar)
        # match by LIKE over the sorted lexemes, same as the term
        # branch — a literal comparison against 'foo:*' would
        # silently match nothing.  'phrasen' carries EXACT distances
        # (tsquery_phrase's a <N> b) as cumulative offsets.
        def _lex_pred(alias: str, t: str) -> str:
            if t.endswith(":*"):
                stem = t[:-2].replace("'", "''")
                return f"{alias}.lexeme LIKE '{stem}%'"
            return f"{alias}.lexeme = '" + t.replace("'", "''") + "'"

        pairs = (list(node[1:]) if kind == "phrasen"
                 else [(w, j) for j, w in enumerate(node[1:])])
        joins = " ".join(
            f"JOIN {view} x{j} ON x0.doc_id = x{j}.doc_id"
            for j in range(1, len(pairs))
        )
        preds = " AND ".join(
            _lex_pred(f"x{j}", w) for j, (w, _off) in enumerate(pairs)
        )
        follow = " AND ".join(
            f"array_contains(x{j}.positions, p + {off})"
            for j, (_w, off) in enumerate(pairs[1:], start=1)
        )
        return (
            f"SELECT x0.doc_id FROM {view} x0 {joins}"
            f" WHERE {preds}"
            f" AND exists(x0.positions, p -> {follow})"
        )
    return None  # NOT: universe needed — inline fallback


def _index_for(engine, table: str, col: str,
               kind: str = "fts") -> str | None:
    for name, idx in engine.gin_indexes.items():
        if idx["table"] == table and idx["col"] == col \
                and idx["kind"] == kind:
            return name
    return None


def _inline_predicate(col: str, querytext: str) -> str:
    """@@ compiled to a pure SQL predicate over the re-tokenized
    column — the no-index path (tsquery.cpp TS_execute as
    array_contains algebra).  Supports & | ! and parens; phrase
    operators need positions — use the DataFrame API
    (operators/text.py ts_phrase_match) or a gin index."""
    from .text import _tsquery_ast

    node = _tsquery_ast(querytext)
    lex = _LEXEME_SQL.format(col=col)

    def compile_node(n) -> str:
        kind = n[0]
        if kind == "term":
            if n[1].endswith(":*"):
                stem = n[1][:-2].lower().replace("'", "''")
                return f"exists({lex}, x -> x LIKE '{stem}%')"
            return f"array_contains({lex}, '{n[1].lower()}')"
        if kind == "and":
            return f"({compile_node(n[1])} AND {compile_node(n[2])})"
        if kind == "or":
            return f"({compile_node(n[1])} OR {compile_node(n[2])})"
        if kind == "not":
            return f"(NOT {compile_node(n[1])})"
        # phrase a <-> b: some position holds a with b right after —
        # the SQL-text form of operators/text.py ts_phrase_match
        # (zip_with against the 1-shifted array, NULL-padded tail
        # pairs coalesced to non-matches)
        def _tok_pred(var: str, t: str) -> str:
            t = t.lower()
            if t.endswith(":*"):
                stem = t[:-2].replace("'", "''")
                return f"{var} LIKE '{stem}%'"
            return f"{var} = '" + t.replace("'", "''") + "'"

        pairs = (list(n[1:]) if kind == "phrasen"
                 else [(w, j) for j, w in enumerate(n[1:])])
        if kind == "phrase" and len(pairs) == 2:
            return (
                f"exists(zip_with({lex}, "
                f"slice({lex}, 2, greatest(size({lex}) - 1, 0)), "
                f"(x, y) -> coalesce({_tok_pred('x', pairs[0][0])} AND "
                f"{_tok_pred('y', pairs[1][0])}, false)), "
                f"p -> p)"
            )
        # n-word chain: scan candidate starts, one element_at test
        # per offset (operators/text.py ts_phrase_chain /
        # ts_phrase_offsets in SQL text); 'phrasen' carries exact
        # <N> distances as cumulative offsets
        span = pairs[-1][1]
        tests = " AND ".join(
            _tok_pred(f"element_at({lex}, CAST(i + {off} AS INT))", w)
            for w, off in pairs
        )
        return (
            f"(size({lex}) >= {span + 1} AND exists("
            f"sequence(1, size({lex}) - {span}), "
            f"i -> coalesce({tests}, false)))"
        )

    return compile_node(node)


# col % 'probe' — pg_trgm's similarity operator (trgm_op.cpp:579
# similarity_op, threshold trgm_limit).  LHS identifier + RHS string
# literal is unambiguous vs arithmetic modulo.
_PCT_MATCH = re.compile(
    r"\b(?P<col>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*%\s*'(?P<probe>[^']*)'"
)

# Spark-SQL text form of fuzzy.trigrams (padded word 3-grams)
_TRGM_SET_SQL = (
    "array_distinct(flatten(transform("
    "filter(split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', "
    "' ')), ' '), w -> w != ''), "
    "w -> transform(sequence(1, length(w) + 1), "
    "i -> substr(concat('  ', w, ' '), i, 3)))))"
)


def _routed_index_for(engine, refs: list[tuple[str, str]],
                      col: str, kind: str) -> tuple[str, str] | None:
    """(index name, SQL qualifier) for the unique scanned relation
    that verifiably owns ``col`` in its schema; None (inline
    fallback — always correct) on zero or ambiguous matches,
    including a self-joined indexed table."""
    cands = []
    for t, q in refs:
        name = _index_for(engine, t, col, kind=kind)
        if name is None:
            continue
        try:
            cols = [c.lower() for c in engine.spark.table(t).columns]
        except Exception:
            continue
        if col in cols:
            cands.append((name, q))
    if len(cands) != 1:
        return None
    # a single relation scanned: keep the predicate unqualified
    # (an alias regex can misfire; with one relation the bare
    # id_col is never ambiguous)
    if len(refs) == 1:
        return cands[0][0], ""
    return cands[0]


def rewrite_tsmatch(engine, query: str) -> str:
    """FTS/trgm operators in SQL text → index-backed or inline
    predicates: ``to_tsvector(col) @@ to_tsquery('q')`` becomes a
    posting-table semi-join when a gin index covers (table, col) and
    the query is a pure AND/OR of terms, else the inline
    tokenize-and-test predicate; ``col % 'probe'`` (pg_trgm
    similarity_op, threshold pg_trgm.similarity_threshold GUC,
    default 0.3) becomes a trigram-posting semi-join under a
    gin_trgm_ops index, else the inline trigram-set similarity.
    Identity when neither operator appears."""
    if "@@" not in query and not _PCT_MATCH.search(query):
        return query
    refs = scan_refs(query)

    def _routed_index(col: str, kind: str) -> tuple[str, str] | None:
        return _routed_index_for(engine, refs, col, kind)

    def _sub(m: re.Match) -> str:
        col = m.group("col").lower()
        qtext = m.group("q")
        fn = m.group("fn").lower()
        if fn == "plainto_tsquery":
            qtext = _plainto_text(qtext)
        elif fn == "websearch_to_tsquery":
            qtext = _websearch_text(qtext)
        if "." not in col:  # qualified columns: inline (alias
            routed = _routed_index(col, "fts")  # resolution is a parser)
            if routed:
                name, qual = routed
                id_ref_pfx = f"{qual}." if qual else ""
                tk = _terms_and_kind(qtext)
                if tk:
                    # pure AND/OR: ONE pruned posting scan (IN-list +
                    # HAVING), cheaper than per-term set algebra
                    terms, kind = tk
                    lifecycle.ensure_fresh(engine, AM, name)
                    idx = engine.gin_indexes[name]
                    note_routing(
                        engine,
                        f"Index Scan using {name} on {idx['table']} "
                        f"(gin fts): posting scan pruned to "
                        f"{len(terms)} lexeme(s), "
                        f"{1 + len(idx['delta_paths'])} layer(s)",
                    )
                    inlist = ", ".join(f"'{t}'" for t in terms)
                    having = (
                        f" HAVING COUNT(DISTINCT lexeme) = {len(terms)}"
                        if kind == "and" and len(terms) > 1 else ""
                    )
                    return (
                        f"{id_ref_pfx}{idx['id_col']} IN ("
                        f"SELECT doc_id FROM "
                        f"{_view_name(name)} WHERE lexeme IN ({inlist})"
                        f" GROUP BY doc_id{having})"
                    )
                # general boolean / phrase: posting-set algebra
                from .text import _tsquery_ast

                try:
                    ast = _tsquery_ast(qtext)
                except ValueError:
                    ast = None
                if ast is not None:
                    sel = _match_select(ast, "__v")
                    if sel is not None:
                        lifecycle.ensure_fresh(engine, AM, name)
                        idx = engine.gin_indexes[name]
                        note_routing(
                            engine,
                            f"Index Scan using {name} on "
                            f"{idx['table']} (gin fts): posting set "
                            f"algebra for {qtext.strip()!r}, "
                            f"{1 + len(idx['delta_paths'])} layer(s)",
                        )
                        sel = sel.replace("__v", _view_name(name))
                        return f"{id_ref_pfx}{idx['id_col']} IN ({sel})"
        return _inline_predicate(col, qtext)

    if "@@" in query:
        query = _TSMATCH.sub(_sub, query)

    def _sub_pct(m: re.Match) -> str:
        col = m.group("col").lower()
        probe = m.group("probe")
        limit = float(engine._gucs.get(
            "pg_trgm.similarity_threshold", 0.3
        ))
        if "." not in col:
            routed = _routed_index(col, "trgm")
            if routed:
                name, qual = routed
                lifecycle.ensure_fresh(engine, AM, name)
                idx = engine.gin_indexes[name]
                q = _py_trigrams(probe)
                note_routing(
                    engine,
                    f"Index Scan using {name} on {idx['table']} "
                    f"(gin trgm): posting scan pruned to {len(q)} "
                    f"trigram(s), similarity >= {limit}, "
                    f"{1 + len(idx['delta_paths'])} layer(s)",
                )
                inlist = ", ".join(
                    "'" + t.replace("'", "''") + "'" for t in q
                )
                return (
                    f"{qual + '.' if qual else ''}"
                    f"{idx['id_col']} IN (SELECT doc_id FROM "
                    f"{_view_name(name)} WHERE lexeme IN ({inlist}) "
                    f"GROUP BY doc_id, n_trgm HAVING "
                    f"CAST(COUNT(*) AS DOUBLE) / "
                    f"(n_trgm + {len(q)} - COUNT(*)) >= {limit})"
                )
        # inline: build both trigram sets in the predicate
        probe_sql = "'" + probe.replace("'", "''") + "'"
        ta = _TRGM_SET_SQL.format(col=col)
        tb = _TRGM_SET_SQL.format(col=probe_sql)
        inter = f"size(array_intersect({ta}, {tb}))"
        return (
            f"(CAST({inter} AS DOUBLE) / "
            f"(size({ta}) + size({tb}) - {inter}) >= {limit})"
        )

    return sub_outside_literals(_PCT_MATCH, _sub_pct, query)


def gin_rank_search(engine, index_name: str, terms: list[str],
                    k: int = 100) -> DataFrame:
    """Index-backed match + ts_rank over an AND-of-terms query,
    computed ENTIRELY from the posting table (tf and doc_len persist
    in the index): rank = sum(tf) / (1 + doc_len), the tsrank.cpp
    frequency score the scan-side fts_match_rank uses.  The plan is
    one pruned posting scan + one short-key aggregate + TakeOrdered —
    the corpus is never touched."""
    lifecycle.ensure_fresh(engine, AM, index_name)
    posting = engine.spark.table(_view_name(index_name))
    terms_l = [t.lower() for t in terms]
    return (
        posting.filter(F.col("lexeme").isin(terms_l))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("lexeme").alias("__nterms"),
            F.sum("tf").alias("__tf"),
            F.first("doc_len").alias("__len"),
        )
        .filter(F.col("__nterms") == len(terms_l))
        .select(
            "doc_id",
            F.round(
                F.col("__tf") / (F.lit(1.0) + F.col("__len")), 6
            ).alias("rank"),
        )
        .orderBy(F.desc("rank"), "doc_id")
        .limit(k)
    )


def _py_trigrams(s: str) -> list[str]:
    """Driver-side copy of fuzzy.trigrams (trgm_op.cpp show_trgm):
    per lowercased word, two leading + one trailing pad space, every
    3-gram, distinct over the whole string — MUST stay in lockstep
    with the Column version so probe and posting sets agree."""
    out: set[str] = set()
    for w in re.sub(r"[^a-z0-9]+", " ", s.lower()).strip().split():
        p = "  " + w + " "
        for i in range(len(w) + 1):
            out.add(p[i:i + 3])
    return sorted(out)


def trgm_gin_search(engine, index_name: str, probe: str,
                    k: int = 15,
                    threshold: float | None = None) -> DataFrame:
    """pg_trgm similarity through the GIN posting table
    (trgm_gin.cpp gin_trgm_consistent + trgm_op.cpp cnt_sml):
    |A∩B| comes straight off the pruned posting scan (one row per
    shared trigram), |A| rides in the index (n_trgm), |B| is the
    probe's set size — so the EXACT similarity, not a candidate
    pre-filter, computes without touching the corpus.  ``threshold``
    filters like the ``%`` operator (trgm_limit); otherwise top-k.

    Scale: posting scan pruned to the probe's ~|B| trigrams, one
    short-key aggregate, TakeOrdered — corpus never re-scanned.  Docs
    sharing zero trigrams have similarity 0 and are correctly absent
    from both the match and any top-k that ranks above 0."""
    lifecycle.ensure_fresh(engine, AM, index_name)
    q = _py_trigrams(probe)
    posting = engine.spark.table(_view_name(index_name))
    sim = F.col("__inter") / (
        F.col("__na") + F.lit(len(q)) - F.col("__inter")
    )
    out = (
        posting.filter(F.col("lexeme").isin(q))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("__inter"),
            F.first("n_trgm").alias("__na"),
        )
        .select("doc_id", F.round(sim, 6).alias("sim"))
    )
    if threshold is not None:
        return out.filter(F.col("sim") >= threshold) \
                  .orderBy(F.desc("sim"), "doc_id")
    return out.orderBy(F.desc("sim"), "doc_id").limit(k)


# col @> ARRAY[..] / col <@ ARRAY[..] / col && ARRAY[..] — the array
# containment operators in SQL text (array_ops; ginarrayproc.cpp
# strategies).  LHS identifier + RHS ARRAY[...] literal keeps the
# pattern unambiguous (&& between booleans never has an ARRAY RHS).
_ARRAY_OP = re.compile(
    r"\b(?P<col>[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*(?P<op>@>|<@|&&)\s*"
    r"ARRAY\s*\[(?P<vals>[^\]]*)\]",
    re.IGNORECASE,
)

_ARRAY_OP_NAMES = {"@>": "contains", "<@": "contained", "&&": "overlap"}


def rewrite_array_ops(engine, query: str) -> str:
    """Array containment operators in SQL text → an index-backed
    semi-join when an array-opclass gin index covers the column
    (ginarrayproc.cpp consistent), else the inline forall/
    arrays_overlap predicate (always correct, whole-stage codegen).
    Identity when no operator appears."""
    if "@>" not in query and "<@" not in query and "&&" not in query:
        return query
    refs = scan_refs(query)

    def _sub(m: re.Match) -> str:
        col = m.group("col").lower()
        op = _ARRAY_OP_NAMES[m.group("op")]
        vals_sql = m.group("vals").strip()
        arr = f"array({vals_sql})" if vals_sql else \
            "cast(array() as array<string>)"
        # routed: the UNIQUE scanned relation that owns this column
        # AND carries an array-opclass gin index on it (the
        # rewrite_tsmatch FROM/JOIN resolution — a different scanned
        # table sharing the column name must NOT be answered from
        # this table's postings), with the id_col qualified by that
        # relation's alias when the statement scans more than one.
        # Qualified columns keep the inline predicate (alias
        # resolution is a parser's job, same rule as rewrite_tsmatch).
        routed = (None if "." in col
                  else _routed_index_for(engine, refs, col, "array"))
        if routed is not None:
            name, qual = routed
            idx = engine.gin_indexes[name]
            # only literals whose SQL spelling equals the posting's
            # CAST(x AS STRING) form route: quoted strings against a
            # string element type, bare integers against an integral
            # element type (against DOUBLE/DECIMAL elements CAST
            # renders '2.0' and `@> ARRAY[2]` would silently match
            # nothing); everything else falls to the inline
            # predicate (identical semantics, no index).
            raw = split_top(vals_sql)
            elem_cat = idx["elem_cat"]
            ok = (
                all(re.fullmatch(r"'[^']*'", v) for v in raw)
                and elem_cat == "string"
            ) or (
                all(re.fullmatch(r"-?\d+", v) for v in raw)
                and elem_cat == "integral"
            ) or not raw  # empty ARRAY[] is type-free
            if ok:
                vals = [v.strip("'") for v in raw]
                lifecycle.ensure_fresh(engine, AM, name)
                note_routing(
                    engine,
                    f"Index Scan using {name} on {idx['table']} "
                    f"(gin array): {op} over {len(vals)} element(s), "
                    f"{1 + len(idx['delta_paths'])} layer(s)",
                )
                df = gin_array_search(engine, name, op, vals)
                view = (f"__ginarr_{name}_"
                        f"{abs(hash((op, tuple(vals)))) % 10**8}")
                df.createOrReplaceTempView(view)
                pfx = f"{qual}." if qual else ""
                return (f"{pfx}{idx['id_col']} IN "
                        f"(SELECT doc_id FROM {view})")
        # inline fallback (array_ops semantics incl. empty sets)
        if op == "contains":
            return f"forall({arr}, x -> array_contains({col}, x))"
        if op == "contained":
            return f"forall({col}, x -> array_contains({arr}, x))"
        return f"arrays_overlap({col}, {arr})"

    return sub_outside_literals(_ARRAY_OP, _sub, query)


def gin_array_search(engine, index_name: str, op: str,
                     values: list) -> DataFrame:
    """Array-operator search through the GIN posting table
    (ginarrayproc.cpp ginqueryarrayextract / ginarrayconsistent; the
    contrib/intarray gin__int_ops shape):

      * ``overlap``  (&&) — any shared element: one pruned posting
        scan, DISTINCT doc_id;
      * ``contains`` (@>) — doc ⊇ query: HAVING count(DISTINCT
        matching elements) = |query| (the AND-of-terms fts shape);
      * ``contained`` (<@) — doc ⊆ query: matching count = the doc's
        OWN element count (``n_elem`` rides in the index), plus the
        empty-array sentinel docs (∅ ⊆ anything);
      * ``equal``    (=)  — both counts = |query|.

    All four answer INDEX-ONLY from the postings pruned to the
    query's elements (the contained/equal forms are exact because
    n_elem persists — the reference rechecks on heap there).
    Returns (doc_id).  Scale: one rowgroup-pruned posting scan + a
    short-key aggregate, corpus never touched."""
    lifecycle.ensure_fresh(engine, AM, index_name)
    idx = engine.gin_indexes[index_name]
    if idx["kind"] != "array":
        raise ValueError(
            f"gin_array_search: index {index_name!r} is not an "
            "array-opclass gin index"
        )
    q = sorted({str(v) for v in values if v is not None})
    posting = engine.spark.table(_view_name(index_name))
    empties = (
        posting.filter(F.col("lexeme") == _EMPTY_SENTINEL)
        .select("doc_id")
    )
    if not q:
        if op == "overlap":  # ∅ && x is false (array_ops semantics)
            return empties.limit(0)
        if op == "contains":  # every doc ⊇ ∅
            return posting.select("doc_id").distinct()
        # contained/equal vs ∅: only empty arrays qualify
        return empties
    matched = (
        posting.filter(F.col("lexeme").isin(q))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("lexeme").alias("__m"),
            F.first("n_elem").alias("__n"),
        )
    )
    if op == "overlap":
        return matched.select("doc_id")
    if op == "contains":
        return matched.filter(F.col("__m") == len(q)).select("doc_id")
    if op == "contained":
        return (
            matched.filter(F.col("__m") == F.col("__n"))
            .select("doc_id")
            .unionByName(empties)
        )
    if op == "equal":
        return matched.filter(
            (F.col("__m") == F.col("__n")) & (F.col("__n") == len(q))
        ).select("doc_id")
    raise ValueError(f"gin_array_search: unknown operator {op!r}")


# ---------------------------------------------------------------- queries

from ..registry import query as _register_query  # noqa: E402


@_register_query(
    "gin_array_ops",
    """
    WITH t AS (
      SELECT o_orderkey AS rid,
             [o_orderkey % 7, o_orderkey % 11, o_orderkey % 13] AS tags
      FROM orders WHERE o_orderkey <= 2000
    )
    SELECT 'contains' AS op, rid AS doc_id FROM t
    WHERE list_contains(tags, 2) AND list_contains(tags, 4)
    UNION ALL
    SELECT 'overlap' AS op, rid FROM t
    WHERE list_contains(tags, 5) OR list_contains(tags, 12)
    UNION ALL
    SELECT 'contained' AS op, rid FROM t
    WHERE len(list_filter(tags,
          x -> NOT list_contains([0, 1, 2, 3, 4, 5], x))) = 0
    ORDER BY op, doc_id
    """,
)
def gin_array_ops_gate(spark, sf_dir):
    """Array-element GIN opclass end-to-end (ginarrayproc.cpp;
    contrib/intarray's gin__int_ops regress): index an int-array
    column (a bare column picks the array opclass by type, as PG
    does), then @>/&&/<@ all answer index-only — containment as the
    AND-of-elements aggregate, contained-by exactly via the persisted
    per-doc element count.  The oracle brute-forces the same three
    predicates with list functions."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ginarr_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gate_arr AS"
            " SELECT o_orderkey AS rid,"
            " array(o_orderkey % 7, o_orderkey % 11, o_orderkey % 13)"
            "   AS tags"
            " FROM orders WHERE o_orderkey <= 2000"
        )
        eng.sql("CREATE INDEX gate_arr_gin ON gate_arr USING gin (tags)")
        parts = []
        for op, vals in [("contains", [2, 4]), ("overlap", [5, 12]),
                         ("contained", [0, 1, 2, 3, 4, 5])]:
            parts.append(
                gin_array_search(eng, "gate_arr_gin", op, vals)
                .select(F.lit(op).alias("op"), "doc_id")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        rows = out.orderBy("op", "doc_id").collect()
        return spark.createDataFrame(rows, "op STRING, doc_id BIGINT")
    finally:
        eng.sql("DROP INDEX gate_arr_gin")
        shutil.rmtree(tmp, ignore_errors=True)


@_register_query(
    "gin_index_fts",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text),
                          '[^a-z0-9]+', ' ', 'g')), ' ') AS ts
      FROM documents
    )
    SELECT doc_id,
           ROUND((len(list_filter(ts, x -> x = 'hash'))
                  + len(list_filter(ts, x -> x = 'join')))
                 / (1.0 + len(ts)), 6) AS rank
    FROM toks
    WHERE list_contains(ts, 'hash') AND list_contains(ts, 'join')
    ORDER BY rank DESC, doc_id
    LIMIT 100
    """,
)
def gin_index_fts(spark, sf_dir):
    """GIN inverted index end-to-end (gininsert.cpp ginbuild;
    tsginidx.cpp @@ consistency; regress cgin_test.sql): CREATE INDEX
    ... USING gin (to_tsvector(text)) persists the posting table,
    then an AND tsquery ranks ENTIRELY from the index — tf and
    doc_len ride in the postings, so neither the match nor the rank
    touches the corpus.  The oracle recomputes the same match + rank
    by scanning and re-tokenizing documents, so a green row proves
    the posting lists are a faithful inversion of the corpus.

    Scale: the query reads only the rowgroups holding 'hash'/'join'
    (lexeme-sorted layout → parquet min/max pruning), aggregates on
    the short doc_id key, and TakeOrdereds — corpus-size-independent
    work after the one-time build.  Plan pinned re-tokenization-free
    in tests/test_plan_quality.py."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "CREATE INDEX gate_doc_gin ON documents"
        " USING gin (to_tsvector('english', text))"
    )
    out = gin_rank_search(eng, "gate_doc_gin", ["hash", "join"], 100)
    rows = out.collect()
    eng.sql("DROP INDEX gate_doc_gin")
    return spark.createDataFrame(rows, "doc_id BIGINT, rank DOUBLE")


_TRGM_PROBE = "smal widgett"  # misspelled 'small widget'

_SQL_TRGM_SET = """
      list_distinct(flatten(list_transform(
        list_filter(string_split_regex(trim(regexp_replace(lower({col}),
            '[^a-z0-9]+', ' ', 'g')), ' '), w -> w != ''),
        w -> list_transform(range(1, length(w) + 2),
                            i -> substr('  ' || w || ' ',
                                        CAST(i AS INT), 3)))))
"""


@_register_query(
    "trgm_gin_search",
    f"""
    WITH t AS (
      SELECT p_partkey,
             {_SQL_TRGM_SET.format(col='p_name')} AS ta,
             {_SQL_TRGM_SET.format(col=f"'{_TRGM_PROBE}'")} AS tb
      FROM part
    ), s AS (
      SELECT p_partkey,
             len(list_intersect(ta, tb)) AS inter,
             CAST(len(list_intersect(ta, tb)) AS DOUBLE)
               / (len(ta) + len(tb) - len(list_intersect(ta, tb)))
               AS sim
      FROM t
    )
    SELECT p_partkey AS doc_id, ROUND(sim, 6) AS sim
    FROM s WHERE inter > 0
    ORDER BY ROUND(sim, 6) DESC, p_partkey LIMIT 15
    """,
)
def trgm_gin_search_gate(spark, sf_dir):
    """pg_trgm GIN opclass end-to-end (trgm_gin.cpp
    gin_extract_value_trgm / gin_trgm_consistent; regress
    cgin_test.sql's trigram half): ``CREATE INDEX ... USING gin
    (p_name gin_trgm_ops)`` persists one posting row per distinct
    trigram, and a misspelled probe ranks the EXACT pg_trgm
    similarity straight off the index — |A∩B| is the posting-row
    count, |A| rides in the index, the corpus is never re-scanned.
    The oracle recomputes similarity by building both trigram sets
    from scratch, so a green row proves the posting inversion AND the
    set-size bookkeeping.

    Scale: the query reads ~|probe| trigram rowgroups (lexeme-sorted
    pushdown), one short-key aggregate, TakeOrdered."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql(
        "CREATE INDEX gate_trgm_gin ON part"
        " USING gin (p_name gin_trgm_ops)"
    )
    out = trgm_gin_search(
        eng, "gate_trgm_gin", _TRGM_PROBE, 15
    )
    rows = out.collect()
    eng.sql("DROP INDEX gate_trgm_gin")
    return spark.createDataFrame(rows, "doc_id BIGINT, sim DOUBLE")
