"""CREATE SCHEMA — qualified relation names over the flat catalog.

Reference: `parser/gram.y` CreateSchemaStmt (CREATE SCHEMA name
[AUTHORIZATION role]); `commands/schemacmds.cpp`; namespace resolution
`catalog/namespace.cpp`.

Spark-first shape: Spark temp views are a flat namespace, so a
REGISTERED schema's qualified names rewrite to mangled flat names
(``s.t`` → ``s__t``) before any handler or Spark sees the statement —
the package-member resolution pattern (operators/packages.py), with
the same safety rails: only names under schemas the session actually
CREATEd rewrite (zero effect otherwise), quoted literals are masked,
and the schema→tables membership map drives DROP SCHEMA CASCADE and
the pg_tables rendering.  ``SET search_path = a, b`` resolves
UNQUALIFIED relation references through the registered schemas in
path order (namespace.cpp RelnameGetRelid's recomputeNamespacePath
walk): a bare name in a table position (after FROM/JOIN/INTO/UPDATE/
TABLE/USING) rewrites to the first ``<schema>__<name>`` member that
exists; ``public`` (and ``"$user"``) in the path binds the name to
the flat catalog when a flat relation of that name exists, stopping
the walk — so path ORDER decides shadowing exactly as the reference
does.  Names that resolve nowhere in the path fall through to the
flat catalog (an implicit trailing ``public``, documented superset).
Unqualified CREATE still targets the flat catalog — qualify creation
targets (creation-into-first-schema is namespace.cpp's other half;
the rewrite resolves existing relations only).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from ._util import status_frame, sub_outside_literals

_CREATE_SCHEMA = re.compile(
    r"^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)"
    r"(?:\s+AUTHORIZATION\s+\w+)?\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_DB = re.compile(
    r"^\s*CREATE\s+DATABASE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>\w+)(?P<opts>\s+(?:WITH\b|OWNER\b|ENCODING\b|TEMPLATE\b"
    r"|LC_|DBCOMPATIBILITY\b|CONNECTION\b|TABLESPACE\b).*)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_DB = re.compile(
    r"^\s*DROP\s+DATABASE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_SYNONYM = re.compile(
    r"^\s*CREATE\s+(?P<orr>OR\s+REPLACE\s+)?(?:PUBLIC\s+)?SYNONYM\s+"
    r"(?P<name>\w+)\s+FOR\s+(?P<target>\w+(?:\.\w+)?)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SYNONYM = re.compile(
    r"^\s*DROP\s+(?:PUBLIC\s+)?SYNONYM\s+(?P<ie>IF\s+EXISTS\s+)?"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SCHEMA = re.compile(
    r"^\s*DROP\s+SCHEMA\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s*(?P<cascade>CASCADE)?\s*(?:RESTRICT\s*)?;?\s*$",
    re.IGNORECASE,
)


def flat_name(schema: str, table: str) -> str:
    return f"{schema}__{table}"


def rewrite_qualified_names(engine, query: str) -> str:
    """``<schema>.<name>`` → ``<schema>__<name>`` for REGISTERED
    schemas only, outside string literals.  Column references like
    ``alias.col`` never rewrite unless the alias collides with a
    created schema name — the qualified-table grammar and the
    alias grammar are textually identical, so registration is the
    disambiguator (namespace.cpp resolves against pg_namespace the
    same way)."""
    schemas = engine.schemas
    if not schemas:
        return query
    lowered = query.lower()
    if not any(s + "." in lowered for s in schemas):
        return query
    pat = re.compile(
        r"\b(" + "|".join(re.escape(s) for s in sorted(schemas))
        + r")\.(\w+)",
        re.IGNORECASE,
    )

    def _sub(m: re.Match) -> str:
        return flat_name(m.group(1).lower(), m.group(2))

    return sub_outside_literals(pat, _sub, query)


# a table-reference position: the keyword that announces a relation
# name in PG grammar (FROM x / JOIN x / INSERT INTO x / UPDATE x /
# TRUNCATE|DROP|ALTER TABLE x / DELETE ... USING x)
_TABLE_POS = r"\b(?:FROM|JOIN|INTO|UPDATE|TABLE|USING)\s+"


def resolve_search_path(engine, query: str) -> str:
    """Unqualified-name resolution through ``SET search_path``
    (namespace.cpp recomputeNamespacePath + RelnameGetRelid): for
    each registered schema in path order, a bare relation name in a
    table position rewrites to the schema's member; ``public`` stops
    the walk when a flat relation of that name exists.  Identity when
    no search_path is set or no schemas are registered."""
    schemas = engine.schemas
    # SET CURRENT_SCHEMA = x is openGauss's spelling for the path
    # head (namespace.cpp assign_search_path's sibling; regress sets
    # it 137×) — it participates exactly like search_path
    gucs = engine._gucs
    path_raw = gucs.get("search_path") or gucs.get("current_schema")
    if not schemas or not path_raw:
        return query
    path = [
        p.strip().strip('"').strip("'").lower()
        for p in str(path_raw).split(",")
        if p.strip()
    ]
    if not any(p in schemas for p in path):
        return query

    def _resolve(name: str) -> str | None:
        for p in path:
            if p in ("public", "$user"):
                if name in engine.managed_tables.tables or \
                        engine.spark.catalog.tableExists(name):
                    return None  # flat catalog wins at this position
                continue
            if p in schemas and \
                    flat_name(p, name) in engine.managed_tables.tables:
                return flat_name(p, name)
        return None

    pat = re.compile(
        r"\b(?P<kw>FROM|JOIN|INTO|UPDATE|TABLE|USING)\s+"
        r"(?P<name>\w+)(?!\s*\.)",
        re.IGNORECASE,
    )

    def _sub(m: re.Match) -> str:
        name = m.group("name")
        if "__" in name:  # already schema-mangled
            return m.group(0)
        kw = m.group("kw").upper()
        # FROM f(...) / JOIN f(...) is a table function, not a
        # relation; INTO t (cols) is still a relation (column list)
        if kw in ("FROM", "JOIN", "USING") and \
                query[m.end():].lstrip().startswith("("):
            return m.group(0)
        head = query[: m.start()]
        # Creation targets never resolve to a later path entry
        # (namespace.cpp RangeVarGetCreationNamespace: CREATE uses the
        # first writable schema, never an existing same-named relation
        # further down the path).  In this engine unqualified CREATE
        # targets the flat catalog — skip resolution for:
        #   CREATE [TEMP] TABLE t ...        (kw TABLE after CREATE)
        #   SELECT ... INTO t ...            (kw INTO not after
        #                                     INSERT/MERGE)
        if kw == "TABLE" and re.search(
            r"\bCREATE\s+(?:GLOBAL\s+|LOCAL\s+)?"
            r"(?:TEMP(?:ORARY)?\s+|UNLOGGED\s+)*$",
            head,
            re.IGNORECASE,
        ):
            return m.group(0)
        if kw == "INTO" and not re.search(
            r"\b(?:INSERT|MERGE)\s*$", head, re.IGNORECASE
        ):
            return m.group(0)
        target = _resolve(name.lower())
        if target is None:
            return m.group(0)
        return m.group(0)[: -len(name)] + target

    return sub_outside_literals(pat, _sub, query)


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    m = _CREATE_SCHEMA.match(query)
    if m:
        name = m.group("name").lower()
        if name in engine.schemas:
            if re.search(r"IF\s+NOT\s+EXISTS", query, re.IGNORECASE):
                return status_frame(engine.spark, ("CREATE SCHEMA", name, True), "tag STRING, schema STRING, already_existed BOOLEAN",)
            raise ValueError(f"schema {name!r} already exists")
        engine.schemas.add(name)
        return status_frame(engine.spark, ("CREATE SCHEMA", name, False), "tag STRING, schema STRING, already_existed BOOLEAN",)
    m = _DROP_SCHEMA.match(query)
    if m:
        name = m.group("name").lower()
        existed = name in engine.schemas
        if not existed:
            if re.search(r"IF\s+EXISTS", query, re.IGNORECASE):
                return status_frame(engine.spark, ("DROP SCHEMA", name, False), "tag STRING, schema STRING, existed BOOLEAN",)
            raise KeyError(f"schema {name!r} does not exist")
        prefix = name + "__"
        members = [
            t for t in engine.managed_tables.tables if t.startswith(prefix)
        ]
        if members and not m.group("cascade"):
            # schemacmds.cpp RemoveSchemaById dependency check
            raise ValueError(
                f"schema {name!r} is not empty ({len(members)} "
                "relation(s)) — use DROP SCHEMA ... CASCADE"
            )
        for t in members:
            engine.managed_tables.drop(t, purge=True)
        engine.schemas.discard(name)
        return status_frame(engine.spark, ("DROP SCHEMA", name, True), "tag STRING, schema STRING, existed BOOLEAN",)
    m = _CREATE_DB.match(query)
    if m:
        # dbcommands.cpp createdb, stripped of the PG/openGauss option
        # tail: Spark's catalog databases carry the name; OWNER is the
        # ACL layer's domain, ENCODING/LC_* are UTF-8 end-to-end (the
        # documented charset position), TEMPLATE/DBCOMPATIBILITY have
        # no catalog analogue — all accepted and dropped, named in the
        # status frame so migration scripts see what was elided
        name = m.group("name").lower()
        ine = "IF NOT EXISTS " if m.group("ine") else ""
        engine.spark.sql(f"CREATE DATABASE {ine}{name}")
        return status_frame(
            engine.spark,
            ("CREATE DATABASE", name,
             (m.group("opts") or "").strip() or None),
            "tag STRING, database STRING, options_elided STRING",
        )
    m = _DROP_DB.match(query)
    if m:
        name = m.group("name").lower()
        ie = "IF EXISTS " if m.group("ie") else ""
        engine.spark.sql(f"DROP DATABASE {ie}{name} CASCADE")
        return status_frame(engine.spark, ("DROP DATABASE", name),
                            "tag STRING, database STRING")
    if re.match(r"^\s*ALTER\s+DATABASE\b", query, re.IGNORECASE):
        # dbcommands.cpp AlterDatabase: every alterable property
        # (connection limits, per-db GUC defaults, OWNER) is session/
        # auth metadata with no engine state — accepted no-op
        return status_frame(engine.spark,
                            ("ALTER DATABASE", "metadata no-op"),
                            "tag STRING, note STRING")
    m = _CREATE_SYNONYM.match(query)
    if m:
        # commands/synonym.cpp (A-format CREATE SYNONYM; 73 regress
        # uses): a name alias for a relation, resolved by NAME
        # REWRITE at statement time (resolve_synonyms below) — like
        # the reference's synonym lookup in relation resolution, the
        # alias always sees the target's CURRENT contents, surviving
        # the target's copy-on-write re-registrations (a temp-view
        # alias would capture the creation-time plan).  Function
        # synonyms refuse toward CREATE FUNCTION.
        name = m.group("name").lower()
        target = m.group("target").lower().replace(".", "__")
        if name in engine.synonyms and not m.group("orr"):
            raise ValueError(f"synonym {name!r} already exists")
        if not (target in engine.managed_tables.tables
                or target in engine.tables
                or engine.spark.catalog.tableExists(target)):
            raise KeyError(
                f"CREATE SYNONYM: relation {m.group('target')!r} not "
                "found (function synonyms: call the function directly "
                "or CREATE FUNCTION an alias)"
            )
        engine.synonyms[name] = target
        return status_frame(engine.spark, ("CREATE SYNONYM", name, target),
                            "tag STRING, synonym STRING, target STRING")
    m = _DROP_SYNONYM.match(query)
    if m:
        name = m.group("name").lower()
        syns = engine.synonyms
        existed = name in syns
        if not existed and not m.group("ie"):
            raise KeyError(f"synonym {name!r} does not exist")
        if existed:
            del syns[name]
        return status_frame(engine.spark, ("DROP SYNONYM", name, existed),
                            "tag STRING, synonym STRING, existed BOOLEAN")
    return None


_DML_VERBS = re.compile(
    r"^\s*(?:SELECT|WITH|INSERT|UPDATE|DELETE|MERGE|VALUES|EXPLAIN)\b",
    re.IGNORECASE,
)
_CREATE_TABLE_NAME = re.compile(
    r"^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+|UNLOGGED\s+|GLOBAL\s+|LOCAL\s+)*"
    r"TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\b",
    re.IGNORECASE,
)


def resolve_synonyms(engine, query: str) -> str:
    """Synonym resolution (commands/synonym.cpp: relation lookup
    falls through to pg_synonym): a synonym name in a table position
    rewrites to its target — identity when none are registered or
    named.  Runs in the Engine.sql funnel after search_path, so a
    synonym can point at a schema-qualified member's flat name.

    DML-only, like the reference: tablecmds.cpp passes
    supportSynonym=false for DDL lookups, so DROP/TRUNCATE/ALTER
    TABLE <synonym> must NOT silently redirect to the target (a DROP
    would destroy the target's data).  CREATE TABLE with a name
    colliding with a synonym is rejected (tablecmds.cpp:6995)."""
    syns = engine.synonyms
    if not syns:
        return query
    low = query.lower()
    if not any(s in low for s in syns):
        return query
    if not _DML_VERBS.match(query):
        m = _CREATE_TABLE_NAME.match(query)
        if m and m.group("name").lower() in syns:
            raise ValueError(
                f"relation name {m.group('name')!r} collides with an "
                "existing synonym (DROP SYNONYM first)"
            )
        return query
    pat = re.compile(
        r"\b(?P<kw>FROM|JOIN|INTO|UPDATE|TABLE|USING)\s+"
        r"(?P<name>\w+)(?!\s*\.)",
        re.IGNORECASE,
    )

    def _sub(m: re.Match) -> str:
        target = syns.get(m.group("name").lower())
        if target is None:
            return m.group(0)
        return m.group("kw") + " " + target

    return sub_outside_literals(pat, _sub, query)


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "schema_qualified_lifecycle",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 2000
    ),
    upd AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey <= 500
                  THEN price * CAST(2 AS DOUBLE) ELSE price END AS price
      FROM base
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(u.price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM upd u JOIN customer c ON u.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def schema_qualified_lifecycle(spark, sf_dir):
    """CREATE SCHEMA + qualified-name lifecycle (schemacmds.cpp;
    namespace.cpp resolution): CTAS into sales.fact, qualified UPDATE,
    a join of the qualified relation against the catalog star schema,
    then DROP SCHEMA CASCADE — the oracle recomputes the post-UPDATE
    join directly.  Every statement exercises the registered-schema
    rewrite; the literal-masking rail is covered by pytest."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="schema_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql("CREATE SCHEMA sales")
        eng.sql(
            "CREATE TABLE sales.fact AS SELECT o_orderkey, o_custkey,"
            " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
            " WHERE o_orderkey <= 2000"
        )
        eng.sql(
            "UPDATE sales.fact SET price = price * CAST(2 AS DOUBLE)"
            " WHERE o_orderkey <= 500"
        )
        out = eng.sql(
            "SELECT c.c_mktsegment, COUNT(*) AS n,"
            " CAST(SUM(CAST(u.price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM sales.fact u JOIN customer c"
            "   ON u.o_custkey = c.c_custkey"
            " GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"
        )
        rows = [(r[0], r[1], float(r[2])) for r in out.collect()]
        eng.sql("DROP SCHEMA sales CASCADE")
        assert "sales__fact" not in eng.managed_tables.tables
        return spark.createDataFrame(
            rows, "c_mktsegment STRING, n BIGINT, total DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "search_path_resolution",
    """
    SELECT 'hot' AS path_head,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 'cold' AS path_head,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000
    ORDER BY path_head
    """,
)
def search_path_resolution(spark, sf_dir):
    """SET search_path end-to-end (namespace.cpp
    recomputeNamespacePath / RelnameGetRelid): two schemas each hold
    an ``ordslice`` relation with DIFFERENT contents; flipping the
    path flips which one the same unqualified query reads — the
    oracle recomputes both slices directly, so a green row proves the
    path-ordered resolution, not just that some table was read.

    Scale: resolution is a driver-side name rewrite before planning —
    zero plan overhead; the reads stay pruned parquet scans."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="searchpath_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql("CREATE SCHEMA hot")
        eng.sql("CREATE SCHEMA cold")
        eng.sql(
            "CREATE TABLE hot.ordslice AS"
            " SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders WHERE o_orderkey <= 1000"
        )
        eng.sql(
            "CREATE TABLE cold.ordslice AS"
            " SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price"
            " FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000"
        )
        rows = []
        for head in ("hot", "cold"):
            other = "cold" if head == "hot" else "hot"
            eng.sql(f"SET search_path = {head}, {other}")
            r = eng.sql(
                "SELECT COUNT(*) AS n,"
                " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
                "   AS total"
                " FROM ordslice"
            ).collect()[0]
            rows.append((head, r.n, float(r.total)))
        eng.sql("RESET search_path")
        eng.sql("DROP SCHEMA hot CASCADE")
        eng.sql("DROP SCHEMA cold CASCADE")
        return spark.createDataFrame(
            rows, "path_head STRING, n BIGINT, total DOUBLE"
        ).orderBy("path_head")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
