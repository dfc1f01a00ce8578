"""Row-level security — CREATE POLICY / SET ROLE through Engine.sql.

Reference: `optimizer/commands/sec_rls_cmds.cpp` (CreateRlsPolicy /
RemoveRlsPolicy; catalog pg_rlspolicy) and
`optimizer/rewrite/rewriteRlsPolicy.cpp` — openGauss enforces RLS as a
REWRITE: when a restricted role scans a protected relation, the
planner injects the policy's USING qual into the scan, and with no
applicable policy the scan yields nothing (default deny).  The table
owner bypasses RLS unless FORCE is set.

The Spark translation keeps exactly that rewrite model: the engine's
registered temp view for a protected table is re-pointed, on every
role change, to the base relation filtered by the OR of the role's
applicable policy predicates (or ``lit(False)`` under default deny).
Queries — ours or a user's raw ``spark.sql`` against the view — see
the injected predicate with zero per-row enforcement cost: the filter
participates in predicate pushdown and rowgroup pruning like any other
qual, so RLS is free at 100 TB in exactly the way a per-row security
hook would not be.

Supported statement shapes::

    ALTER TABLE t ENABLE ROW LEVEL SECURITY;
    CREATE POLICY p ON t [TO role1, role2] USING (<predicate>);
    DROP POLICY p ON t;
    SET ROLE analyst;   -- policies apply
    RESET ROLE;         -- owner again, RLS bypassed
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..registry import query
from ._util import status_frame

_ENABLE_RLS = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ENABLE\s+ROW\s+LEVEL\s+"
    r"SECURITY\s*;?\s*$",
    re.IGNORECASE,
)
# both spellings: PG's CREATE POLICY and openGauss's long form
# CREATE ROW LEVEL SECURITY POLICY (gram.y CreateRlsPolicyStmt —
# regress rowlevelsecurity.sql uses the long form throughout)
_CREATE_POLICY = re.compile(
    r"^\s*CREATE\s+(?:ROW\s+LEVEL\s+SECURITY\s+)?POLICY\s+"
    r"(?P<name>\w+)\s+ON\s+(?P<table>\w+)"
    r"(?:\s+AS\s+PERMISSIVE)?(?:\s+FOR\s+(?:SELECT|ALL))?"
    r"(?:\s+TO\s+(?P<roles>\w+(?:\s*,\s*\w+)*))?"
    r"\s+USING\s+\((?P<pred>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_POLICY = re.compile(
    r"^\s*DROP\s+(?:ROW\s+LEVEL\s+SECURITY\s+)?POLICY\s+"
    r"(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s+ON\s+(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
# GRANT/REVOKE table privileges (catalog/aclchk.cpp ExecuteGrantStmt /
# pg_class_aclcheck; gram.y:13880 GrantStmt).  Enforcement model: a
# table becomes ACL-MANAGED once any GRANT/REVOKE touches it — from
# then on a SET ROLE'd session needs the privilege (granted to the
# role or to PUBLIC); the owner (no SET ROLE) always bypasses, and
# never-granted tables stay open (the star schema is a world-readable
# input).  SELECT denial re-points the protected view at a
# raise_error projection with the base schema, so ANY scan — ours or
# raw spark.sql — fails with 'permission denied' at execution;
# INSERT/UPDATE/DELETE/TRUNCATE/MERGE deny at statement level.
_PRIVS = {"select", "insert", "update", "delete", "truncate",
          "references", "trigger", "all"}
_GRANT = re.compile(
    r"^\s*GRANT\s+(?P<privs>[\w\s,]+?)\s+ON\s+(?:TABLE\s+)?"
    r"(?P<table>\w+)\s+TO\s+(?P<roles>\w+(?:\s*,\s*\w+)*)"
    r"(?:\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*$",
    re.IGNORECASE,
)
_REVOKE = re.compile(
    r"^\s*REVOKE\s+(?P<privs>[\w\s,]+?)\s+ON\s+(?:TABLE\s+)?"
    r"(?P<table>\w+)\s+FROM\s+(?P<roles>\w+(?:\s*,\s*\w+)*)\s*;?\s*$",
    re.IGNORECASE,
)
_TABLE_PRIVS_SELECT = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+table_privileges\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE ROLE/USER (gram.y:1391 CreateRoleStmt) — options are
# authentication/resource metadata a batch engine has no use for;
# PASSWORD material is deliberately NOT retained
_CREATE_ROLE = re.compile(
    r"^\s*CREATE\s+(?:ROLE|USER)\s+(?P<name>\w+)"
    r"(?:\s+WITH)?(?P<opts>(?:\s+\w+(?:\s+'[^']*')?)*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_ROLE = re.compile(
    r"^\s*DROP\s+(?:ROLE|USER)\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# GRANT <role> TO <member> (gram.y:14286 GrantRoleStmt — no ON
# clause, which is what separates it from a table GRANT)
_GRANT_ROLE = re.compile(
    r"^\s*GRANT\s+(?P<role>\w+)\s+TO\s+(?P<members>\w+(?:\s*,\s*\w+)*)"
    r"(?:\s+WITH\s+ADMIN\s+OPTION)?\s*;?\s*$",
    re.IGNORECASE,
)
_REVOKE_ROLE = re.compile(
    r"^\s*REVOKE\s+(?P<role>\w+)\s+FROM\s+"
    r"(?P<members>\w+(?:\s*,\s*\w+)*)\s*;?\s*$",
    re.IGNORECASE,
)


def _parse_privs(text: str) -> set[str]:
    privs = set()
    for p in text.split(","):
        p = p.strip().lower().replace("privileges", "").strip()
        if p not in _PRIVS:
            raise ValueError(f"unknown privilege {p!r}")
        privs.add(p)
    return privs


def _role_closure(engine, role: str) -> set[str]:
    """The role plus every group it belongs to, transitively
    (GrantRoleStmt membership — gram.y:14286; is_member_of_role)."""
    seen = {role}
    frontier = [role]
    members = engine.role_members
    while frontier:
        r = frontier.pop()
        for parent in members.get(r, ()):  # groups r belongs to
            if parent not in seen:
                seen.add(parent)
                frontier.append(parent)
    return seen


def has_privilege_for(engine, role: str, tbl: str, priv: str) -> bool:
    """pg_class_aclcheck for an EXPLICIT role (has_table_privilege's
    3-arg form, acl.cpp has_table_privilege_name_name): ACL-managed
    tables require the privilege on the role, any group it belongs to
    (transitive membership, the INHERIT default), or PUBLIC;
    unmanaged tables are open."""
    acl = engine.acl.get(tbl.lower())
    if acl is None:
        return True
    allowed: set[str] = set(acl.get("public", set()))
    for r in _role_closure(engine, role):
        allowed |= acl.get(r, set())
    return priv.lower() in allowed or "all" in allowed


def has_privilege(engine, tbl: str, priv: str) -> bool:
    """The session-role form — owner (no SET ROLE) bypasses."""
    if engine.current_role is None:
        return True
    return has_privilege_for(engine, engine.current_role, tbl, priv)


def check_privilege(engine, tbl: str, priv: str) -> None:
    if not has_privilege(engine, tbl, priv):
        # aclchk.cpp aclcheck_error ACLCHECK_NO_PRIV wording
        raise PermissionError(
            f"permission denied for relation {tbl.lower()}"
        )
_SET_ROLE = re.compile(
    r"^\s*SET\s+ROLE\s+(?P<role>\w+)\s*;?\s*$", re.IGNORECASE
)
_RESET_ROLE = re.compile(r"^\s*RESET\s+ROLE\s*;?\s*$", re.IGNORECASE)


def role_predicate(engine, tbl: str):
    """The RLS qual the current session must see on ``tbl``: the OR of
    the role's applicable policy predicates as a Column, ``lit(False)``
    under default deny, or None when RLS does not restrict this table
    for the session (owner, or RLS not enabled).  Shared by the view
    rewrite AND the UPDATE/DELETE handlers — rewriteRlsPolicy.cpp
    injects policy quals into every scan of a protected relation,
    including the scans feeding DML."""
    role = engine.current_role
    if role is None or tbl not in engine.rls_enabled:
        return None
    preds = [
        p["pred"]
        for p in engine.rls_policies.get(tbl, {}).values()
        if p["roles"] is None or role in p["roles"]
    ]
    if not preds:
        return F.lit(False)  # default deny
    cond = F.expr(preds[0])
    for p in preds[1:]:
        cond = cond | F.expr(p)  # policies OR together (PG)
    return cond


def protected_tables(engine) -> set:
    """Tables whose temp view must NOT be the raw base relation:
    RLS-enabled tables, any carrying a masking resource label, and
    ACL-managed tables (GRANT/REVOKE recorded)."""
    labeled = {
        t for cols in engine.resource_labels.values() for t, _c in cols
        if t in engine.managed_tables.tables
    }
    return engine.rls_enabled | labeled | set(engine.acl)


def _refresh_views(engine, only: str | None = None) -> None:
    """Re-point protected tables' views for the current role — the
    rewriteRlsPolicy.cpp qual injection, done once per role change.
    ``only`` limits the refresh to one table (the post-DML path: a
    write to table t invalidates t's view alone, so refreshing all N
    protected tables would be O(N) catalog work for nothing)."""
    tables = (
        protected_tables(engine) if only is None
        else ({only} & protected_tables(engine))
    )
    for tbl in tables:
        if tbl not in engine.managed_tables.tables:
            continue  # state for a dropped table (purged on DROP, but
            # stay defensive: never read a nonexistent path)
        base = engine.managed_tables.scan(tbl)
        if not has_privilege(engine, tbl, "select"):
            # the denial IS the view: base schema over a row source
            # whose FILTER raises — so every execution path, including
            # COUNT(*) which never touches a projected column, fails
            # with 'permission denied' (pg_class_aclcheck), for raw
            # spark.sql against the name too
            denied = (
                engine.spark.range(1)
                .filter(F.expr(
                    f"CAST(raise_error('permission denied for "
                    f"relation {tbl}') AS BOOLEAN)"
                ))
                .select(*[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in base.schema.fields
                ])
            )
            denied.createOrReplaceTempView(tbl)
            continue
        pred = role_predicate(engine, tbl)
        view = base if pred is None else base.filter(pred)
        view = _apply_masking(engine, tbl, view)
        view.createOrReplaceTempView(tbl)


def try_handle_stmt(engine, stmt: str):
    m = re.match(
        r"^\s*REASSIGN\s+OWNED\s+BY\s+(?P<old>[\w, ]+?)\s+TO\s+"
        r"(?P<new>\w+)\s*;?\s*$", stmt, re.IGNORECASE,
    )
    if m:
        # shdepend.cpp shdepReassignOwned: ownership moves to the new
        # role — here ownership lives in the ACL registry, so every
        # grant held by the old role(s) transfers (census batch 9;
        # 13 regress uses)
        olds = {r.strip().lower() for r in m.group("old").split(",")}
        new = m.group("new").lower()
        moved = 0
        for tbl, roles in engine.acl.items():
            for old in list(roles):
                if old in olds:
                    privs = roles.pop(old)
                    roles.setdefault(new, set()).update(privs)
                    moved += 1
        return status_frame(
            engine.spark, ("REASSIGN OWNED", new, moved),
            "tag STRING, new_owner STRING, grants_moved BIGINT",
        )
    if re.match(r"^\s*(LISTEN|UNLISTEN|NOTIFY)\b", stmt,
                re.IGNORECASE):
        raise NotImplementedError(
            "LISTEN/NOTIFY (async.cpp) assume a long-lived server "
            "process delivering notifications between sessions — a "
            "batch engine has no session to notify; poll a managed "
            "table (INSERT events, SELECT new rows) for the same "
            "coordination shape"
        )
    if re.search(r"\bpg_(?:logical_slot_(?:get|peek)_(?:binary_)?"
                 r"changes|create_logical_replication_slot|"
                 r"drop_replication_slot)\s*\(", stmt, re.IGNORECASE):
        # logical decoding (replication/logical; 79+ regress uses)
        # reads WAL a snapshot-swap parquet engine does not write
        raise NotImplementedError(
            "logical decoding reads the WAL — this engine versions "
            "immutable parquet snapshots instead; diff two TIMECAPSULE "
            "CSN snapshots (EXCEPT / anti-join) for change capture, or "
            "process deltas with the incremental_agg_merge pattern"
        )
    if re.search(r"\blo_(?:open|close|creat|create|import|export|"
                 r"read|write|unlink|lseek|tell|truncate)\s*\(",
                 stmt, re.IGNORECASE):
        # large objects (libpq/be-fsstubs.cpp lo_* fastpath; 42+
        # regress uses) are a server-side chunked-file protocol
        raise NotImplementedError(
            "large-object lo_* calls stream server-side chunks — "
            "store blobs in a BINARY column (multimodal columns "
            "pattern: opaque bytes + typed metadata) and read them "
            "with ordinary projections"
        )
    m = _TABLE_PRIVS_SELECT.match(stmt)
    if m:
        # information_schema.table_privileges analogue
        rows = [
            (tbl, role, priv.upper())
            for tbl, roles in sorted(engine.acl.items())
            for role, privs in sorted(roles.items())
            for priv in sorted(privs)
        ]
        return engine.spark.createDataFrame(
            rows or [("", "", "")][:0],
            "table_name STRING, grantee STRING, privilege_type STRING",
        )
    m = _GRANT.match(stmt)
    if m:
        tbl = m.group("table").lower()
        if tbl not in engine.managed_tables.tables:
            if tbl in engine.tables:
                raise NotImplementedError(
                    "GRANT on a read-only catalog table: the star "
                    "schema is a world-readable input — CTAS a "
                    "managed copy to put it under ACL"
                )
            raise KeyError(f"GRANT: table {tbl!r} not found")
        privs = _parse_privs(m.group("privs"))
        acl = engine.acl.setdefault(tbl, {})
        for role in m.group("roles").split(","):
            acl.setdefault(role.strip().lower(), set()).update(privs)
        _refresh_views(engine, only=tbl)
        return status_frame(engine.spark, ("GRANT", tbl, ",".join(sorted(privs))), "tag STRING, tbl STRING, privileges STRING",)
    m = _REVOKE.match(stmt)
    if m:
        tbl = m.group("table").lower()
        privs = _parse_privs(m.group("privs"))
        acl = engine.acl.get(tbl, {})
        for role in m.group("roles").split(","):
            have = acl.get(role.strip().lower())
            if have is None:
                continue
            if "all" in privs:
                have.clear()
            else:
                have -= privs
                # REVOKE of a named priv also breaks a prior ALL
                if "all" in have:
                    have.discard("all")
                    have.update(_PRIVS - {"all"} - privs)
        _refresh_views(engine, only=tbl)
        return status_frame(engine.spark, ("REVOKE", tbl, ",".join(sorted(privs))), "tag STRING, tbl STRING, privileges STRING",)
    m = _CREATE_ROLE.match(stmt)
    if m:
        engine.roles.add(m.group("name").lower())
        return status_frame(engine.spark, ("CREATE ROLE", m.group("name").lower()), "tag STRING, role STRING",)
    # ALTER ROLE/USER name <options> (AlterRoleStmt): every option is
    # authentication/resource metadata with no engine state (PASSWORD
    # material is never retained, same as CREATE; role-scoped SET
    # defaults are accepted but do not re-apply at SET ROLE — the
    # session GUC layer is engine-wide); the role must exist
    m = re.match(
        r"^\s*ALTER\s+(?:ROLE|USER)\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)"
        r"\b.*$",
        stmt, re.IGNORECASE | re.DOTALL,
    )
    if m:
        name = m.group("name").lower()
        if name not in engine.roles:
            raise KeyError(f"ALTER ROLE: role {name!r} does not exist")
        return status_frame(engine.spark, ("ALTER ROLE", name), "tag STRING, role STRING")
    m = _DROP_ROLE.match(stmt)
    if m:
        name = m.group("name").lower()
        existed = name in engine.roles
        engine.roles.discard(name)
        engine.role_members.pop(name, None)
        for members in engine.role_members.values():
            members.discard(name)
        return status_frame(engine.spark, ("DROP ROLE", name, existed), "tag STRING, role STRING, existed BOOLEAN",)
    m = _GRANT_ROLE.match(stmt)
    if m:
        group = m.group("role").lower()
        if group in _PRIVS:
            raise ValueError(
                f"GRANT {group.upper()} needs an ON <table> clause"
            )
        if group not in engine.roles:
            raise KeyError(f"role {group!r} does not exist")
        for member in m.group("members").split(","):
            engine.role_members.setdefault(
                member.strip().lower(), set()
            ).add(group)
        _refresh_views(engine)
        return status_frame(engine.spark, ("GRANT ROLE", group, m.group("members")), "tag STRING, role STRING, members STRING",)
    m = _REVOKE_ROLE.match(stmt)
    if m and m.group("role").lower() not in _PRIVS:
        group = m.group("role").lower()
        for member in m.group("members").split(","):
            engine.role_members.get(
                member.strip().lower(), set()
            ).discard(group)
        _refresh_views(engine)
        return status_frame(engine.spark, ("REVOKE ROLE", group, m.group("members")), "tag STRING, role STRING, members STRING",)
    m = _ENABLE_RLS.match(stmt)
    if m and m.group("name").lower() in engine.managed_tables.tables:
        engine.rls_enabled.add(m.group("name").lower())
        _refresh_views(engine)
        return status_frame(engine.spark, ("ALTER TABLE", m.group("name").lower(), True), "tag STRING, tbl STRING, rls BOOLEAN",)
    m = _CREATE_POLICY.match(stmt)
    if m:
        tbl = m.group("table").lower()
        if tbl not in engine.managed_tables.tables:
            raise KeyError(
                f"policies attach to managed tables; {tbl!r} is not one"
            )
        roles = m.group("roles")
        engine.rls_policies.setdefault(tbl, {})[m.group("name").lower()] = {
            "pred": m.group("pred"),
            "roles": (None if roles is None else
                      {r.strip().lower() for r in roles.split(",")}),
        }
        _refresh_views(engine)
        return status_frame(engine.spark, ("CREATE POLICY", m.group("name").lower(), tbl), "tag STRING, policy STRING, tbl STRING",)
    m = _DROP_POLICY.match(stmt)
    if m:
        tbl = m.group("table").lower()
        existed = (
            engine.rls_policies.get(tbl, {})
            .pop(m.group("name").lower(), None) is not None
        )
        _refresh_views(engine)
        return status_frame(engine.spark, ("DROP POLICY", m.group("name").lower(), tbl, existed), "tag STRING, policy STRING, tbl STRING, existed BOOLEAN",)
    m = _SET_ROLE.match(stmt)
    if m:
        role = m.group("role").lower()
        engine.current_role = None if role in ("none", "gauss") else role
        _refresh_views(engine)
        return status_frame(engine.spark, ("SET ROLE", role), "tag STRING, role STRING")
    if _RESET_ROLE.match(stmt):
        engine.current_role = None
        _refresh_views(engine)
        return status_frame(engine.spark, ("RESET ROLE",), "tag STRING")
    return try_handle_masking_stmt(engine, stmt)


@query(
    "rls_policy_scan",
    """
    SELECT CAST((SELECT COUNT(*) FROM customer
                 WHERE c_custkey <= 500 AND c_mktsegment = 'BUILDING')
           AS BIGINT) AS n_analyst,
           CAST((SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
                             AS DOUBLE)
                 FROM customer
                 WHERE c_custkey <= 500 AND c_mktsegment = 'BUILDING')
           AS DOUBLE) AS bal_analyst,
           CAST((SELECT COUNT(*) FROM customer WHERE c_custkey <= 500)
           AS BIGINT) AS n_owner,
           CAST(0 AS BIGINT) AS n_denied
    """,
)
def rls_policy_scan(spark, sf_dir):
    """Row-level security end-to-end (sec_rls_cmds.cpp +
    rewriteRlsPolicy.cpp): enable RLS on a managed table, grant the
    analyst role a segment-scoped policy, and verify three regimes —
    the analyst sees exactly the policy rows, the owner (RESET ROLE)
    bypasses RLS, and a role with no applicable policy gets default
    deny.  The oracle recomputes each regime's aggregate straight from
    the source with the policy predicate inlined — green proves the
    injected qual filters precisely.

    Scale: enforcement is a rewrite, not a hook — the policy predicate
    joins the scan's quals, so it pushes down to parquet and prunes
    rowgroups like any WHERE clause; role changes cost one view
    re-registration."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS rls_t")
    eng.sql(
        "CREATE TABLE rls_t AS SELECT c_custkey, c_mktsegment, c_acctbal"
        " FROM customer WHERE c_custkey <= 500"
    )
    eng.sql("ALTER TABLE rls_t ENABLE ROW LEVEL SECURITY")
    eng.sql(
        "CREATE POLICY seg_pol ON rls_t TO analyst"
        " USING (c_mktsegment = 'BUILDING')"
    )
    eng.sql("SET ROLE analyst")
    a = eng.sql(
        "SELECT COUNT(*) AS n,"
        " CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal"
        " FROM rls_t"
    ).collect()[0]
    eng.sql("SET ROLE intern")  # no policy for this role → default deny
    denied = eng.sql("SELECT COUNT(*) AS n FROM rls_t").collect()[0].n
    eng.sql("RESET ROLE")
    owner = eng.sql("SELECT COUNT(*) AS n FROM rls_t").collect()[0].n
    eng.sql("DROP POLICY seg_pol ON rls_t")
    eng.sql("DROP TABLE rls_t PURGE")
    return status_frame(spark, (a.n, a.bal, owner, denied), "n_analyst BIGINT, bal_analyst DOUBLE, n_owner BIGINT,"
        " n_denied BIGINT",)


# --- data masking policies (gs_policy_masking.cpp) ------------------------

_CREATE_LABEL = re.compile(
    r"^\s*CREATE\s+RESOURCE\s+LABEL\s+(?P<name>\w+)\s+ADD\s+"
    r"COLUMN\s*\(\s*(?P<cols>[\w.]+(?:\s*,\s*[\w.]+)*)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_MASKING = re.compile(
    r"^\s*CREATE\s+MASKING\s+POLICY\s+(?P<name>\w+)\s+"
    r"(?P<fn>maskall|creditcardmasking|basicemailmasking)\s+ON\s+"
    r"LABEL\s*\(\s*(?P<label>\w+)\s*\)"
    r"(?:\s+FILTER\s+ON\s+ROLES\s*\(\s*(?P<roles>\w+(?:\s*,\s*\w+)*)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_MASKING = re.compile(
    r"^\s*DROP\s+MASKING\s+POLICY\s+(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


def _mask_expr(fn: str, col: str):
    """The reference's masking functions (gs_policy_masking.cpp:59-60,
    :388) as engine-portable string expressions."""
    c = F.col(col)
    if fn == "maskall":
        return F.expr(f"repeat('x', length({col}))")
    if fn == "creditcardmasking":
        # keep the last 4 digits, mask the rest
        return F.concat(
            F.expr(f"repeat('x', greatest(length({col}) - 4, 0))"),
            F.expr(f"substring({col}, greatest(length({col}) - 3, 1))"),
        )
    if fn == "basicemailmasking":
        # mask the local part before '@'
        return F.when(
            F.instr(c, "@") > 1,
            F.concat(
                F.expr(f"repeat('x', instr({col}, '@') - 1)"),
                F.expr(f"substring({col}, instr({col}, '@'))"),
            ),
        ).otherwise(F.expr(f"repeat('x', length({col}))"))
    raise ValueError(f"unknown masking function {fn!r}")


def _apply_masking(engine, tbl: str, view):
    """Column-mask the view for the current role (owner sees clear)."""
    if engine.current_role is None:
        return view
    for pol in engine.masking_policies.values():
        if pol["roles"] is not None and engine.current_role not in pol["roles"]:
            continue
        for ltbl, lcol in engine.resource_labels.get(pol["label"], []):
            if ltbl == tbl and lcol in view.columns:
                view = view.withColumn(lcol, _mask_expr(pol["fn"], lcol))
    return view


def try_handle_masking_stmt(engine, stmt: str):
    m = _CREATE_LABEL.match(stmt)
    if m:
        cols = []
        for c in m.group("cols").split(","):
            tbl, _, col = c.strip().lower().rpartition(".")
            if not tbl:
                raise ValueError(
                    "resource label columns must be table.column"
                )
            cols.append((tbl, col))
        engine.resource_labels[m.group("name").lower()] = cols
        return status_frame(engine.spark, ("CREATE RESOURCE LABEL", m.group("name").lower(), len(cols)), "tag STRING, label STRING, n_cols INT",)
    m = _CREATE_MASKING.match(stmt)
    if m:
        label = m.group("label").lower()
        if label not in engine.resource_labels:
            raise KeyError(f"resource label {label!r} does not exist")
        roles = m.group("roles")
        engine.masking_policies[m.group("name").lower()] = {
            "fn": m.group("fn").lower(),
            "label": label,
            "roles": (None if roles is None else
                      {r.strip().lower() for r in roles.split(",")}),
        }
        _refresh_views(engine)
        return status_frame(engine.spark, ("CREATE MASKING POLICY", m.group("name").lower(),
              m.group("fn").lower()), "tag STRING, policy STRING, fn STRING",)
    m = _DROP_MASKING.match(stmt)
    if m:
        existed = (
            engine.masking_policies.pop(m.group("name").lower(), None)
            is not None
        )
        _refresh_views(engine)
        return status_frame(engine.spark, ("DROP MASKING POLICY", m.group("name").lower(), existed), "tag STRING, policy STRING, existed BOOLEAN",)
    return None


@query(
    "masking_policy_scan",
    """
    SELECT c_custkey,
           repeat('x', length(c_name)) AS c_name,
           repeat('x', greatest(length(c_mktsegment) - 4, 0))
             || substring(c_mktsegment,
                          greatest(length(c_mktsegment) - 3, 1))
             AS c_mktsegment,
           repeat('x', strpos(lower(c_name) || '@corp.example', '@') - 1)
             || substring(lower(c_name) || '@corp.example',
                          strpos(lower(c_name) || '@corp.example', '@'))
             AS email
    FROM customer WHERE c_custkey <= 20 ORDER BY c_custkey
    """,
)
def masking_policy_scan(spark, sf_dir):
    """Dynamic data masking (gs_policy_masking.cpp): resource labels
    collect the PII columns, masking policies bind the reference's
    three masking functions (maskall, creditcardmasking keep-last-4,
    basicemailmasking) to the labels, and a restricted role's scans
    see masked values while the owner sees clear text.  The oracle
    recomputes each masking transform directly — green proves the
    per-column rewrite is exact.

    Scale: like RLS, masking is a projection rewrite at view
    registration — codegen string expressions, no per-row hook, no
    Python."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS mask_t")
    eng.sql(
        "CREATE TABLE mask_t AS SELECT c_custkey, c_name, c_mktsegment,"
        " concat(lower(c_name), '@corp.example') AS email"
        " FROM customer WHERE c_custkey <= 20"
    )
    eng.sql("CREATE RESOURCE LABEL lb_name ADD COLUMN(mask_t.c_name)")
    eng.sql("CREATE RESOURCE LABEL lb_seg ADD COLUMN(mask_t.c_mktsegment)")
    eng.sql("CREATE RESOURCE LABEL lb_mail ADD COLUMN(mask_t.email)")
    eng.sql("CREATE MASKING POLICY m_name maskall ON LABEL(lb_name)")
    eng.sql(
        "CREATE MASKING POLICY m_seg creditcardmasking ON LABEL(lb_seg)"
    )
    eng.sql(
        "CREATE MASKING POLICY m_mail basicemailmasking ON LABEL(lb_mail)"
    )
    eng.sql("SET ROLE analyst")
    masked = eng.sql(
        "SELECT c_custkey, c_name, c_mktsegment, email FROM mask_t"
        " ORDER BY c_custkey"
    ).collect()
    eng.sql("RESET ROLE")
    clear = eng.sql(
        "SELECT c_name FROM mask_t ORDER BY c_custkey"
    ).collect()
    if not any("x" not in r.c_name.lower() or "X" in r.c_name
               for r in clear):
        raise AssertionError("owner must see clear text")
    eng.sql("DROP MASKING POLICY m_name")
    eng.sql("DROP MASKING POLICY m_seg")
    eng.sql("DROP MASKING POLICY m_mail")
    eng.sql("DROP TABLE mask_t PURGE")
    return spark.createDataFrame(
        masked,
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING,"
        " email STRING",
    )


@query(
    "grant_revoke_privileges",
    """
    WITH base AS (
      SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 1000
    ),
    upd AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderstatus = 'F'
                  THEN price * CAST(2 AS DOUBLE) ELSE price END AS price
      FROM base
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
           TRUE AS upd_denied_before_grant,
           TRUE AS sel_denied_after_revoke
    FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def grant_revoke_privileges(spark, sf_dir):
    """GRANT/REVOKE table ACLs end-to-end (catalog/aclchk.cpp
    ExecuteGrantStmt + pg_class_aclcheck; gram.y:13880): a SELECT-only
    grantee reads but cannot UPDATE (statement-level denial); after
    GRANT UPDATE the same role's UPDATE lands; after REVOKE ALL every
    scan fails (the protected view's raise_error filter — denial holds
    for COUNT(*) and raw spark.sql alike).  The denial outcomes ride
    along as boolean columns the oracle pins TRUE; the aggregate
    proves the granted UPDATE really executed."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="acl_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE sec_g AS SELECT o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
            " WHERE o_orderkey <= 1000"
        )
        eng.sql("GRANT SELECT ON sec_g TO analyst")
        eng.sql("SET ROLE analyst")
        assert eng.sql("SELECT COUNT(*) AS n FROM sec_g") \
            .collect()[0].n > 0
        upd_denied = False
        try:
            eng.sql(
                "UPDATE sec_g SET price = price * CAST(2 AS DOUBLE)"
                " WHERE o_orderstatus = 'F'"
            )
        except PermissionError:
            upd_denied = True
        eng.sql("RESET ROLE")
        eng.sql("GRANT UPDATE ON sec_g TO analyst")
        eng.sql("SET ROLE analyst")
        eng.sql(
            "UPDATE sec_g SET price = price * CAST(2 AS DOUBLE)"
            " WHERE o_orderstatus = 'F'"
        )
        eng.sql("RESET ROLE")
        eng.sql("REVOKE ALL ON sec_g FROM analyst")
        eng.sql("SET ROLE analyst")
        sel_denied = False
        try:
            eng.sql("SELECT COUNT(*) AS n FROM sec_g").collect()
        except Exception:  # noqa: BLE001 — raise_error surfaces as Py4J
            sel_denied = True
        eng.sql("RESET ROLE")
        out = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM sec_g GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = [
            (r[0], r[1], float(r[2]), upd_denied, sel_denied)
            for r in out.collect()
        ]
        eng.sql("DROP TABLE sec_g PURGE")
        return spark.createDataFrame(
            rows,
            "o_orderstatus STRING, n BIGINT, total DOUBLE,"
            " upd_denied_before_grant BOOLEAN,"
            " sel_denied_after_revoke BOOLEAN",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
