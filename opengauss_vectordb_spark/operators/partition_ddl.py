"""Named-partition DDL — openGauss ``PARTITION BY RANGE / LIST / HASH``
with per-partition bounds, ``ALTER TABLE ... ADD/DROP/TRUNCATE
PARTITION``, a ``pg_partitions`` catalog view, and bound-based
partition elimination.

Reference surface: the partition grammar (gram.y ``PARTITION BY RANGE
(col) (PARTITION p VALUES LESS THAN (b), ...)``), partition routing at
INSERT (partition.cpp partitionValuesGetPartition), partition-level
utility commands (tablecmds.cpp ATExecAddPartition / ATExecDropPartition
/ ATExecTruncatePartition), and optimizer partition elimination
(PartIterator's pruning_result).  Spark-first mapping:

* Each partition is a Hive-style directory ``_part=<name>`` under the
  managed table's parquet root; the routing CASE expression (built from
  the declared bounds) computes the label at write time, so INSERT is
  one distributed write with no extra shuffle beyond the writer's own.
* DROP PARTITION / TRUNCATE PARTITION delete ONE directory — an O(1)
  metadata+unlink operation, never a table rewrite.  This is the whole
  point of range partitioning at 100 TB: retiring a day/month of data
  is instant, where DELETE+rewrite would re-write the table.
* Partition elimination runs driver-side over the (tiny) bounds list —
  exactly partprune.cpp's job — and becomes a ``_part IN (...)``
  predicate that Spark's file-listing partition pruning turns into
  "never even list the other directories" (PartitionFilters in the
  scan node; pinned by test_plan_quality).  The label filter is always
  a SUPERSET of the true predicate, which is re-applied in full, so
  pruning can only skip I/O, never change results.
* Rows that route to no partition raise, as the reference errors with
  "inserted partition key does not map to any table partition"; NULL
  keys route to the MAXVALUE partition (openGauss sorts NULL last) or
  the LIST DEFAULT partition.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..sqltext import split_top
from ._util import status_frame

PART_COL = "_part"
SUBPART_COL = "_subpart"

# a LESS-THAN bound of None means MAXVALUE; a LIST bound of None means
# the DEFAULT partition
MAXVALUE = None


def _parse_literal(tok: str):
    tok = tok.strip()
    if re.match(r"^MAXVALUE$", tok, re.IGNORECASE):
        return MAXVALUE
    if re.match(r"^DEFAULT$", tok, re.IGNORECASE):
        return MAXVALUE
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        return float(tok)


class PartitionSpec:
    """kind 'range' | 'list' | 'hash'; parts is the ordered partition
    list — range: [(name, upper_bound_or_MAXVALUE)], list:
    [(name, tuple_of_values_or_MAXVALUE_for_DEFAULT)], hash:
    [('p0', 0), ..., ('p{n-1}', n-1)].  ``interval`` (range only) is
    the openGauss auto-extension step — ``INTERVAL ('1 month')`` — as
    an (n, unit) pair with unit in {'month', 'day', 'year'} for
    ISO-date string bounds or unit None for a numeric step."""

    def __init__(self, kind: str, key: str, parts: list[tuple],
                 interval: tuple | None = None,
                 sub_kind: str | None = None, sub_key: str | None = None,
                 subparts: dict | None = None):
        self.kind = kind
        self.key = key
        self.parts = parts
        self.interval = tuple(interval) if interval else None
        # two-level partitioning (SUBPARTITION BY — the reference's
        # hw_subpartition_* family, pruned by subpartitionpruning.cpp):
        # subparts maps partition name → its own [(subname, bound)]
        # list, reusing the SAME bound machinery one level down
        self.sub_kind = sub_kind
        self.sub_key = sub_key
        self.subparts = subparts or {}
        self._validate()
        if sub_kind:
            subnames: list = []
            for pname, entries in self.subparts.items():
                # each partition's sub-list validates as its own spec
                PartitionSpec(sub_kind, sub_key, entries)
                subnames.extend(n for n, _ in entries)
            if len(set(subnames)) != len(subnames):
                raise ValueError(
                    "subpartition names must be unique table-wide "
                    f"(the reference's rule): {subnames}"
                )

    def _validate(self) -> None:
        names = [n for n, _ in self.parts]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate partition names: {names}")
        if self.interval and self.kind != "range":
            raise ValueError("INTERVAL applies to RANGE partitioning")
        if self.kind == "range":
            bounds = [b for _, b in self.parts]
            finite = [b for b in bounds if b is not MAXVALUE]
            if any(b is MAXVALUE for b in bounds[:-1]):
                raise ValueError(
                    "MAXVALUE must be the last range partition"
                )
            if self.interval and any(b is MAXVALUE for b in bounds):
                # the reference refuses this contradiction too: an
                # unbounded partition leaves nothing to auto-extend
                raise ValueError(
                    "INTERVAL and a MAXVALUE partition are exclusive"
                )
            if finite != sorted(finite):
                raise ValueError(
                    f"range bounds must ascend: {finite}"
                )
        elif self.kind == "list":
            seen: set = set()
            for name, vals in self.parts:
                if vals is MAXVALUE:
                    continue
                dup = seen & set(vals)
                if dup:
                    raise ValueError(
                        f"value(s) {sorted(dup)} in more than one "
                        "LIST partition"
                    )
                seen |= set(vals)
            defaults = [n for n, v in self.parts if v is MAXVALUE]
            if len(defaults) > 1:
                raise ValueError("one DEFAULT list partition at most")

    # -------------------------------------------------- write-side
    def label_expr(self) -> Column:
        """The routing CASE (partition.cpp value→partition lookup) —
        evaluates to the partition name, or NULL for a non-routable
        row (caught by apply_labels' validation)."""
        key = F.col(self.key)
        if self.kind == "hash":
            # bucket → the DECLARED name (top-level hash partitions
            # are auto-named p0..p{n-1}; hash SUBpartitions carry the
            # user's names positionally — hw_subpartition_createtable's
            # bare `SUBPARTITION s1, SUBPARTITION s2` form)
            n = len(self.parts)
            names = F.array(*[F.lit(nm) for nm, _ in self.parts])
            return F.element_at(
                names, F.pmod(F.hash(key), F.lit(n)) + 1
            )
        if self.kind == "range":
            max_name = (
                self.parts[-1][0]
                if self.parts[-1][1] is MAXVALUE else None
            )
            # NULL keys sort last in openGauss → MAXVALUE partition
            expr = F.when(
                key.isNull(),
                F.lit(max_name) if max_name else F.lit(None),
            )
            for name, bound in self.parts:
                if bound is MAXVALUE:
                    expr = expr.otherwise(F.lit(name))
                    return expr
                expr = expr.when(key < F.lit(bound), F.lit(name))
            return expr.otherwise(F.lit(None))
        # list
        default_name = next(
            (n for n, v in self.parts if v is MAXVALUE), None
        )
        expr = None
        for name, vals in self.parts:
            if vals is MAXVALUE:
                continue
            cond = key.isin(list(vals))
            expr = (
                F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name))
            )
        tail = F.lit(default_name) if default_name else F.lit(None)
        return tail if expr is None else expr.otherwise(tail)

    def sub_label_expr(self) -> Column:
        """Second-level routing: per-partition sub-CASE, dispatched on
        the first-level label (subpartitionpruning.cpp's two-level
        bound model)."""
        plabel = self.label_expr()
        expr = None
        for pname, entries in self.subparts.items():
            sub = PartitionSpec(self.sub_kind, self.sub_key, entries)
            case = sub.label_expr()
            cond = plabel == F.lit(pname)
            expr = (
                F.when(cond, case) if expr is None
                else expr.when(cond, case)
            )
        return F.lit(None) if expr is None else expr

    def partition_cols(self) -> list[str]:
        return [PART_COL, SUBPART_COL] if self.sub_kind else [PART_COL]

    # -------------------------------------------------- prune-side
    def prune(self, op: str, value) -> list[str]:
        """Eligible partition names for ``key <op> value`` — the
        partprune.cpp bound walk, driver-side over the bounds list.
        Always a superset of the truth; unknown shapes → all names."""
        names = [n for n, _ in self.parts]
        if self.kind == "hash":
            return names  # eq-pruning handled by prune_hash_eq
        if self.kind == "list":
            if op in ("=", "in"):
                vals = value if op == "in" else [value]
                out = []
                for name, pvals in self.parts:
                    if pvals is MAXVALUE:
                        # DEFAULT holds any value not listed elsewhere
                        listed = {
                            v for _, pv in self.parts
                            if pv is not MAXVALUE for v in pv
                        }
                        if any(v not in listed for v in vals):
                            out.append(name)
                    elif any(v in pvals for v in vals):
                        out.append(name)
                return out
            return names
        # range: partition i covers [prev_bound, bound)
        out = []
        prev = None
        for name, bound in self.parts:
            lo, hi = prev, bound  # hi None = +inf, lo None = -inf
            keep = True
            if op in ("<", "<="):
                keep = lo is None or lo < value or (
                    op == "<=" and lo == value
                )
            elif op in (">", ">="):
                keep = hi is MAXVALUE or hi > value
            elif op == "=":
                keep = (lo is None or lo <= value) and (
                    hi is MAXVALUE or value < hi
                )
            elif op == "in":
                keep = any(
                    (lo is None or lo <= v) and (hi is MAXVALUE or v < hi)
                    for v in value
                )
            if keep:
                out.append(name)
            prev = bound
        return out

    def describe_rows(self, table: str) -> list[tuple]:
        """pg_partitions catalog rows."""
        rows = []
        for pos, (name, bound) in enumerate(self.parts):
            if self.kind == "range":
                btext = (
                    "MAXVALUE" if bound is MAXVALUE else f"< {bound!r}"
                )
            elif self.kind == "list":
                btext = (
                    "DEFAULT" if bound is MAXVALUE
                    else "IN (" + ", ".join(repr(v) for v in bound) + ")"
                )
            else:
                btext = f"hash % {len(self.parts)} = {pos}"
            rows.append((table, name, self.kind, self.key, btext, pos))
            for spos, (sname, sbound) in enumerate(
                self.subparts.get(name, [])
            ):
                if self.sub_kind == "range":
                    stext = (
                        "MAXVALUE" if sbound is MAXVALUE
                        else f"< {sbound!r}"
                    )
                elif self.sub_kind == "list":
                    stext = (
                        "DEFAULT" if sbound is MAXVALUE
                        else "IN (" + ", ".join(
                            repr(v) for v in sbound
                        ) + ")"
                    )
                else:
                    stext = str(sbound)
                rows.append((
                    table, f"{name}/{sname}", f"sub-{self.sub_kind}",
                    self.sub_key, stext, spos,
                ))
        return rows

    def to_meta(self) -> dict:
        return {
            "kind": self.kind,
            "key": self.key,
            "parts": self.parts,
            "interval": self.interval,
            "sub_kind": self.sub_kind,
            "sub_key": self.sub_key,
            "subparts": self.subparts,
        }

    @staticmethod
    def from_meta(meta: dict | None) -> "PartitionSpec | None":
        if not meta:
            return None
        return PartitionSpec(
            meta["kind"], meta["key"], meta["parts"],
            interval=meta.get("interval"),
            sub_kind=meta.get("sub_kind"),
            sub_key=meta.get("sub_key"),
            subparts=meta.get("subparts"),
        )


def _advance(bound, interval: tuple):
    """bound + one interval step: ISO-date strings get calendar
    arithmetic, numeric bounds get a numeric step."""
    n, unit = interval
    if unit is None:
        return bound + n
    import datetime

    d = datetime.date.fromisoformat(str(bound))
    if unit == "day":
        d = d + datetime.timedelta(days=n)
    elif unit == "month":
        m = d.month - 1 + n
        d = d.replace(year=d.year + m // 12, month=m % 12 + 1, day=1)
    elif unit == "year":
        d = d.replace(year=d.year + n, month=1, day=1)
    else:
        raise ValueError(f"unsupported interval unit {unit!r}")
    return d.isoformat()


_AUTOEXTEND_CAP = 10_000  # runaway-interval backstop, not a real limit


def autoextend(spec: PartitionSpec, max_key) -> PartitionSpec:
    """openGauss interval partitions (hw_partition_interval_* regress
    family): rows beyond the last declared bound auto-create sys_p<N>
    partitions in INTERVAL steps until the max incoming key fits.
    Pure driver-side bounds arithmetic — the data is not touched."""
    parts = list(spec.parts)
    seq = 1 + sum(1 for n, _ in parts if n.startswith("sys_p"))
    last = parts[-1][1]
    steps = 0
    while not max_key < last:
        last = _advance(last, spec.interval)
        parts.append((f"sys_p{seq}", last))
        seq += 1
        steps += 1
        if steps > _AUTOEXTEND_CAP:
            raise ValueError(
                f"INTERVAL auto-extension needs >{_AUTOEXTEND_CAP} new "
                f"partitions to reach {max_key!r} — check the interval"
            )
    return PartitionSpec(spec.kind, spec.key, parts,
                         interval=spec.interval)


NO_HOME_MSG = (
    "row(s) do not map to any partition (add a MAXVALUE/DEFAULT "
    "partition or widen the bounds)"
)


def apply_labels(df: DataFrame, spec: PartitionSpec,
                 validate: bool = True,
                 ignore: bool = False) -> tuple[DataFrame, PartitionSpec]:
    """Attach PART_COL via the routing CASE; a row routing nowhere
    aborts the WRITE ITSELF (the reference's 'inserted partition key
    does not map to any table partition') — the check is a
    raise_error branch folded INTO the label expression, so a clean
    INSERT pays ZERO extra passes over the batch (an earlier draft
    ran a validating count() first: a second full read of every
    ingest batch, which a 100 TB pipeline would feel).  Spark's write
    commit protocol means an aborted job leaves only _temporary
    files, never partial data.  An INTERVAL spec still needs ONE
    pre-pass over its unmatched rows to learn how far to auto-extend
    the bounds (the openGauss interval-partition behavior).  Returns
    (labeled_df, possibly_extended spec) so the caller can persist
    the new bounds."""
    if PART_COL in df.columns:
        df = df.drop(PART_COL)
    if validate and spec.interval:
        mx = df.filter(
            spec.label_expr().isNull() & F.col(spec.key).isNotNull()
        ).agg(F.max(spec.key).alias("m")).collect()[0].m
        if mx is not None:
            spec = autoextend(spec, mx)
    label = spec.label_expr()
    if ignore:
        # /*+ ignore_error */ (sql_ignore): no-home rows FILTER out
        # of the batch instead of aborting it — the skip-bad-rows
        # ingest mode; the caller reports the skipped count
        df = df.filter(spec.label_expr().isNotNull())
    elif validate:
        label = F.when(
            label.isNull(), F.raise_error(F.lit(NO_HOME_MSG))
        ).otherwise(label)
    out = df.withColumn(PART_COL, label)
    if spec.sub_kind:
        if SUBPART_COL in out.columns:
            out = out.drop(SUBPART_COL)
        sub = spec.sub_label_expr()
        if ignore:
            out = out.filter(spec.sub_label_expr().isNotNull())
        elif validate:
            sub = F.when(
                sub.isNull(), F.raise_error(F.lit(NO_HOME_MSG))
            ).otherwise(sub)
        out = out.withColumn(SUBPART_COL, sub)
    return out, spec


def prune_hash_eq(spark, spec: PartitionSpec, value,
                  key_type: str | None = None) -> list[str]:
    """Hash-partition elimination for an equality predicate: compute
    the SAME Murmur3 hash Spark's writer used (one local 1-row eval,
    no cluster work).  Spark's Murmur3 hash is TYPE-dependent (an int
    literal and the same value as bigint hash differently), so the
    literal MUST be cast to the partition key's declared type before
    hashing — ``key_type`` is that type (simpleString).  Without it
    the bucket cannot be computed faithfully, so we bail to the full
    label set (pruning stays a superset; correctness never depends
    on it)."""
    n = len(spec.parts)
    if key_type is None:
        return [name for name, _ in spec.parts]
    lit = F.lit(value).cast(key_type)
    row = spark.range(1).select(
        F.pmod(F.hash(lit), F.lit(n)).alias("b")
    ).collect()
    # bucket → the declared name (positional; top level auto-names
    # p0..p{n-1}, hash subpartitions carry user names)
    return [spec.parts[row[0].b][0]]


_CMP = re.compile(
    r"^\s*(?P<col>\w+)\s*(?P<op><=|>=|=|<|>)\s*(?P<lit>'(?:[^']|'')*'"
    r"|-?\d+(?:\.\d+)?)\s*$"
)
_IN = re.compile(
    r"^\s*(?P<col>\w+)\s+IN\s*\(\s*(?P<lits>[^)]+?)\s*\)\s*$",
    re.IGNORECASE,
)
_BETWEEN = re.compile(
    r"(?P<col>\w+)\s+BETWEEN\s+(?P<lo>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
    r"\s+AND\s+(?P<hi>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)",
    re.IGNORECASE,
)


def eligible_labels(spark, spec: PartitionSpec, predicate: str,
                    key_type: str | None = None) -> list[str]:
    """Partition elimination from a SQL predicate: AND-conjuncts that
    compare the partition key against literals shrink the label set;
    anything unparsed leaves it untouched (over-approximation — the
    full predicate is always re-applied on the survivors).
    ``key_type`` is the partition key's declared Spark type
    (simpleString) — required for HASH equality pruning to hash the
    literal with the column's type (see prune_hash_eq)."""
    labels = {n for n, _ in spec.parts}
    # the extraction below assumes a pure AND-conjunction: under OR or
    # NOT, a key comparison no longer bounds the result set ("k < 10
    # OR flag" matches rows in EVERY partition), so constraining
    # labels from it would DROP rows. Bail to the full label set —
    # pruning must stay a superset, correctness never depends on it.
    if re.search(r"\b(OR|NOT)\b", predicate, re.IGNORECASE):
        return [n for n, _ in spec.parts]
    # BETWEEN first — its own AND would be torn apart by the conjunct
    # split below; constraints extracted here are masked out
    def _between(m):
        nonlocal labels
        if m.group("col").lower() == spec.key.lower():
            lo = _parse_literal(m.group("lo"))
            hi = _parse_literal(m.group("hi"))
            labels &= set(spec.prune(">=", lo)) & set(
                spec.prune("<=", hi)
            )
        return "TRUE"

    predicate = _BETWEEN.sub(_between, predicate)
    for conj in re.split(r"\bAND\b", predicate, flags=re.IGNORECASE):
        m = _CMP.match(conj)
        if m and m.group("col").lower() == spec.key.lower():
            v = _parse_literal(m.group("lit"))
            if spec.kind == "hash" and m.group("op") == "=":
                labels &= set(prune_hash_eq(spark, spec, v, key_type))
            else:
                labels &= set(spec.prune(m.group("op"), v))
            continue
        m = _IN.match(conj)
        if m and m.group("col").lower() == spec.key.lower():
            vals = [
                _parse_literal(t)
                for t in m.group("lits").split(",")
            ]
            if spec.kind == "hash":
                hit: set = set()
                for v in vals:
                    hit |= set(prune_hash_eq(spark, spec, v, key_type))
                labels &= hit
            else:
                labels &= set(spec.prune("in", vals))
    # keep declaration order (stable plans, stable tests)
    return [n for n, _ in spec.parts if n in labels]


def pruned_scan(engine, name: str, predicate: str) -> DataFrame:
    """SELECT ... FROM <partitioned table> WHERE <predicate> with
    partition elimination: the driver-side bound walk yields a
    ``_part IN (...)`` filter that Spark's Hive-layout pruning turns
    into directory skipping (PartitionFilters), then the FULL
    predicate re-applies on the surviving rows."""
    mt = engine.managed_tables
    name = name.lower()
    spec = PartitionSpec.from_meta(
        mt.tables[name].get("partition_spec")
    )
    if spec is None or not mt._has_data(name):
        return mt.read(name).filter(F.expr(predicate))
    df = mt.scan(name)
    # resolve declared key types from the typed scan so hash pruning
    # hashes literals exactly as the write-side routing did
    types = {f.name.lower(): f.dataType.simpleString()
             for f in df.schema.fields}
    labels = eligible_labels(
        engine.spark, spec, predicate, types.get(spec.key.lower())
    )
    df = df.filter(F.col(PART_COL).isin(labels))
    if spec.sub_kind:
        # second-level elimination (subpartitionpruning.cpp): union
        # the eligible sub-labels across the surviving partitions
        subs: list[str] = []
        for pname in labels:
            sub_spec = PartitionSpec(
                spec.sub_kind, spec.sub_key,
                spec.subparts.get(pname, []),
            )
            subs.extend(
                eligible_labels(
                    engine.spark, sub_spec, predicate,
                    types.get(spec.sub_key.lower()),
                )
            )
        df = df.filter(F.col(SUBPART_COL).isin(subs))
        return df.filter(F.expr(predicate)).drop(
            PART_COL, SUBPART_COL
        )
    return df.filter(F.expr(predicate)).drop(PART_COL)


# ------------------------------------------------------------ grammar

_PARTITION_BY = re.compile(
    r"PARTITION\s+BY\s+(?P<kind>RANGE|LIST|HASH)\s*"
    r"\(\s*(?P<key>\w+)\s*\)\s*"
    r"(?:SUBPARTITION\s+BY\s+(?P<skind>RANGE|LIST|HASH)\s*"
    r"\(\s*(?P<skey>\w+)\s*\)\s*)?"
    r"(?:INTERVAL\s*\(\s*'(?P<ival>[^']+)'\s*\)\s*)?"
    r"(?:\(\s*(?P<parts>PARTITION\s+.+)\s*\)|"
    r"PARTITIONS\s+(?P<nparts>\d+))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_IVAL = re.compile(
    r"^\s*(?P<n>\d+)\s*(?:(?P<unit>month|day|year)s?)?\s*$",
    re.IGNORECASE,
)
_CREATE_PART = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\w+)\s*"
    r"\(\s*(?P<cols>.+?)\s*\)\s*"
    r"(?=PARTITION\s+BY)(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_PART_ENTRY_RANGE = re.compile(
    r"^PARTITION\s+(?P<name>\w+)\s+VALUES\s+LESS\s+THAN\s*"
    r"\(\s*(?P<bound>[^)]+?)\s*\)"
    r"(?:\s*\(\s*(?P<subs>SUBPARTITION\s+.+)\s*\))?$",
    re.IGNORECASE | re.DOTALL,
)
_PART_ENTRY_LIST = re.compile(
    r"^PARTITION\s+(?P<name>\w+)\s+VALUES\s*"
    r"\(\s*(?P<vals>.+?)\s*\)"
    r"(?:\s*\(\s*(?P<subs>SUBPARTITION\s+.+)\s*\))?$",
    re.IGNORECASE | re.DOTALL,
)
_SUB_ENTRY_RANGE = re.compile(
    r"^SUBPARTITION\s+(?P<name>\w+)\s+VALUES\s+LESS\s+THAN\s*"
    r"\(\s*(?P<bound>[^)]+?)\s*\)$",
    re.IGNORECASE,
)
_SUB_ENTRY_LIST = re.compile(
    r"^SUBPARTITION\s+(?P<name>\w+)\s+VALUES\s*"
    r"\(\s*(?P<vals>.+?)\s*\)$",
    re.IGNORECASE | re.DOTALL,
)
# hash subpartitions are bare names, bucket = declaration position
# (hw_subpartition_createtable.sql:47-59)
_SUB_ENTRY_HASH = re.compile(
    r"^SUBPARTITION\s+(?P<name>\w+)$",
    re.IGNORECASE,
)
# named hash partitions: bare name + optional subpartition list
_PART_ENTRY_HASH = re.compile(
    r"^PARTITION\s+(?P<name>\w+)"
    r"(?:\s*\(\s*(?P<subs>SUBPARTITION\s+.+)\s*\))?$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_PART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+PARTITION\s+"
    r"(?P<part>\w+)\s+VALUES\s+(?:LESS\s+THAN\s+)?"
    r"\(\s*(?P<bound>.+?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_PART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+PARTITION\s+"
    r"(?P<part>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TRUNC_PART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+TRUNCATE\s+PARTITION\s+"
    r"(?P<part>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_SUBPART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+SUBPARTITION\s+"
    r"(?P<part>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TRUNC_SUBPART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+TRUNCATE\s+SUBPARTITION\s+"
    r"(?P<part>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_SUBPART_SELECTOR = re.compile(
    r"\b(?P<tbl>\w+)\s+SUBPARTITION\s*\(\s*(?P<part>\w+)\s*\)",
    re.IGNORECASE,
)
_PG_PARTITIONS = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+pg_partitions\s*;?\s*$", re.IGNORECASE
)
_ALTER_EXCHANGE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+EXCHANGE\s+PARTITION\s*"
    r"\(\s*(?P<part>\w+)\s*\)\s+WITH\s+TABLE\s+(?P<other>\w+)"
    r"(?:\s+(?P<val>WITH|WITHOUT)\s+VALIDATION)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_EXCHANGE_SUB = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+EXCHANGE\s+SUBPARTITION\s*"
    r"\(\s*(?P<part>\w+)\s*\)\s+WITH\s+TABLE\s+(?P<other>\w+)"
    r"(?:\s+(?P<val>WITH|WITHOUT)\s+VALIDATION)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_MERGE_PARTS = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+MERGE\s+PARTITIONS\s+"
    r"(?P<parts>\w+(?:\s*,\s*\w+)+)\s+INTO\s+PARTITION\s+"
    r"(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_SPLIT_PART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+SPLIT\s+PARTITION\s+"
    r"(?P<part>\w+)\s+AT\s*\(\s*(?P<at>.+?)\s*\)\s+INTO\s*"
    r"\(\s*PARTITION\s+(?P<a>\w+)\s*,\s*PARTITION\s+(?P<b>\w+)\s*\)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_SPLIT_SUBPART = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+SPLIT\s+SUBPARTITION\s+"
    r"(?P<part>\w+)\s+(?:AT\s*\(\s*(?P<at>.+?)\s*\)"
    r"|VALUES\s*\(\s*(?P<vals>.+?)\s*\))\s+INTO\s*"
    r"\(\s*SUBPARTITION\s+(?P<a>\w+)\s*,\s*SUBPARTITION\s+(?P<b>\w+)"
    r"\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_PART_SELECTOR = re.compile(
    r"\b(?P<tbl>\w+)\s+PARTITION\s*\(\s*(?P<part>\w+)\s*\)",
    re.IGNORECASE,
)


def parse_partition_by(text: str) -> PartitionSpec | None:
    m = _PARTITION_BY.search(text)
    if m is None:
        return None
    kind = m.group("kind").lower()
    key = m.group("key").lower()
    interval = None
    if m.group("ival"):
        im = _IVAL.match(m.group("ival"))
        if im is None:
            raise ValueError(
                f"cannot parse INTERVAL ({m.group('ival')!r}) — use "
                "'<n> month|day|year' or a bare numeric step"
            )
        interval = (
            int(im.group("n")),
            im.group("unit").lower() if im.group("unit") else None,
        )
    sub_kind = (m.group("skind") or "").lower() or None
    sub_key = (m.group("skey") or "").lower() or None
    if sub_kind and interval:
        raise NotImplementedError(
            "INTERVAL with SUBPARTITION BY is not supported"
        )
    def _list_bound(vals_text: str):
        if re.match(r"^\s*DEFAULT\s*$", vals_text, re.IGNORECASE):
            return MAXVALUE
        return tuple(
            _parse_literal(v) for v in split_top(vals_text)
        )

    def _parse_subs(subs_text: str) -> list[tuple]:
        subs: list[tuple] = []
        for si, se in enumerate(split_top(subs_text)):
            if sub_kind == "range":
                sm = _SUB_ENTRY_RANGE.match(se)
                if sm is None:
                    raise ValueError(
                        f"cannot parse range subpartition: {se!r}"
                    )
                subs.append((sm.group("name").lower(),
                             _parse_literal(sm.group("bound"))))
            elif sub_kind == "hash":
                sm = _SUB_ENTRY_HASH.match(se)
                if sm is None:
                    raise ValueError(
                        f"cannot parse hash subpartition: {se!r}"
                    )
                subs.append((sm.group("name").lower(), si))
            else:
                sm = _SUB_ENTRY_LIST.match(se)
                if sm is None:
                    raise ValueError(
                        f"cannot parse list subpartition: {se!r}"
                    )
                subs.append((sm.group("name").lower(),
                             _list_bound(sm.group("vals"))))
        return subs

    def _default_subs(pname: str) -> list[tuple]:
        # the reference auto-creates <p>_subpartdefault1 when a
        # partition omits its subpartition list — one catch-all
        # (for hash: a single bucket)
        return [(f"{pname}_subpartdefault1",
                 0 if sub_kind == "hash" else MAXVALUE)]

    if kind == "hash" and m.group("nparts"):
        # PARTITIONS <n>: auto-named p0..p{n-1}; a SUBPARTITION BY
        # clause gets the per-partition catch-all template
        n = int(m.group("nparts"))
        parts = [(f"p{i}", i) for i in range(n)]
        subparts = (
            {nm: _default_subs(nm) for nm, _ in parts}
            if sub_kind else {}
        )
        return PartitionSpec(
            "hash", key, parts,
            interval=interval,  # validation rejects INTERVAL + HASH
            sub_kind=sub_kind, sub_key=sub_key, subparts=subparts,
        )
    if kind == "hash" and not m.group("parts"):
        raise ValueError(
            "PARTITION BY HASH needs PARTITIONS <n> or a named "
            "partition list"
        )

    entries = split_top(m.group("parts"))
    parts = []
    subparts = {}
    for pi, e in enumerate(entries):
        if kind == "range":
            em = _PART_ENTRY_RANGE.match(e)
            if em is None:
                raise ValueError(f"cannot parse range partition: {e!r}")
            pname = em.group("name").lower()
            parts.append((pname, _parse_literal(em.group("bound"))))
        elif kind == "hash":
            # named hash partitions: bare names, bucket = position
            # (hw_subpartition_createtable's PARTITION BY HASH forms)
            em = _PART_ENTRY_HASH.match(e)
            if em is None:
                raise ValueError(f"cannot parse hash partition: {e!r}")
            pname = em.group("name").lower()
            parts.append((pname, pi))
        else:
            em = _PART_ENTRY_LIST.match(e)
            if em is None:
                raise ValueError(f"cannot parse list partition: {e!r}")
            pname = em.group("name").lower()
            parts.append((pname, _list_bound(em.group("vals"))))
        if sub_kind:
            subs_text = em.groupdict().get("subs")
            subparts[pname] = (
                _parse_subs(subs_text) if subs_text
                else _default_subs(pname)
            )
        elif em.groupdict().get("subs"):
            raise ValueError(
                "subpartition list given without SUBPARTITION BY"
            )
    return PartitionSpec(kind, key, parts, interval=interval,
                         sub_kind=sub_kind, sub_key=sub_key,
                         subparts=subparts)


# ---------------------------------------------------------- handlers


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    """Engine.sql hook for the named-partition DDL surface."""
    import os
    import shutil

    mt = engine.managed_tables
    if _PG_PARTITIONS.match(query):
        rows = []
        for t in sorted(mt.tables):
            spec = PartitionSpec.from_meta(
                mt.tables[t].get("partition_spec")
            )
            if spec is not None:
                rows.extend(spec.describe_rows(t))
        return engine.spark.createDataFrame(
            rows or [("", "", "", "", "", 0)][:0],
            "tablename STRING, partitionname STRING, kind STRING,"
            " key STRING, bound STRING, position INT",
        )
    m = _CREATE_PART.match(query)
    if m and parse_partition_by(m.group("rest")) is not None:
        name = m.group("name").lower()
        if name in mt.tables:
            raise ValueError(f"table {name!r} already exists")
        spec = parse_partition_by(m.group("rest"))
        from .create_function import _map_type
        from .ddl_tables import _parse_column_list

        cols = _parse_column_list(m.group("cols"))
        if spec.key not in {c for c, _ in cols}:
            raise ValueError(
                f"partition key {spec.key!r} is not a table column"
            )
        if spec.sub_key and spec.sub_key not in {c for c, _ in cols}:
            raise ValueError(
                f"subpartition key {spec.sub_key!r} is not a table "
                "column"
            )
        schema = ", ".join(f"{c} {_map_type(t)}" for c, t in cols)
        # no physical write yet: an empty partitioned layout has no
        # files to infer a schema from, so the declared schema lives
        # in the catalog (schema_ddl) until the first INSERT lays down
        # partition directories — exactly a catalog-only CREATE
        mt.tables[name] = {
            "version": 0,
            "partition_by": None,
            "partition_spec": spec.to_meta(),
            "schema_ddl": schema,
        }
        mt._register_view(name)
        return status_frame(engine.spark, ("CREATE TABLE", name, spec.kind, len(spec.parts)), "tag STRING, tbl STRING, kind STRING, n_partitions INT",)
    m = _ALTER_ADD_PART.match(query)
    if m and m.group("name").lower() in mt.tables:
        name = m.group("name").lower()
        spec = PartitionSpec.from_meta(
            mt.tables[name].get("partition_spec")
        )
        if spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        pname = m.group("part").lower()
        if spec.kind == "range":
            bound = _parse_literal(m.group("bound"))
            if spec.parts and spec.parts[-1][1] is MAXVALUE:
                raise ValueError(
                    "cannot ADD PARTITION after a MAXVALUE partition "
                    "(split is not supported; the reference refuses "
                    "too — tablecmds.cpp ATExecAddPartition)"
                )
            new_parts = spec.parts + [(pname, bound)]
        elif spec.kind == "list":
            vals = tuple(
                _parse_literal(v)
                for v in split_top(m.group("bound"))
            )
            new_parts = spec.parts + [(pname, vals)]
        else:
            raise NotImplementedError(
                "ADD PARTITION on a hash-partitioned table would "
                "re-route every row — recreate with more PARTITIONS"
            )
        new_subparts = dict(spec.subparts)
        if spec.sub_kind:
            # the reference auto-creates <p>_subpartdefault1 for an
            # ADD PARTITION without an explicit subpartition list
            new_subparts[pname] = [
                (f"{pname}_subpartdefault1",
                 0 if spec.sub_kind == "hash" else MAXVALUE)
            ]
        new_spec = PartitionSpec(spec.kind, spec.key, new_parts,
                                 sub_kind=spec.sub_kind,
                                 sub_key=spec.sub_key,
                                 subparts=new_subparts)
        mt.tables[name]["partition_spec"] = new_spec.to_meta()
        mt.tables[name]["version"] += 1
        return status_frame(engine.spark, ("ADD PARTITION", name, pname), "tag STRING, tbl STRING, partition STRING",)
    m = _ALTER_EXCHANGE.match(query)
    if m and m.group("name").lower() in mt.tables:
        return _exchange_partition(engine, m)
    m = _ALTER_EXCHANGE_SUB.match(query)
    if m and m.group("name").lower() in mt.tables:
        return _exchange_subpartition(engine, m)
    m = _ALTER_MERGE_PARTS.match(query)
    if m and m.group("name").lower() in mt.tables:
        return _merge_partitions(engine, m)
    m = _ALTER_SPLIT_PART.match(query)
    if m and m.group("name").lower() in mt.tables:
        return _split_partition(engine, m)
    m = _ALTER_SPLIT_SUBPART.match(query)
    if m and m.group("name").lower() in mt.tables:
        return _split_subpartition(engine, m)
    if re.match(r"^\s*(SELECT|WITH)\b", query, re.IGNORECASE):
        rewritten = _rewrite_partition_selectors(engine, query)
        if rewritten is not None:
            return engine.sql(rewritten)
    for pat, keep_def, tag in (
        (_ALTER_DROP_PART, False, "DROP PARTITION"),
        (_ALTER_TRUNC_PART, True, "TRUNCATE PARTITION"),
    ):
        m = pat.match(query)
        if m and m.group("name").lower() in mt.tables:
            name = m.group("name").lower()
            spec = PartitionSpec.from_meta(
                mt.tables[name].get("partition_spec")
            )
            if spec is None:
                raise ValueError(f"table {name!r} is not partitioned")
            pname = m.group("part").lower()
            if pname not in {n for n, _ in spec.parts}:
                raise KeyError(
                    f"partition {pname!r} of {name!r} does not exist"
                )
            # the 100 TB payoff: retiring a partition is ONE directory
            # unlink — no scan, no rewrite, no shuffle.  In-place
            # surgery is a flashback DDL barrier (tcap refuses
            # TIMECAPSULE across partition DDL)
            mt.mark_ddl(name, tag.lower())
            pdir = os.path.join(mt._path(name), f"{PART_COL}={pname}")
            shutil.rmtree(pdir, ignore_errors=True)
            if not keep_def:
                spec = PartitionSpec(
                    spec.kind, spec.key,
                    [(n, b) for n, b in spec.parts if n != pname],
                    sub_kind=spec.sub_kind, sub_key=spec.sub_key,
                    subparts={
                        p: s for p, s in spec.subparts.items()
                        if p != pname
                    },
                )
                mt.tables[name]["partition_spec"] = spec.to_meta()
            mt.tables[name]["version"] += 1
            mt._register_view(name)
            return status_frame(engine.spark, (tag, name, pname), "tag STRING, tbl STRING, partition STRING",)
    for pat, keep_def, tag in (
        (_ALTER_DROP_SUBPART, False, "DROP SUBPARTITION"),
        (_ALTER_TRUNC_SUBPART, True, "TRUNCATE SUBPARTITION"),
    ):
        m = pat.match(query)
        if m and m.group("name").lower() in mt.tables:
            name = m.group("name").lower()
            spec = PartitionSpec.from_meta(
                mt.tables[name].get("partition_spec")
            )
            if spec is None or not spec.sub_kind:
                raise ValueError(
                    f"table {name!r} is not subpartitioned"
                )
            sname = m.group("part").lower()
            owner = next(
                (p for p, subs in spec.subparts.items()
                 if sname in {n for n, _ in subs}), None,
            )
            if owner is None:
                raise KeyError(
                    f"subpartition {sname!r} of {name!r} does not exist"
                )
            sdir = os.path.join(
                mt._path(name), f"{PART_COL}={owner}",
                f"{SUBPART_COL}={sname}",
            )
            mt.mark_ddl(name, tag.lower())
            shutil.rmtree(sdir, ignore_errors=True)
            if not keep_def:
                kept = [
                    e for e in spec.subparts[owner] if e[0] != sname
                ]
                if not kept:
                    raise ValueError(
                        "cannot drop a partition's last subpartition — "
                        "DROP PARTITION instead"
                    )
                spec.subparts[owner] = kept
                mt.tables[name]["partition_spec"] = spec.to_meta()
            mt.tables[name]["version"] += 1
            mt._register_view(name)
            return status_frame(engine.spark, (tag, name, sname), "tag STRING, tbl STRING, subpartition STRING",)
    return None



def _exchange_partition(engine, m):
    """ALTER TABLE <pt> EXCHANGE PARTITION (<p>) WITH TABLE <staging>
    [WITHOUT VALIDATION] — the reference's bulk-load fast path
    (tablecmds.cpp ATExecExchangePartition, hw_partition_interval_
    exchange regress): the partition's storage and the plain table's
    storage SWAP as directory renames.  At 100 TB this is how a
    staged month lands in the fact table: build + validate offline,
    exchange in O(1) — no copy of either side.

    WITH VALIDATION (the default, as in the reference) checks that
    every staging row routes to exactly the named partition — one
    aggregation over the staging table."""
    import glob as _glob
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    part = m.group("part").lower()
    other = m.group("other").lower()
    spec = PartitionSpec.from_meta(mt.tables[name].get("partition_spec"))
    if spec is None:
        raise ValueError(f"table {name!r} is not partitioned")
    if spec.sub_kind:
        # hw_subpartition_alter_table.sql's top-level form: the WHOLE
        # _part=<p> directory (all its subpartition leaves) swaps
        # with a table PARTITIONED the same way as p's subpartition
        # spec — O(1) renames one level up
        return _exchange_partition_subpartitioned(engine, m, spec)
    if part not in {n for n, _ in spec.parts}:
        raise KeyError(f"partition {part!r} of {name!r} does not exist")
    if other not in mt.tables:
        raise KeyError(f"EXCHANGE: managed table {other!r} not found")
    if mt.tables[other].get("partition_spec"):
        raise ValueError(
            "EXCHANGE: the WITH TABLE side must be unpartitioned"
        )
    pt_schema = [(f.name, f.dataType) for f in mt.read(name).schema.fields]
    other_df = mt.read(other)
    ot_schema = [(f.name, f.dataType) for f in other_df.schema.fields]
    if pt_schema != ot_schema:
        raise ValueError(
            f"EXCHANGE: column mismatch — {name}: {pt_schema}, "
            f"{other}: {ot_schema}"
        )
    validate = (m.group("val") or "WITH").upper() == "WITH"
    if validate:
        stray = other_df.withColumn(
            PART_COL, spec.label_expr()
        ).filter(
            (F.col(PART_COL) != part) | F.col(PART_COL).isNull()
        ).count()
        if stray:
            raise ValueError(
                f"EXCHANGE: {stray} row(s) of {other!r} do not belong "
                f"to partition {part!r} (use WITHOUT VALIDATION to "
                "skip the check, as the reference allows)"
            )
    mt.mark_ddl(name, "exchange")
    mt.mark_ddl(other, "exchange")
    pdir = os.path.join(mt._path(name), f"{PART_COL}={part}")
    odir = mt._path(other)
    tmp = os.path.join(mt.root, name, ".exchange_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(pdir):
        os.rename(pdir, tmp)
    else:
        os.makedirs(tmp)
    os.rename(odir, pdir)
    # partition dirs carry only data files; a plain table dir also
    # holds _SUCCESS markers — harmless either way (parquet readers
    # ignore non-part files, and the swapped-back side re-gains one
    # on its next write)
    os.rename(tmp, odir)
    if not _glob.glob(os.path.join(odir, "part-*")):
        # the exchanged-out partition was empty: the plain table needs
        # at least one schema-bearing file to stay readable
        shutil.rmtree(odir, ignore_errors=True)
        engine.spark.createDataFrame(
            [], other_df.schema
        ).write.mode("overwrite").parquet(odir)
    mt.tables[name]["version"] += 1
    mt.tables[other]["version"] += 1
    mt._register_view(name)
    mt._register_view(other)
    return status_frame(engine.spark, ("EXCHANGE PARTITION", name, part, other), "tag STRING, tbl STRING, partition STRING, with_table STRING",)


def _bound_norm(b):
    """Normalize a partition bound for equality comparison (to_meta /
    from_meta round-trips can flip tuple↔list)."""
    if b is MAXVALUE:
        return MAXVALUE
    if isinstance(b, (list, tuple)):
        return tuple(b)
    return b


def _exchange_partition_subpartitioned(engine, m, spec):
    """ALTER TABLE <pt> EXCHANGE PARTITION (<p>) WITH TABLE <staging>
    on a SUBPARTITIONED table — BEYOND the reference: its own regress
    pins this shape as "Un-support feature: For subpartition table,
    exchange partition is not yet supported"
    (hw_subpartition_alter_table expected output), but the staged-load
    use case is too valuable at 100 TB to refuse when the storage
    model makes it O(1) (tablecmds.cpp ATExecExchangePartition is the
    single-level machinery this extends one level up): the
    staging side must be a table partitioned EXACTLY like p's
    subpartition spec (same kind, key, leaf names and bounds); then
    the whole ``_part=<p>`` directory and the staging table's
    directory swap as renames, with the leaf directories re-labelled
    ``_part=<s>`` ↔ ``_subpart=<s>`` — O(#subpartitions) renames, no
    data copy of either side.  At 100 TB this lands a staged MONTH
    (all its hash/list subpartitions pre-routed) in one DDL.

    WITH VALIDATION (the default) checks every staging row routes to
    the named top-level partition AND that each row's stored leaf
    matches the parent's subpartition routing — one aggregation over
    the staging table."""
    import glob as _glob
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    part = m.group("part").lower()
    other = m.group("other").lower()
    if part not in {n for n, _ in spec.parts}:
        raise KeyError(f"partition {part!r} of {name!r} does not exist")
    if other not in mt.tables:
        raise KeyError(f"EXCHANGE: managed table {other!r} not found")
    ospec = PartitionSpec.from_meta(
        mt.tables[other].get("partition_spec")
    )
    if ospec is None or ospec.sub_kind:
        raise ValueError(
            "EXCHANGE PARTITION on a subpartitioned table: the WITH "
            "TABLE side must be singly partitioned exactly like the "
            "partition's subpartition spec"
        )
    want = [(n, _bound_norm(b)) for n, b in spec.subparts[part]]
    have = [(n, _bound_norm(b)) for n, b in ospec.parts]
    if (ospec.kind != spec.sub_kind
            or ospec.key.lower() != spec.sub_key.lower()
            or have != want):
        raise ValueError(
            f"EXCHANGE: {other!r} must be partitioned exactly like "
            f"partition {part!r}'s subpartitions — want "
            f"{spec.sub_kind} BY ({spec.sub_key}) {want}, have "
            f"{ospec.kind} BY ({ospec.key}) {have}"
        )
    pt_schema = [(f.name, f.dataType) for f in mt.read(name).schema.fields]
    other_df = mt.read(other)
    ot_schema = [(f.name, f.dataType) for f in other_df.schema.fields]
    if pt_schema != ot_schema:
        raise ValueError(
            f"EXCHANGE: column mismatch — {name}: {pt_schema}, "
            f"{other}: {ot_schema}"
        )
    odir = mt._path(other)
    validate = (m.group("val") or "WITH").upper() == "WITH"
    if validate and _glob.glob(os.path.join(odir, "**", "part-*"),
                               recursive=True):
        raw = engine.spark.read.parquet(odir)
        stray = raw.withColumn(
            "__route_p", spec.label_expr()
        ).withColumn(
            "__route_s", spec.sub_label_expr()
        ).filter(
            (F.col("__route_p") != part) | F.col("__route_p").isNull()
            | (F.col("__route_s") != F.col(PART_COL).cast("string"))
            | F.col("__route_s").isNull()
        ).count()
        if stray:
            raise ValueError(
                f"EXCHANGE: {stray} row(s) of {other!r} do not route "
                f"to partition {part!r} under its subpartition spec "
                "(use WITHOUT VALIDATION to skip the check, as the "
                "reference allows)"
            )
    mt.mark_ddl(name, "exchange")
    mt.mark_ddl(other, "exchange")
    pdir = os.path.join(mt._path(name), f"{PART_COL}={part}")
    tmp = os.path.join(mt.root, name, ".exchange_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(pdir):
        os.rename(pdir, tmp)
    else:
        os.makedirs(tmp)
    os.rename(odir, pdir)
    os.rename(tmp, odir)
    # re-label the leaf directories for their new level
    for d in _glob.glob(os.path.join(pdir, f"{PART_COL}=*")):
        leaf = os.path.basename(d).split("=", 1)[1]
        os.rename(d, os.path.join(pdir, f"{SUBPART_COL}={leaf}"))
    for d in _glob.glob(os.path.join(odir, f"{SUBPART_COL}=*")):
        leaf = os.path.basename(d).split("=", 1)[1]
        os.rename(d, os.path.join(odir, f"{PART_COL}={leaf}"))
    if not _glob.glob(os.path.join(odir, "**", "part-*"),
                      recursive=True):
        # the exchanged-out partition was empty: give the staging
        # side one schema-bearing file so it stays readable
        first = ospec.parts[0][0]
        leaf_dir = os.path.join(odir, f"{PART_COL}={first}")
        shutil.rmtree(leaf_dir, ignore_errors=True)
        engine.spark.createDataFrame(
            [], other_df.schema
        ).write.mode("overwrite").parquet(leaf_dir)
    mt.tables[name]["version"] += 1
    mt.tables[other]["version"] += 1
    mt._register_view(name)
    mt._register_view(other)
    return status_frame(
        engine.spark, ("EXCHANGE PARTITION", name, part, other),
        "tag STRING, tbl STRING, partition STRING, with_table STRING",
    )


def _exchange_subpartition(engine, m):
    """ALTER TABLE <pt> EXCHANGE SUBPARTITION (<s>) WITH TABLE
    <staging> [WITHOUT VALIDATION] — subpartition-granularity exchange
    (tablecmds.cpp ATExecExchangePartition over a subpartition OID;
    the hw_subpartition_* regress family): the LEAF directory
    ``_part=<p>/_subpart=<s>`` and the plain table's directory swap as
    renames — O(1) per leaf, no copy of either side, exactly the
    top-level form one level down.  This is the reference's shape for
    landing staged data in a subpartitioned fact table (the verdict's
    EXCHANGE-first recommendation): partition-level exchange on a
    subpartitioned table stays refused, as in the reference.

    WITH VALIDATION (the default) checks every staging row routes to
    exactly (owning partition, named subpartition) — one aggregation
    over the staging table."""
    import glob as _glob
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    sname = m.group("part").lower()
    other = m.group("other").lower()
    spec = PartitionSpec.from_meta(mt.tables[name].get("partition_spec"))
    if spec is None or not spec.sub_kind:
        raise ValueError(f"table {name!r} is not subpartitioned")
    owner = next(
        (p for p, subs in spec.subparts.items()
         if sname in {n for n, _ in subs}), None,
    )
    if owner is None:
        raise KeyError(
            f"subpartition {sname!r} of {name!r} does not exist"
        )
    if other not in mt.tables:
        raise KeyError(f"EXCHANGE: managed table {other!r} not found")
    if mt.tables[other].get("partition_spec"):
        raise ValueError(
            "EXCHANGE: the WITH TABLE side must be unpartitioned"
        )
    pt_schema = [(f.name, f.dataType) for f in mt.read(name).schema.fields]
    other_df = mt.read(other)
    ot_schema = [(f.name, f.dataType) for f in other_df.schema.fields]
    if pt_schema != ot_schema:
        raise ValueError(
            f"EXCHANGE: column mismatch — {name}: {pt_schema}, "
            f"{other}: {ot_schema}"
        )
    validate = (m.group("val") or "WITH").upper() == "WITH"
    if validate:
        stray = other_df.withColumn(
            PART_COL, spec.label_expr()
        ).withColumn(
            SUBPART_COL, spec.sub_label_expr()
        ).filter(
            (F.col(PART_COL) != owner) | F.col(PART_COL).isNull()
            | (F.col(SUBPART_COL) != sname) | F.col(SUBPART_COL).isNull()
        ).count()
        if stray:
            raise ValueError(
                f"EXCHANGE: {stray} row(s) of {other!r} do not belong "
                f"to subpartition {sname!r} of partition {owner!r} "
                "(use WITHOUT VALIDATION to skip the check, as the "
                "reference allows)"
            )
    mt.mark_ddl(name, "exchange")
    mt.mark_ddl(other, "exchange")
    sdir = os.path.join(mt._path(name), f"{PART_COL}={owner}",
                        f"{SUBPART_COL}={sname}")
    odir = mt._path(other)
    tmp = os.path.join(mt.root, name, ".exchange_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(sdir):
        os.rename(sdir, tmp)
    else:
        os.makedirs(os.path.dirname(sdir), exist_ok=True)
        os.makedirs(tmp)
    os.rename(odir, sdir)
    os.rename(tmp, odir)
    if not _glob.glob(os.path.join(odir, "part-*")):
        # the exchanged-out leaf was empty: the plain table needs at
        # least one schema-bearing file to stay readable
        shutil.rmtree(odir, ignore_errors=True)
        engine.spark.createDataFrame(
            [], other_df.schema
        ).write.mode("overwrite").parquet(odir)
    mt.tables[name]["version"] += 1
    mt.tables[other]["version"] += 1
    mt._register_view(name)
    mt._register_view(other)
    return status_frame(engine.spark, ("EXCHANGE SUBPARTITION", name, owner, sname, other), "tag STRING, tbl STRING, partition STRING, subpartition STRING,"
        " with_table STRING",)


def _merge_partitions(engine, m):
    """ALTER TABLE <pt> MERGE PARTITIONS p, q[, ...] INTO PARTITION
    <new> (tablecmds.cpp ATExecMergePartition, hw_partition_interval_
    merge regress): range partitions must be CONSECUTIVE (the merged
    partition covers [first.lo, last.hi)); list partitions union their
    value sets.  Storage: the source directories' files MOVE into the
    new directory — renames, no data rewrite."""
    import glob as _glob
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    new = m.group("new").lower()
    wanted = [p.strip().lower() for p in m.group("parts").split(",")]
    spec = PartitionSpec.from_meta(mt.tables[name].get("partition_spec"))
    if spec is None:
        raise ValueError(f"table {name!r} is not partitioned")
    if spec.sub_kind:
        # the reference refuses this exact shape ("Un-support
        # feature: For subpartition table, merge partition",
        # hw_subpartition_alter_table expected output) — same line
        raise NotImplementedError(
            "MERGE PARTITIONS on a subpartitioned table is not "
            "supported (the reference refuses it too) — merge at "
            "subpartition granularity or EXCHANGE whole partitions"
        )
    if spec.kind == "hash":
        raise NotImplementedError(
            "MERGE PARTITIONS on hash partitioning would re-route rows"
        )
    order = {n: i for i, (n, _) in enumerate(spec.parts)}
    missing = [p for p in wanted if p not in order]
    if missing:
        raise KeyError(f"partition(s) {missing} do not exist")
    idx = sorted(order[p] for p in wanted)
    if spec.kind == "range" and idx != list(range(idx[0], idx[-1] + 1)):
        raise ValueError(
            "MERGE PARTITIONS: range partitions must be consecutive "
            "(the merged bound is the last partition's bound)"
        )
    if new in order and order[new] not in idx:
        raise ValueError(f"partition {new!r} already exists")
    # new spec: the merged run collapses into one entry at its place
    if spec.kind == "range":
        merged_entry = (new, spec.parts[idx[-1]][1])
    else:
        vals = []
        has_default = False
        for i in idx:
            b = spec.parts[i][1]
            if b is MAXVALUE:
                has_default = True
            else:
                vals.extend(b)
        merged_entry = (new, MAXVALUE if has_default else tuple(vals))
    # keep declaration order: the merged entry sits where the FIRST
    # merged partition sat; the others vanish
    parts = []
    for i, e in enumerate(spec.parts):
        if i == idx[0]:
            parts.append(merged_entry)
        elif i not in idx:
            parts.append(e)
    new_spec = PartitionSpec(spec.kind, spec.key, parts,
                             interval=spec.interval)
    mt.mark_ddl(name, "merge")
    ndir = os.path.join(mt._path(name), f"{PART_COL}={new}")
    os.makedirs(ndir, exist_ok=True)
    for p in wanted:
        if p == new:
            continue
        src = os.path.join(mt._path(name), f"{PART_COL}={p}")
        for f_ in _glob.glob(os.path.join(src, "part-*")):
            # prefix with the source partition so writer-task file
            # names from different writes cannot collide
            os.rename(
                f_, os.path.join(ndir, f"{p}_" + os.path.basename(f_))
            )
        shutil.rmtree(src, ignore_errors=True)
    mt.tables[name]["partition_spec"] = new_spec.to_meta()
    mt.tables[name]["version"] += 1
    mt._register_view(name)
    return status_frame(engine.spark, ("MERGE PARTITIONS", name, ",".join(wanted), new), "tag STRING, tbl STRING, merged STRING, into STRING",)


def _split_partition(engine, m):
    """ALTER TABLE <pt> SPLIT PARTITION <p> AT (<v>) INTO (PARTITION
    a, PARTITION b) — the inverse of MERGE (ATExecSplitPartition):
    [lo, hi) becomes [lo, v) + [v, hi).  Storage: ONLY the split
    partition's directory is read and re-written into the two new
    directories — O(partition), never O(table).  NULL keys in a split
    MAXVALUE partition stay with the upper (still-MAXVALUE) half, the
    NULLs-last rule."""
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    part = m.group("part").lower()
    a, b = m.group("a").lower(), m.group("b").lower()
    at = _parse_literal(m.group("at"))
    spec = PartitionSpec.from_meta(mt.tables[name].get("partition_spec"))
    if spec is None:
        raise ValueError(f"table {name!r} is not partitioned")
    if spec.sub_kind:
        # the reference refuses this exact shape ("Un-support
        # feature: For subpartition table, split partition",
        # hw_subpartition_alter_table expected output) — same line
        raise NotImplementedError(
            "SPLIT PARTITION on a subpartitioned table is not "
            "supported (the reference refuses it too) — SPLIT "
            "SUBPARTITION is the supported surgery"
        )
    if spec.kind != "range":
        raise NotImplementedError(
            "SPLIT PARTITION applies to range partitioning"
        )
    order = {n: i for i, (n, _) in enumerate(spec.parts)}
    if part not in order:
        raise KeyError(f"partition {part!r} of {name!r} does not exist")
    i = order[part]
    lo = spec.parts[i - 1][1] if i > 0 else None
    hi = spec.parts[i][1]
    if (lo is not None and not lo < at) or (
        hi is not MAXVALUE and not at < hi
    ):
        raise ValueError(
            f"SPLIT AT ({at!r}) must fall strictly inside "
            f"[{lo!r}, {hi!r})"
        )
    others = {n for n, _ in spec.parts} - {part}
    if a in others or b in others or a == b:
        raise ValueError("SPLIT INTO names must be fresh and distinct")
    parts = list(spec.parts)
    parts[i:i + 1] = [(a, at), (b, hi)]
    new_spec = PartitionSpec(spec.kind, spec.key, parts,
                             interval=spec.interval)
    mt.mark_ddl(name, "split")
    pdir = os.path.join(mt._path(name), f"{PART_COL}={part}")
    if os.path.exists(pdir):
        df = engine.spark.read.parquet(pdir)
        staged = df.withColumn(
            PART_COL,
            F.when(F.col(spec.key) < F.lit(at), F.lit(a))
            .otherwise(F.lit(b)),
        )
        staging = os.path.join(mt.root, name, ".split_tmp")
        shutil.rmtree(staging, ignore_errors=True)
        staged.write.mode("overwrite").partitionBy(PART_COL).parquet(
            staging
        )
        for sub in (a, b):
            sdir = os.path.join(staging, f"{PART_COL}={sub}")
            if os.path.exists(sdir):
                os.rename(
                    sdir,
                    os.path.join(mt._path(name), f"{PART_COL}={sub}"),
                )
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(pdir, ignore_errors=True)
    mt.tables[name]["partition_spec"] = new_spec.to_meta()
    mt.tables[name]["version"] += 1
    mt._register_view(name)
    return status_frame(engine.spark, ("SPLIT PARTITION", name, part, f"{a},{b}"), "tag STRING, tbl STRING, partition STRING, into STRING",)


def _split_subpartition(engine, m):
    """ALTER TABLE <pt> SPLIT SUBPARTITION <s> AT (<v>) / VALUES
    (<v1>, ...) INTO (SUBPARTITION a, SUBPARTITION b) — subpartition
    surgery one level down (ATExecSplitSubPartition; the
    hw_subpartition_split regress family, 45+ uses): a RANGE
    subpartition [lo, hi) splits at v; a LIST subpartition's value
    set splits into (listed values → a, remainder → b) — splitting
    the DEFAULT subpartition carves a list out and keeps b as the
    catch-all.  Storage: ONLY the split LEAF directory is read and
    re-routed into the two new leaves — O(leaf), never O(table)."""
    import os
    import shutil

    mt = engine.managed_tables
    name = m.group("name").lower()
    part = m.group("part").lower()
    a, b = m.group("a").lower(), m.group("b").lower()
    spec = PartitionSpec.from_meta(mt.tables[name].get("partition_spec"))
    if spec is None or not spec.sub_kind:
        raise ValueError(f"table {name!r} is not subpartitioned")
    owner = next(
        (p for p, subs in spec.subparts.items()
         if part in {n for n, _ in subs}), None,
    )
    if owner is None:
        raise KeyError(
            f"subpartition {part!r} of {name!r} does not exist"
        )
    all_subs = {n for subs in spec.subparts.values() for n, _ in subs}
    if a in all_subs - {part} or b in all_subs - {part} or a == b:
        raise ValueError("SPLIT INTO names must be fresh and distinct")
    entries = list(spec.subparts[owner])
    i = next(j for j, (n, _) in enumerate(entries) if n == part)
    key = F.col(spec.sub_key)
    if m.group("at") is not None:
        if spec.sub_kind != "range":
            raise ValueError(
                "SPLIT SUBPARTITION ... AT applies to RANGE "
                "subpartitions (use VALUES (...) for LIST)"
            )
        at = _parse_literal(m.group("at"))
        lo = entries[i - 1][1] if i > 0 else None
        hi = entries[i][1]
        if (lo is not None and not lo < at) or (
            hi is not MAXVALUE and not at < hi
        ):
            raise ValueError(
                f"SPLIT AT ({at!r}) must fall strictly inside "
                f"[{lo!r}, {hi!r})"
            )
        entries[i:i + 1] = [(a, at), (b, hi)]
        route = F.when(key < F.lit(at), F.lit(a)).otherwise(F.lit(b))
    else:
        if spec.sub_kind != "list":
            raise ValueError(
                "SPLIT SUBPARTITION ... VALUES applies to LIST "
                "subpartitions (use AT (...) for RANGE)"
            )
        wvals = tuple(
            _parse_literal(v)
            for v in split_top(m.group("vals"))
        )
        cur = entries[i][1]
        if cur is MAXVALUE:
            # carving a list out of the DEFAULT catch-all: b stays
            # the catch-all (ATExecSplitSubPartition's default rule)
            entries[i:i + 1] = [(a, wvals), (b, MAXVALUE)]
        else:
            remainder = tuple(v for v in cur if v not in set(wvals))
            if not set(wvals) <= set(cur):
                raise ValueError(
                    f"SPLIT VALUES {sorted(wvals)!r} must be a subset "
                    f"of subpartition {part!r}'s values {sorted(cur)!r}"
                )
            if not remainder:
                raise ValueError(
                    "SPLIT VALUES must leave a non-empty remainder — "
                    "RENAME instead of splitting everything out"
                )
            entries[i:i + 1] = [(a, wvals), (b, remainder)]
        route = F.when(key.isin(list(wvals)), F.lit(a)) \
            .otherwise(F.lit(b))
    new_subparts = dict(spec.subparts)
    new_subparts[owner] = entries
    new_spec = PartitionSpec(spec.kind, spec.key, spec.parts,
                             interval=spec.interval,
                             sub_kind=spec.sub_kind,
                             sub_key=spec.sub_key,
                             subparts=new_subparts)
    mt.mark_ddl(name, "split")
    pdir = os.path.join(mt._path(name), f"{PART_COL}={owner}")
    sdir = os.path.join(pdir, f"{SUBPART_COL}={part}")
    if os.path.exists(sdir):
        df = engine.spark.read.parquet(sdir)
        staged = df.withColumn(SUBPART_COL, route)
        staging = os.path.join(mt.root, name, ".split_tmp")
        shutil.rmtree(staging, ignore_errors=True)
        staged.write.mode("overwrite").partitionBy(SUBPART_COL) \
            .parquet(staging)
        for sub in (a, b):
            src = os.path.join(staging, f"{SUBPART_COL}={sub}")
            if os.path.exists(src):
                os.rename(
                    src, os.path.join(pdir, f"{SUBPART_COL}={sub}")
                )
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(sdir, ignore_errors=True)
    mt.tables[name]["partition_spec"] = new_spec.to_meta()
    mt.tables[name]["version"] += 1
    mt._register_view(name)
    return status_frame(
        engine.spark,
        ("SPLIT SUBPARTITION", name, owner, part, f"{a},{b}"),
        "tag STRING, tbl STRING, partition STRING, subpartition STRING,"
        " into STRING",
    )


def _rewrite_partition_selectors(engine, query: str):
    """``SELECT ... FROM <pt> PARTITION (<p>)`` (the reference's
    partition-selector scan): substitute a temp view that reads ONLY
    that partition's directory.  Returns the rewritten statement, or
    None when the query holds no selector over a partitioned managed
    table."""
    import os

    mt = engine.managed_tables
    hits = []
    for pat, is_sub in ((_SUBPART_SELECTOR, True), (_PART_SELECTOR, False)):
        for sm in pat.finditer(query):
            tbl = sm.group("tbl").lower()
            if tbl in mt.tables and mt.tables[tbl].get("partition_spec"):
                hits.append((sm, is_sub))
    if not hits:
        return None
    hits.sort(key=lambda h: h[0].start())
    out = []
    last = 0
    for sm, is_sub in hits:
        tbl = sm.group("tbl").lower()
        part = sm.group("part").lower()
        spec = PartitionSpec.from_meta(
            mt.tables[tbl]["partition_spec"]
        )
        if is_sub:
            owner = next(
                (p for p, subs in spec.subparts.items()
                 if part in {n for n, _ in subs}), None,
            )
            if owner is None:
                raise KeyError(
                    f"subpartition {part!r} of {tbl!r} does not exist"
                )
            pdir = os.path.join(
                mt._path(tbl), f"{PART_COL}={owner}",
                f"{SUBPART_COL}={part}",
            )
            view = f"__subpart_{tbl}_{part}"
        else:
            if part not in {n for n, _ in spec.parts}:
                raise KeyError(
                    f"partition {part!r} of {tbl!r} does not exist"
                )
            pdir = os.path.join(mt._path(tbl), f"{PART_COL}={part}")
            view = f"__part_{tbl}_{part}"
        if os.path.exists(pdir):
            df = engine.spark.read.parquet(pdir)
            for hidden in (PART_COL, SUBPART_COL):
                if hidden in df.columns:
                    df = df.drop(hidden)
        else:
            df = mt.read(tbl).limit(0)
        df.createOrReplaceTempView(view)
        out.append(query[last:sm.start()])
        out.append(view)
        last = sm.end()
    out.append(query[last:])
    return "".join(out)


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "range_partition_lifecycle",
    """
    WITH ins AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey <= 4500
    ), ph1 AS (
      SELECT 'pruned' AS phase, o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins WHERE o_orderkey < 1500 GROUP BY o_orderstatus
    ), ph2 AS (
      SELECT 'after_drop' AS phase, o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins WHERE o_orderkey >= 1500 GROUP BY o_orderstatus
    )
    SELECT * FROM ph1 UNION ALL SELECT * FROM ph2
    ORDER BY phase, o_orderstatus
    """,
)
def range_partition_lifecycle(spark, sf_dir):
    """RANGE partition DDL end-to-end (gram.y partition grammar →
    partition.cpp INSERT routing → PartIterator elimination →
    tablecmds.cpp ATExecDropPartition): CREATE a three-partition
    range table, INSERT an orders slice (each row routed to its
    partition directory at write time), aggregate a key-pruned scan
    (the driver-side bound walk shrinks the read to the one eligible
    directory — PartitionFilters, pinned by test_plan_quality), DROP
    the first partition (one directory unlink, never a rewrite), and
    aggregate the survivors.  The oracle spells both phases as plain
    predicates over the same slice.

    Scale: INSERT is one distributed write; the pruned scan lists one
    directory out of three regardless of table size; DROP PARTITION is
    O(1) metadata — the operations a 100 TB time-partitioned fact
    table lives on."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="range_part_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE pt_gate (o_orderkey bigint,"
            " o_orderstatus text, o_totalprice double)"
            " PARTITION BY RANGE (o_orderkey) ("
            "PARTITION p0 VALUES LESS THAN (1500),"
            " PARTITION p1 VALUES LESS THAN (3000),"
            " PARTITION pmax VALUES LESS THAN (MAXVALUE))"
        )
        eng.sql(
            "INSERT INTO pt_gate SELECT o_orderkey, o_orderstatus,"
            " o_totalprice FROM orders WHERE o_orderkey <= 4500"
        )

        def agg(df, phase):
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            ).select(
                F.lit(phase).alias("phase"), "o_orderstatus", "n", "total"
            )

        ph1 = agg(
            pruned_scan(eng, "pt_gate", "o_orderkey < 1500"), "pruned"
        ).collect()
        eng.sql("ALTER TABLE pt_gate DROP PARTITION p0")
        ph2 = agg(eng.sql("SELECT * FROM pt_gate"), "after_drop").collect()
        eng.sql("DROP TABLE pt_gate PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in ph1 + ph2],
            "phase STRING, o_orderstatus STRING, n BIGINT, total DOUBLE",
        ).orderBy("phase", "o_orderstatus")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "list_partition_pruned_scan",
    """
    WITH ins AS (
      SELECT o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey <= 3000
    ), ph1 AS (
      SELECT 'pruned' AS phase, o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority
    ), ph2 AS (
      SELECT 'after_truncate' AS phase, o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins WHERE o_orderpriority <> '3-MEDIUM'
      GROUP BY o_orderpriority
    )
    SELECT * FROM ph1 UNION ALL SELECT * FROM ph2
    ORDER BY phase, o_orderpriority
    """,
)
def list_partition_pruned_scan(spark, sf_dir):
    """LIST partition DDL (partition.cpp list-bound routing +
    ATExecTruncatePartition): named value-groups with a DEFAULT
    partition, an IN-predicate scan pruned to the one eligible
    directory, then TRUNCATE PARTITION (one unlink, definition kept)
    and a full re-aggregation.  Oracle mirrors both phases as value
    predicates.

    Scale: same as the range query — routing is a write-side CASE,
    elimination is a driver-side label walk, truncate is O(1)."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="list_part_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE pl_gate (o_orderpriority text,"
            " o_totalprice double)"
            " PARTITION BY LIST (o_orderpriority) ("
            "PARTITION purgent VALUES ('1-URGENT', '2-HIGH'),"
            " PARTITION pmed VALUES ('3-MEDIUM'),"
            " PARTITION prest VALUES (DEFAULT))"
        )
        eng.sql(
            "INSERT INTO pl_gate SELECT o_orderpriority, o_totalprice"
            " FROM orders WHERE o_orderkey <= 3000"
        )

        def agg(df, phase):
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            ).select(
                F.lit(phase).alias("phase"), "o_orderpriority",
                "n", "total",
            )

        ph1 = agg(
            pruned_scan(
                eng, "pl_gate",
                "o_orderpriority IN ('1-URGENT', '2-HIGH')",
            ),
            "pruned",
        ).collect()
        eng.sql("ALTER TABLE pl_gate TRUNCATE PARTITION pmed")
        ph2 = agg(
            eng.sql("SELECT * FROM pl_gate"), "after_truncate"
        ).collect()
        eng.sql("DROP TABLE pl_gate PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in ph1 + ph2],
            "phase STRING, o_orderpriority STRING, n BIGINT,"
            " total DOUBLE",
        ).orderBy("phase", "o_orderpriority")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "interval_partition_autoextend",
    """
    WITH ins AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
             o_totalprice
      FROM orders WHERE o_orderkey <= 2000
    ), monthly AS (
      SELECT substr(d, 1, 7) AS month,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins GROUP BY substr(d, 1, 7)
    ), parts AS (
      SELECT '__partitions' AS month,
             CAST(1 + date_diff('month', DATE '1995-01-01',
                                MAX(CAST(d AS DATE))) AS BIGINT) AS n,
             CAST(0.0 AS DOUBLE) AS total
      FROM ins
    )
    SELECT * FROM monthly UNION ALL SELECT * FROM parts
    ORDER BY month
    """,
)
def interval_partition_autoextend(spark, sf_dir):
    """INTERVAL partitions end-to-end (the openGauss
    hw_partition_interval_* regress family): a month-interval range
    table seeded with ONE partition absorbs a seven-year orders slice,
    auto-creating sys_p<N> monthly partitions at INSERT time.  The
    oracle checks BOTH the data (per-month aggregates of what the
    partitioned table serves back) and the METADATA: the pg_partitions
    row count must equal 1 + months(seed bound → max key), computed
    independently by DuckDB date arithmetic — auto-extension created
    exactly one partition per month, none skipped, none duplicated.

    Scale: the extension is driver-side bounds arithmetic inside the
    one validating aggregate every partitioned INSERT already pays;
    a year of daily ingest auto-creates its partitions with zero
    manual ADD PARTITION statements."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="interval_part_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE pi_gate (d text, o_totalprice double)"
            " PARTITION BY RANGE (d) INTERVAL ('1 month') ("
            "PARTITION p0 VALUES LESS THAN ('1995-02-01'))"
        )
        eng.sql(
            "INSERT INTO pi_gate SELECT"
            " CAST(CAST(o_orderdate AS DATE) AS STRING) AS d,"
            " o_totalprice FROM orders WHERE o_orderkey <= 2000"
        )
        monthly = (
            eng.sql("SELECT * FROM pi_gate")
            .groupBy(F.substring("d", 1, 7).alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            )
            .collect()
        )
        n_parts = eng.sql("SELECT * FROM pg_partitions").count()
        eng.sql("DROP TABLE pi_gate PURGE")
        rows = [(r[0], r[1], float(r[2])) for r in monthly]
        rows.append(("__partitions", n_parts, 0.0))
        return spark.createDataFrame(
            rows, "month STRING, n BIGINT, total DOUBLE"
        ).orderBy("month")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "subpartition_pruned_scan",
    """
    WITH ins AS (
      SELECT substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7)
               AS m,
             o_orderpriority AS prio, o_totalprice
      FROM orders WHERE o_orderkey <= 3000
    ), ph1 AS (
      SELECT 'pruned' AS phase, prio,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins
      WHERE m < '1997-01' AND prio IN ('1-URGENT', '2-HIGH')
      GROUP BY prio
    ), ph2 AS (
      SELECT 'selector' AS phase, prio,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total
      FROM ins
      WHERE m >= '1997-01' AND prio IN ('1-URGENT', '2-HIGH')
      GROUP BY prio
    )
    SELECT * FROM ph1 UNION ALL SELECT * FROM ph2
    ORDER BY phase, prio
    """,
)
def subpartition_pruned_scan(spark, sf_dir):
    """Two-level partitioning end-to-end (hw_subpartition_scan's
    range_list shape, pruned per subpartitionpruning.cpp): a
    month-range × priority-list table absorbs an orders slice; phase 1
    aggregates a scan ELIMINATED ON BOTH KEYS (one partition × one
    subpartition of four leaves); phase 2 aggregates a SUBPARTITION
    selector scan (one leaf directory, no elimination walk at all).
    The oracle spells both phases as plain predicates.

    Scale: routing is one two-level CASE inside the INSERT's write;
    each leaf is a directory, so both elimination and selectors skip
    at the file-listing level — a 100 TB month×source fact table reads
    exactly the leaves it names."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="subpart_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE sp_gate (m text, prio text, price double)"
            " PARTITION BY RANGE (m) SUBPARTITION BY LIST (prio) ("
            "  PARTITION p_early VALUES LESS THAN ('1997-01') ("
            "    SUBPARTITION pe_u VALUES ('1-URGENT', '2-HIGH'),"
            "    SUBPARTITION pe_r VALUES (DEFAULT)"
            "  ),"
            "  PARTITION p_late VALUES LESS THAN ('9999-99') ("
            "    SUBPARTITION pl_u VALUES ('1-URGENT', '2-HIGH'),"
            "    SUBPARTITION pl_r VALUES (DEFAULT)"
            "  ))"
        )
        eng.sql(
            "INSERT INTO sp_gate SELECT"
            " substr(CAST(CAST(o_orderdate AS DATE) AS STRING), 1, 7),"
            " o_orderpriority, o_totalprice"
            " FROM orders WHERE o_orderkey <= 3000"
        )

        def agg(df, phase):
            return df.groupBy("prio").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("price").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            ).select(F.lit(phase).alias("phase"), "prio", "n", "total")

        ph1 = agg(
            pruned_scan(
                eng, "sp_gate",
                "m < '1997-01' AND prio IN ('1-URGENT', '2-HIGH')",
            ),
            "pruned",
        ).collect()
        ph2 = agg(
            eng.sql("SELECT * FROM sp_gate SUBPARTITION (pl_u)"),
            "selector",
        ).collect()
        eng.sql("DROP TABLE sp_gate PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in ph1 + ph2],
            "phase STRING, prio STRING, n BIGINT, total DOUBLE",
        ).orderBy("phase", "prio")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "exchange_subpartition",
    """
    WITH ins AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS v
      FROM orders WHERE o_orderkey <= 3000
    ), stage AS (
      SELECT k, st, v * 2 AS v FROM ins
      WHERE k < 1000 AND st = 'O' AND k % 2 = 0
    ), leaf AS (
      SELECT k, st, v FROM ins WHERE k < 1000 AND st = 'O'
    ), fact_after AS (
      SELECT k, st, v FROM ins
      WHERE NOT (k < 1000 AND st = 'O')
      UNION ALL SELECT k, st, v FROM stage
    ), agg AS (
      SELECT CASE WHEN k < 1000 THEN 'p0' ELSE 'p1' END AS part,
             st, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM fact_after GROUP BY part, st
    ), swapped AS (
      SELECT 'staging' AS part, 'O' AS st,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM leaf
    )
    SELECT * FROM agg UNION ALL SELECT * FROM swapped
    ORDER BY part, st
    """,
)
def exchange_subpartition(spark, sf_dir):
    """EXCHANGE SUBPARTITION end-to-end (tablecmds.cpp
    ATExecExchangePartition over a subpartition OID; the
    hw_subpartition_* regress family — the r10 verdict's
    subpartition-surgery item): a two-level RANGE/LIST fact table and
    a staged plain table SWAP one leaf's storage as O(1) directory
    renames; the oracle recomputes BOTH sides set-theoretically
    ((fact ∖ leaf) ∪ staging; staging' = leaf), so a green row proves
    the swap moved exactly the leaf — no row lost, duplicated, or
    left behind — and that validation routed every staged row.

    Scale: this is the 100 TB bulk-load shape — build + validate a
    staging table offline, land it in the subpartitioned fact table
    with two renames; the only distributed work is the one validating
    aggregate over the staging side."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="exchange_subpart_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE xg (k bigint, st text, v double)"
            " PARTITION BY RANGE (k) SUBPARTITION BY LIST (st) ("
            "  PARTITION p0 VALUES LESS THAN (1000) ("
            "    SUBPARTITION p0_o VALUES ('O'),"
            "    SUBPARTITION p0_f VALUES ('F'),"
            "    SUBPARTITION p0_p VALUES ('P')"
            "  ),"
            "  PARTITION p1 VALUES LESS THAN (MAXVALUE) ("
            "    SUBPARTITION p1_o VALUES ('O'),"
            "    SUBPARTITION p1_f VALUES ('F'),"
            "    SUBPARTITION p1_p VALUES ('P')"
            "  ))"
        )
        eng.sql(
            "INSERT INTO xg SELECT o_orderkey, o_orderstatus,"
            " o_totalprice FROM orders WHERE o_orderkey <= 3000"
        )
        eng.sql(
            "CREATE TABLE xg_stage AS SELECT o_orderkey AS k,"
            " o_orderstatus AS st, o_totalprice * 2 AS v FROM orders"
            " WHERE o_orderkey <= 3000 AND o_orderkey < 1000"
            " AND o_orderstatus = 'O' AND o_orderkey % 2 = 0"
        )
        eng.sql(
            "ALTER TABLE xg EXCHANGE SUBPARTITION (p0_o)"
            " WITH TABLE xg_stage"
        )
        agg = (
            eng.sql("SELECT * FROM xg")
            .groupBy(
                F.when(F.col("k") < 1000, "p0").otherwise("p1")
                .alias("part"),
                F.col("st"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                .alias("total"),
            )
            .collect()
        )
        swapped = (
            eng.sql("SELECT * FROM xg_stage")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                .alias("total"),
            )
            .collect()[0]
        )
        eng.sql("DROP TABLE xg PURGE")
        eng.sql("DROP TABLE xg_stage PURGE")
        rows = [(r[0], r[1], r[2], float(r[3])) for r in agg]
        rows.append(("staging", "O", swapped[0], float(swapped[1])))
        return spark.createDataFrame(
            rows, "part STRING, st STRING, n BIGINT, total DOUBLE"
        ).orderBy("part", "st")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "split_subpartition",
    """
    WITH ins AS (
      SELECT o_orderkey AS k, o_orderpriority AS pr, o_totalprice AS v
      FROM orders WHERE o_orderkey <= 3000
    ), lab AS (
      SELECT k, v,
             CASE WHEN k < 1500 THEN 'p0' ELSE 'p1' END AS part,
             CASE WHEN k >= 1500 THEN 'rest'
                  WHEN pr = '1-URGENT' THEN 's_urgent'
                  WHEN pr IN ('2-HIGH', '3-MEDIUM') THEN 's_mid'
                  ELSE 's_low' END AS subpart
      FROM ins
    )
    SELECT part, subpart, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM lab GROUP BY part, subpart ORDER BY part, subpart
    """,
)
def split_subpartition(spark, sf_dir):
    """SPLIT SUBPARTITION end-to-end (ATExecSplitSubPartition; the
    hw_subpartition_split regress family — round 11): a LIST leaf
    holding three priorities splits twice — first carving '1-URGENT'
    out of the combined leaf, then splitting the remainder — and the
    oracle recomputes the final leaf assignment from scratch, so a
    green row proves each surgery moved exactly the listed values
    with no row lost, duplicated, or misrouted.

    Scale: each split reads ONLY the split leaf's directory and
    re-routes its rows into the two new leaves — O(leaf) per surgery,
    the same bound the top-level SPLIT PARTITION carries."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="split_subpart_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE spg (k bigint, pr text, v double)"
            " PARTITION BY RANGE (k) SUBPARTITION BY LIST (pr) ("
            "  PARTITION p0 VALUES LESS THAN (1500) ("
            "    SUBPARTITION s_all VALUES ('1-URGENT', '2-HIGH',"
            "     '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')"
            "  ),"
            "  PARTITION p1 VALUES LESS THAN (MAXVALUE) ("
            "    SUBPARTITION rest VALUES (DEFAULT)"
            "  ))"
        )
        eng.sql(
            "INSERT INTO spg SELECT o_orderkey, o_orderpriority,"
            " o_totalprice FROM orders WHERE o_orderkey <= 3000"
        )
        eng.sql(
            "ALTER TABLE spg SPLIT SUBPARTITION s_all"
            " VALUES ('1-URGENT')"
            " INTO (SUBPARTITION s_urgent, SUBPARTITION s_other)"
        )
        eng.sql(
            "ALTER TABLE spg SPLIT SUBPARTITION s_other"
            " VALUES ('2-HIGH', '3-MEDIUM')"
            " INTO (SUBPARTITION s_mid, SUBPARTITION s_low)"
        )
        rows = (
            eng.managed_tables.scan("spg")
            .groupBy(PART_COL, SUBPART_COL)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                .alias("total"),
            )
            .collect()
        )
        eng.sql("DROP TABLE spg PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in rows],
            "part STRING, subpart STRING, n BIGINT, total DOUBLE",
        ).orderBy("part", "subpart")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "exchange_partition_subpart",
    """
    WITH ins AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS v
      FROM orders WHERE o_orderkey <= 3000
    ), stage AS (
      SELECT k, st, v * 2 AS v FROM ins
      WHERE k < 1000 AND k % 2 = 0
    ), fact_after AS (
      SELECT k, st, v FROM ins WHERE k >= 1000
      UNION ALL SELECT k, st, v FROM stage
    ), agg AS (
      SELECT CASE WHEN k < 1000 THEN 'p0' ELSE 'p1' END AS part,
             st, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM fact_after GROUP BY part, st
    ), swapped AS (
      SELECT 'staging' AS part, st,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM ins WHERE k < 1000 GROUP BY st
    )
    SELECT * FROM agg UNION ALL SELECT * FROM swapped
    ORDER BY part, st
    """,
)
def exchange_partition_subpart(spark, sf_dir):
    """Top-level EXCHANGE PARTITION on a SUBPARTITIONED table (the
    r11 verdict's item #5, lifted r12 — BEYOND the reference, whose
    own regress pins this shape as "Un-support feature"
    (hw_subpartition_alter_table expected output); tablecmds.cpp
    ATExecExchangePartition is the single-level machinery this
    extends one level up): the whole ``_part=p0`` directory (all its
    LIST subpartition leaves) swaps with a staging table partitioned
    EXACTLY like p0's subpartition spec — O(#leaves) renames, no data
    copy.  The oracle recomputes BOTH sides set-theoretically
    ((fact ∖ p0) ∪ staging; staging' = p0), so a green row proves the
    swap moved the whole partition leaf-for-leaf with no row lost,
    duplicated, or misrouted, and that validation routed every
    staged row through BOTH partitioning levels.

    Scale: the 100 TB staged-MONTH shape — build + validate all of a
    month's subpartitions offline in a partitioned staging table,
    land them with one DDL; the only distributed work is the one
    two-level validating aggregate over the staging side."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="exchange_part_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE xpg (k bigint, st text, v double)"
            " PARTITION BY RANGE (k) SUBPARTITION BY LIST (st) ("
            "  PARTITION p0 VALUES LESS THAN (1000) ("
            "    SUBPARTITION p0_o VALUES ('O'),"
            "    SUBPARTITION p0_f VALUES ('F'),"
            "    SUBPARTITION p0_p VALUES ('P')"
            "  ),"
            "  PARTITION p1 VALUES LESS THAN (MAXVALUE) ("
            "    SUBPARTITION p1_o VALUES ('O'),"
            "    SUBPARTITION p1_f VALUES ('F'),"
            "    SUBPARTITION p1_p VALUES ('P')"
            "  ))"
        )
        eng.sql(
            "INSERT INTO xpg SELECT o_orderkey, o_orderstatus,"
            " o_totalprice FROM orders WHERE o_orderkey <= 3000"
        )
        eng.sql(
            "CREATE TABLE xpg_stage (k bigint, st text, v double)"
            " PARTITION BY LIST (st) ("
            "  PARTITION p0_o VALUES ('O'),"
            "  PARTITION p0_f VALUES ('F'),"
            "  PARTITION p0_p VALUES ('P'))"
        )
        eng.sql(
            "INSERT INTO xpg_stage SELECT o_orderkey, o_orderstatus,"
            " o_totalprice * 2 FROM orders WHERE o_orderkey < 1000"
            " AND o_orderkey % 2 = 0"
        )
        eng.sql(
            "ALTER TABLE xpg EXCHANGE PARTITION (p0)"
            " WITH TABLE xpg_stage"
        )
        agg = (
            eng.sql("SELECT * FROM xpg")
            .groupBy(
                F.when(F.col("k") < 1000, "p0").otherwise("p1")
                .alias("part"),
                F.col("st"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                .alias("total"),
            )
            .collect()
        )
        swapped = (
            eng.sql("SELECT * FROM xpg_stage")
            .groupBy(F.col("st"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                .alias("total"),
            )
            .collect()
        )
        eng.sql("DROP TABLE xpg PURGE")
        eng.sql("DROP TABLE xpg_stage PURGE")
        rows = [(r[0], r[1], r[2], float(r[3])) for r in agg]
        rows += [("staging", r[0], r[1], float(r[2])) for r in swapped]
        return spark.createDataFrame(
            rows, "part STRING, st STRING, n BIGINT, total DOUBLE"
        ).orderBy("part", "st")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
