"""The catalog and lifecycle of every non-btree index: GIN, GiST and
the ANN access method (IVF and HNSW, plans/ann_rewrite.py).

Reference: the index access-method interface (``ambuild`` /
``aminsert`` / ``amvacuumcleanup``), behind which every AM supplies only
its own layout, and gininsert.cpp's ``fastupdate`` pending list, the
delta model GIN and GiST follow.  An index lives under its own
directory, unique and fixed at creation, so a renamed index never
shares storage with a later index of its old name.  A GIN or GiST index
is one base layer plus delta layers of extracted keys, each a parquet
root under that directory; the ANN AM keeps one index layout there and
appends to it in place (its ``append`` hook).

Staleness: a build records the indexed table's latest commit CSN plus
the covered generation and file set (TableManager manifests, the
Delta/Iceberg commit-log model).  When a routed query finds the CSN
moved, a pure append (same generation, every covered file still live)
hands ONLY the newly appended files to the AM's append hook (a GIN or
GiST ``delta_<csn>`` layer, an in-place IVF or HNSW insert); a
copy-on-write rewrite (UPDATE/DELETE/partition surgery bump the
generation) rebuilds from the relation, the one case where row content
actually changed.  Catalog parquet tables are immutable, so no check
applies to them.

Compaction is two-level, like an LSM: at MAX_DELTAS the deltas MERGE
into one (O(delta bytes), base and relation untouched) so per-query
footer overhead stays O(1); once delta rows exceed a FRACTION of the
base (with an absolute floor so small tables do not churn —
gin_pending_list_limit is likewise an absolute size) base ∪ deltas fold
into a new base at the KEY level (ginfast.cpp ginInsertCleanup: the
relation is never re-read).  Both folds are sound because deltas exist
only under append-only maintenance: a row's keys live in exactly one
layer, so the plain union IS the folded index.  VACUUM runs the fold
explicitly and carries the watermarks across its row-preserving
generation swap.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame

MAX_DELTAS = 8
MAX_DELTA_ROW_FRACTION = 0.2
MIN_DELTA_ROWS = 65536


class AccessMethod:
    """What one index AM supplies to the shared lifecycle: how keys
    are extracted from relation rows, how one layer is written, and
    what to refresh when the set of layers changes."""

    subdir = ""  # warehouse subdirectory holding this AM's indexes

    def indexes(self, engine) -> dict:
        """The engine's {index name: index dict} registry."""
        raise NotImplementedError

    def key_frame(self, idx: dict, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def write_layer(self, engine, idx: dict, keys: DataFrame, path: str,
                    npart: int) -> int:
        """Write ``keys`` as one layer at ``path``; returns its row
        count.  ``npart`` sizes the layout for AMs that take a size."""
        raise NotImplementedError

    def build_base(self, engine, idx: dict, keys: DataFrame,
                   path: str) -> int:
        return self.write_layer(engine, idx, keys, path, 8)

    def append(self, engine, idx: dict, rows: DataFrame, csn: int,
               n_files: int) -> None:
        """aminsert for a pure append: ``rows`` are the ``n_files``
        newly appended relation files.  The default writes their keys
        as one more delta layer."""
        delta = os.path.join(idx["path"], f"delta_{csn}")
        # the layout scales with the append: a 1-row INSERT stays one
        # small file, a bulk load spreads
        npart = max(1, min(8, (n_files + 7) // 8))
        idx["delta_rows"] += self.write_layer(
            engine, idx, self.key_frame(idx, rows), delta, npart
        )
        idx["delta_paths"].append(delta)

    def layers_changed(self, engine, name: str, idx: dict) -> None:
        """Refresh AM state after base_path/delta_paths changed."""

    def dropped(self, engine, name: str) -> None:
        """Release AM state registered under ``name``."""

    def describe(self, idx: dict) -> tuple[str, str]:
        """(column list, access-method label) for pg_indexes."""
        raise NotImplementedError


def _methods() -> tuple[AccessMethod, ...]:
    from ..plans import ann_rewrite
    from . import gin_index, gist_index

    return ann_rewrite.AM, gin_index.AM, gist_index.AM


def source_df(engine, table: str) -> DataFrame:
    """A managed table, or a parquet table of the catalog directory."""
    if table in engine.managed_tables.tables:
        return engine.spark.table(table)
    if table in engine.tables or os.path.exists(
            os.path.join(engine.sf_dir, f"{table}.parquet")):
        return engine.table(table)
    raise KeyError(f"table {table!r} not found")


def _csn(engine, table: str) -> int | None:
    h = engine.managed_tables.latest_commit(table)
    return h["csn"] if h else None


def _cover(idx: dict, h: dict | None) -> None:
    """Move the index watermarks to commit ``h``."""
    idx["built_csn"] = h["csn"] if h else None
    idx["covered_gen"] = h["gen"] if h else None
    idx["covered_files"] = set(h["files"]) if h else set()


def _reclaim(paths: list[str], keep: str) -> None:
    for p in paths:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)


def _read_layers(engine, paths: list[str]) -> DataFrame:
    """Union of layer roots read one root at a time: a GiST layer is
    its own ``zb``-partitioned root, and one multi-root read trips
    partition discovery.  A root an empty build left absent is
    skipped."""
    return functools.reduce(DataFrame.unionByName, [
        engine.spark.read.parquet(p) for p in paths if os.path.isdir(p)
    ])


def on_table(engine, table: str) -> list[tuple[AccessMethod, str, dict]]:
    return [
        (am, name, idx)
        for am in _methods()
        for name, idx in list(am.indexes(engine).items())
        if idx["table"] == table
    ]


def find(engine, name: str) -> tuple[AccessMethod, dict] | None:
    for am in _methods():
        if name in am.indexes(engine):
            return am, am.indexes(engine)[name]
    return None


def catalog_rows(engine) -> list[tuple[str, str, str, str]]:
    """pg_indexes rows (indexname, tablename, colname, am)."""
    return [
        (name, idx["table"], *am.describe(idx))
        for am in _methods()
        for name, idx in sorted(am.indexes(engine).items())
    ]


def create(engine, am: AccessMethod, name: str, idx: dict) -> dict:
    """CREATE INDEX (ambuild) into a fresh directory; an index of the
    same name and AM is replaced.  A build that raises leaves neither
    a catalog entry nor a directory behind."""
    if name in am.indexes(engine):
        _drop(engine, am, name)
    path = os.path.join(
        engine._warehouse_dir(), am.subdir, f"{name}_{uuid.uuid4().hex}"
    )
    idx.update(path=path, base_path=os.path.join(path, "base"),
               delta_paths=[])
    am.indexes(engine)[name] = idx
    try:
        rebuild(engine, am, name)
    except Exception:
        _drop(engine, am, name)
        raise
    return idx


def rebuild(engine, am: AccessMethod, name: str) -> None:
    """FULL (re)build — creation, REINDEX and the rewrite path:
    extract keys from the whole relation into ``<path>/base``, reclaim
    every other layer, and move the watermarks to the latest commit."""
    idx = am.indexes(engine)[name]
    base = os.path.join(idx["path"], "base")
    keys = am.key_frame(idx, source_df(engine, idx["table"]))
    rows = am.build_base(engine, idx, keys, base)
    _reclaim([idx["base_path"], *idx["delta_paths"]], base)
    idx.update(base_path=base, delta_paths=[], delta_rows=0,
               base_rows=rows,
               last_maintenance={"mode": "rebuild", "input_files": None})
    _cover(idx, engine.managed_tables.latest_commit(idx["table"]))
    am.layers_changed(engine, name, idx)


def _maintain_delta(engine, am: AccessMethod, name: str) -> bool:
    """Incremental maintenance for a pure APPEND: the AM's append hook
    reads ONLY the newly appended files.  False when the change is not
    append-only (a generation bump, or files vanished inside the
    generation) — the caller rebuilds."""
    idx = am.indexes(engine)[name]
    table = idx["table"]
    h = engine.managed_tables.latest_commit(table)
    if h is None or h["gen"] != idx["covered_gen"]:
        return False
    live = set(h["files"])
    if not idx["covered_files"] <= live:
        return False
    new_files = sorted(live - idx["covered_files"])
    if new_files:
        from .partition_ddl import PART_COL, SUBPART_COL

        gen_dir = engine.managed_tables._gen_path(table, h["gen"])
        src = engine.spark.read.option("basePath", gen_dir).parquet(
            *[os.path.join(gen_dir, f) for f in new_files]
        ).drop(PART_COL, SUBPART_COL)
        am.append(engine, idx, src, h["csn"], len(new_files))
        idx["last_maintenance"] = {
            "mode": "delta", "input_files": sorted(src.inputFiles()),
        }
    else:
        # CSN moved with no new files (e.g. a tagged empty commit)
        idx["last_maintenance"] = {"mode": "noop", "input_files": []}
    if len(idx["delta_paths"]) >= MAX_DELTAS:
        _merge_deltas(engine, am, idx)
    _cover(idx, h)
    am.layers_changed(engine, name, idx)
    return True


def _merge_deltas(engine, am: AccessMethod, idx: dict) -> None:
    """Fold every delta into ONE delta — O(delta bytes), base and
    relation untouched (the LSM level-0 merge)."""
    olds = idx["delta_paths"]
    merged = os.path.join(
        idx["path"], f"delta_merged_{idx['built_csn'] or 0}_{len(olds)}"
    )
    # ~2M key rows per partition keeps rowgroups prunable without
    # shattering into tiny files
    npart = max(1, min(8, idx["delta_rows"] // 2_000_000 + 1))
    idx["delta_rows"] = am.write_layer(
        engine, idx, _read_layers(engine, olds), merged, npart
    )
    _reclaim(olds, merged)
    idx["delta_paths"] = [merged]


def _compact_base(engine, am: AccessMethod, name: str) -> None:
    """Fold base ∪ deltas into ONE new base at the KEY level —
    O(index bytes), the relation never re-read.  The fold writes a
    NEW versioned directory and swaps to it (never overwriting the
    base it reads), then reclaims the superseded layers."""
    idx = am.indexes(engine)[name]
    if not idx["delta_paths"]:
        return
    olds = [idx["base_path"], *idx["delta_paths"]]
    src = _read_layers(engine, olds)
    rows = idx["base_rows"] + idx["delta_rows"]
    npart = max(1, min(32, rows // 2_000_000 + 1))
    idx["compactions"] = idx.get("compactions", 0) + 1
    new_base = os.path.join(idx["path"], f"base_c{idx['compactions']}")
    idx.update(
        base_rows=am.write_layer(engine, idx, src, new_base, npart),
        base_path=new_base, delta_paths=[], delta_rows=0,
        # index layers only: no relation file is ever an input
        last_maintenance={"mode": "compact",
                          "input_files": sorted(src.inputFiles())},
    )
    _reclaim(olds, new_base)
    am.layers_changed(engine, name, idx)


def ensure_fresh(engine, am: AccessMethod, name: str) -> None:
    """Serve every routed query from a fresh index: appends go through
    the AM's append hook, over-threshold deltas fold into the base at
    the key level, and only a copy-on-write rewrite pays the full
    rebuild."""
    idx = am.indexes(engine)[name]
    if _csn(engine, idx["table"]) == idx["built_csn"]:
        return
    if not _maintain_delta(engine, am, name):
        rebuild(engine, am, name)
    elif idx["delta_rows"] > max(
        MAX_DELTA_ROW_FRACTION * idx["base_rows"], MIN_DELTA_ROWS
    ):
        _compact_base(engine, am, name)


@contextlib.contextmanager
def vacuum(engine, table: str):
    """Wraps VACUUM's file compaction of ``table``: first every index
    on it comes current and folds its deltas into the base (the
    amvacuumcleanup that autovacuum runs in the reference), so queries
    after a VACUUM read one base; then the compaction's row-preserving
    generation swap carries the watermarks of every index current
    before it, so the next routed query does not mistake the swap for
    a content rewrite and rebuild from the relation."""
    for am, name, idx in on_table(engine, table):
        ensure_fresh(engine, am, name)
        _compact_base(engine, am, name)
    pre = _csn(engine, table)
    yield
    h = engine.managed_tables.latest_commit(table)
    for _am, _name, idx in on_table(engine, table):
        if h is not None and idx["built_csn"] == pre:
            _cover(idx, h)


def _drop(engine, am: AccessMethod, name: str) -> None:
    idx = am.indexes(engine).pop(name)
    am.dropped(engine, name)
    shutil.rmtree(idx["path"], ignore_errors=True)


def drop(engine, name: str) -> bool:
    """DROP INDEX: True when an index of that name existed."""
    hits = [am for am in _methods() if name in am.indexes(engine)]
    for am in hits:
        _drop(engine, am, name)
    return bool(hits)


def rename(engine, name: str, new: str) -> None:
    """ALTER INDEX RENAME: only the catalog entry moves — the storage
    directory was fixed at creation.  The entry keeps its place in the
    registry, whose order is creation order."""
    am, idx = find(engine, name)
    reg = am.indexes(engine)
    entries = list(reg.items())
    reg.clear()
    reg.update((new if n == name else n, e) for n, e in entries)
    am.layers_changed(engine, new, idx)
    am.dropped(engine, name)


def drop_table(engine, table: str) -> None:
    """Dependent indexes drop with their relation (PG drops them with
    the table): a recreated same-name table must not route through
    stale keys or list a dead btree index."""
    for am, name, _idx in on_table(engine, table):
        _drop(engine, am, name)
    for name, (t, _col) in list(engine._btree_indexes.items()):
        if t == table:
            del engine._btree_indexes[name]
