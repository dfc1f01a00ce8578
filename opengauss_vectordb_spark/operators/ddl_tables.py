"""Managed tables and views — CREATE TABLE AS / INSERT INTO /
DROP TABLE / CREATE [OR REPLACE] VIEW / DROP VIEW through Engine.sql.

Reference: `optimizer/commands/createas.cpp` (557 LoC) —
`ExecCreateTableAs` (:124) materializes a query into a new relation;
`optimizer/commands/view.cpp` (846 LoC) — `DefineView` (:611) stores
the view as a rewrite rule (views re-execute their definition; matviews
snapshot it — we keep the same split); INSERT, UPDATE and DELETE are the
`ModifyTable` node (`executor/nodeModifyTable.cpp`), one clause split
and one handler per verb (MERGE is operators/merge.py).

Spark-first shape:

* CREATE TABLE AS writes the query result as parquet under the
  engine warehouse and registers the name — one distributed write, no
  driver materialization. INSERT INTO appends files (O(|delta|), the
  append-only analogue of heap extension), casting the source by
  POSITION to the table's declared schema (PG INSERT column-position
  semantics), then repoints the registered view so readers see the new
  snapshot.
* CREATE VIEW registers the TRANSLATED definition as a temp view —
  live semantics: each query re-executes the definition against the
  current base state, exactly DefineView's rewrite-rule behavior (and
  the matview tests pin the snapshot/live distinction from the other
  side).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..sqltext import close_paren, split_top, top_level
from ._util import status_frame, sub_outside_literals


def cast_to(df: DataFrame, fields) -> DataFrame:
    """Position-based cast of ``df``'s columns to the declared
    ``fields`` (the PG INSERT rule); a string into an array column
    parses as pgvector text, ``'[1,2,3]'``.  Source names are
    normalized first — a literal projection like SELECT 5.0 yields a
    dotted column name that name-based resolution would misparse as a
    nested field."""
    from pyspark.sql.types import ArrayType, StringType

    src = df.toDF(*[f"__src{i}" for i in range(len(df.columns))])
    return src.select(*[
        (F.from_json(s.name, f.dataType, {"mode": "FAILFAST"})
         if isinstance(f.dataType, ArrayType)
         and isinstance(s.dataType, StringType)
         else F.col(s.name).cast(f.dataType)).alias(f.name)
        for s, f in zip(src.schema.fields, fields)
    ])


class TableManager:
    """Managed-table catalog: name → (storage root, version)."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.tables: dict[str, dict] = {}
        # back-reference set by Engine.__init__ so view registration
        # can consult RLS/masking state; None when the manager is used
        # standalone (tests construct it without an engine)
        self.engine = None
        # -------- flashback bookkeeping (storage/tcap — TIMECAPSULE)
        # Every mutation commits a MANIFEST (csn, generation, file
        # list): appends share a generation (the manifest lists the
        # file subset), copy-on-write rewrites open a NEW generation
        # directory and leave the old one on disk — so an old CSN is
        # just an old file list, readable with zero data copies (the
        # Delta/Iceberg commit-log model, which is what a production
        # deployment would use for the atomic variant of this).
        # next_csn is the manager-wide commit sequence number
        # (tcap_version.cpp resolves TIMECAPSULE CSN against the
        # cluster CSN the same way).
        self.next_csn: int = 1
        # DROP TABLE parks (meta, renamed dir) here instead of
        # deleting — catalog/pg_recyclebin.h; restored by
        # TIMECAPSULE TABLE ... TO BEFORE DROP, freed by PURGE
        self.recyclebin: list[dict] = []
        # statement handlers stage a tag/barrier for the NEXT commit
        # of a table (e.g. TRUNCATE tags its commit so TO BEFORE
        # TRUNCATE can find it; DDL marks a barrier — flashback may
        # not cross a table-definition change, tcap_version.cpp's
        # "Restore point too old" / definition-changed errors)
        self._pending: dict[str, dict] = {}
        # rows the last /*+ ignore_error */ INSERT filtered out (_write)
        self.last_insert_skipped = 0

    # ------------------------------------------------ flashback hooks

    def mark_ddl(self, name: str, tag: str = "ddl") -> None:
        """The next commit of ``name`` is a DDL barrier: manifests
        older than it become unreachable for TIMECAPSULE (the
        reference refuses version flashback across DDL — the table
        definition or physical layout changed under the history)."""
        self._pending[name.lower()] = {"tag": tag, "barrier": True}

    def tag_commit(self, name: str, tag: str) -> None:
        """Tag the next commit of ``name`` (no barrier) — TRUNCATE
        uses it so TO BEFORE TRUNCATE can locate the commit."""
        self._pending[name.lower()] = {"tag": tag, "barrier": False}

    def _commit(self, name: str) -> None:
        """Record a manifest for the table's current physical state.
        O(file listing) per statement — at 100 TB this bookkeeping is
        the transactional format's commit log, not a scan."""
        import glob as _glob
        import time as _time

        meta = self.tables[name]
        gen_dir = self._path(name)
        files = sorted(
            os.path.relpath(p, gen_dir)
            for p in _glob.glob(
                os.path.join(gen_dir, "**", "part-*"), recursive=True
            )
        )
        pend = self._pending.pop(name, {})
        csn = self.next_csn
        self.next_csn += 1
        meta.setdefault("history", []).append({
            "csn": csn,
            "gen": meta.get("gen", 0),
            "files": files,
            "ts": _time.time(),
            "tag": pend.get("tag"),
        })
        if pend.get("barrier"):
            meta["barrier_csn"] = csn

    def latest_commit(self, name: str) -> dict | None:
        """The table's last manifest (csn, gen, files, ts, tag); None
        for a table with no commit or no managed table at all."""
        meta = self.tables.get(name)
        hist = meta.get("history") if meta else None
        return hist[-1] if hist else None

    def _register_view(self, name: str) -> None:
        """The post-mutation hook for code that changes a table's files
        outside this class (partition DDL, recyclebin restore, rename):
        the scan schema of the live generation is forgotten, since
        those paths may have moved in files of another shape, then the
        table is published."""
        self.tables[name].pop("scan_schema", None)
        self._publish(name)

    def _publish(self, name: str) -> None:
        """THE single view-registration point after any write.  When
        the engine has RLS or masking state on this table, route
        through rls._refresh_views so DML never clobbers the
        filtered/masked view with the raw base relation (openGauss
        applies rewriteRlsPolicy quals to every scan — a post-DML
        scan included); otherwise register the plain relation.

        Doubling as THE post-mutation hook, it also commits a
        flashback manifest (every mutation path ends here)."""
        self._commit(name)
        eng = self.engine
        if eng is not None:
            from .rls import _refresh_views, protected_tables

            if name in protected_tables(eng):
                _refresh_views(eng, only=name)
                return
        self.read(name).createOrReplaceTempView(name)

    def read(self, name: str) -> DataFrame:
        """The table's USER-visible relation: the parquet snapshot
        minus the hidden partition-label column (spec-partitioned
        layouts store rows under ``_part=<partition>`` directories);
        a spec-partitioned table that holds no rows yet reads as an
        empty frame of the declared schema (an all-partition-dirs
        layout has no files to infer from)."""
        name = name.lower()
        meta = self.tables[name]
        from .partition_ddl import PART_COL, SUBPART_COL

        if meta.get("partition_spec") and meta.get("schema_ddl") \
                and not self._has_data(name):
            return self.spark.createDataFrame([], meta["schema_ddl"])
        df = self.scan(name)
        for hidden in (PART_COL, SUBPART_COL):
            if hidden in df.columns:
                df = df.drop(hidden)
        return df

    def scan(self, name: str) -> DataFrame:
        """The live generation as stored: ``spark.read.parquet`` of its
        directory, hidden partition-label columns included.

        Spark infers a parquet schema with one job per read, so the
        schema of the data columns is kept per generation: taken from
        the first read, carried across appends and same-shape rewrites,
        dropped by any write of another shape.  Directory partition
        columns are left out of it and still discovered from the
        directory names, as an inferring read types them from the
        values present.  A partitioned table without data files reads
        the inferring way, as before."""
        name = name.lower()
        meta = self.tables[name]
        path = self._path(name)
        gen = meta.get("gen", 0)
        memo = meta.get("scan_schema")
        if memo is not None and memo[0] == gen and not (
            self._dir_cols(name) and not self._has_data(name)
        ):
            return self.spark.read.schema(memo[1]).parquet(path)
        df = self.spark.read.parquet(path)
        meta["scan_schema"] = (gen, self._data_schema(name, df))
        return df

    def _dir_cols(self, name: str) -> list[str]:
        """Columns stored as directory names rather than in the files."""
        meta = self.tables[name]
        if meta.get("partition_spec"):
            from .partition_ddl import PartitionSpec

            return PartitionSpec.from_meta(
                meta["partition_spec"]
            ).partition_cols()
        return [meta["partition_by"]] if meta.get("partition_by") else []

    def _data_schema(self, name: str, df: DataFrame):
        """``df``'s schema without the table's directory columns."""
        from pyspark.sql.types import StructType

        drop = {c.lower() for c in self._dir_cols(name)}
        return StructType(
            [f for f in df.schema.fields if f.name.lower() not in drop]
        )

    def _keeps_shape(self, name: str, df: DataFrame) -> bool:
        """Whether writing ``df`` leaves the data columns' names and
        types as the kept scan schema has them (nullability aside:
        parquet reads every column as nullable)."""
        memo = self.tables[name].get("scan_schema")
        if memo is None:
            return False

        def shape(schema):
            return [(f.name, f.dataType.simpleString()) for f in schema]

        return shape(memo[1]) == shape(self._data_schema(name, df))

    def _has_data(self, name: str) -> bool:
        import glob as _glob

        return bool(
            _glob.glob(
                os.path.join(self._path(name), "**", "part-*"),
                recursive=True,
            )
        )

    def create_as(self, name: str, df: DataFrame,
                  partition_by: str | None = None,
                  extra_meta: dict | None = None) -> int:
        """CTAS; ``partition_by`` declares a list-partitioned layout
        (nodePartIterator.cpp's pruning source): the write lays data
        out as one directory per key value, and every later read with
        an equality/IN filter on that column prunes whole directories
        before any I/O (Spark partition pruning — PartIterator at the
        file-listing level)."""
        name = name.lower()
        if name in self.tables:
            raise ValueError(f"table {name!r} already exists")
        self.tables[name] = {
            "version": 0, "partition_by": partition_by,
            **(extra_meta or {}),
        }
        self._write(name, df, mode="overwrite")
        return self.scan(name).count()

    def insert_into(self, name: str, df: DataFrame,
                    transform=None,
                    capture: bool = False,
                    ignore_errors: bool = False) -> DataFrame | None:
        """Appends; with ``capture`` the final (cast + trigger-fired)
        rows are MATERIALIZED before the write and returned as a local
        frame — the INSERT ... RETURNING surface.  Materializing first
        keeps the snapshot consistent when the source SELECT reads the
        target table itself."""
        name = name.lower()
        if name not in self.tables:
            raise KeyError(f"managed table {name!r} does not exist")
        meta = self.tables[name]
        generated: dict = meta.get("generated") or {}
        auto_col: str | None = meta.get("auto_col")
        target = self.read(name)
        tfields = target.schema.fields
        # columns a user may supply: everything but GENERATED (PG
        # refuses non-DEFAULT values into stored generated columns —
        # nodeModifyTable.cpp ExecComputeStoredGenerated recomputes
        # them on every write); the AUTO_INCREMENT column is optional
        base_fields = [f for f in tfields if f.name not in generated]
        noauto_fields = [f for f in base_fields if f.name != auto_col]
        explicit_auto = auto_col is not None
        if len(df.columns) == len(base_fields):
            fields = base_fields
        elif auto_col is not None and len(df.columns) == len(noauto_fields):
            fields = noauto_fields
            explicit_auto = False
        elif generated and len(df.columns) == len(tfields):
            raise ValueError(
                f"cannot insert a non-DEFAULT value into generated "
                f"column(s) {sorted(generated)} of {name!r}"
            )
        else:
            raise ValueError(
                f"INSERT has {len(df.columns)} columns,"
                f" table {name!r} takes {len(base_fields)}"
                + (f" (or {len(noauto_fields)} omitting"
                   f" {auto_col!r})" if auto_col else "")
            )
        aligned = cast_to(df, fields)
        if auto_col is not None:
            auto_type = next(
                f.dataType for f in tfields if f.name == auto_col
            )
            if explicit_auto:
                # MySQL/B-format rule: explicit values advance the
                # counter past their maximum
                mx = aligned.agg(F.max(auto_col)).collect()[0][0]
                if mx is not None:
                    meta["auto_seq"] = max(
                        meta.get("auto_seq", 1), int(mx) + 1
                    )
            else:
                aligned = self._assign_auto_ids(
                    aligned, name, auto_col, auto_type
                )
        if generated or auto_col is not None:
            # full row in declared order; stored generated columns are
            # (re)computed from the incoming tuple
            aligned = aligned.select(
                *[
                    F.expr(generated[f.name]).cast(f.dataType)
                    .alias(f.name)
                    if f.name in generated else F.col(f.name)
                    for f in tfields
                ]
            )
        # BEFORE INSERT row triggers fire on the schema-aligned tuple,
        # as PG fires them after the tuple is cast to the table rowtype
        if transform is not None:
            aligned = transform(aligned)
        captured = None
        if capture:
            captured = self.spark.createDataFrame(
                aligned.collect(), aligned.schema
            )
            aligned = captured
        self._write(name, aligned, mode="append",
                    ignore_errors=ignore_errors)
        return captured

    def _assign_auto_ids(self, df: DataFrame, name: str, col: str,
                         dtype) -> DataFrame:
        """Dense unique ids for an omitted AUTO_INCREMENT column
        WITHOUT a global sort or single-partition window: row_number
        within each input partition plus a broadcast per-partition
        offset (two jobs: one count, one write).  The reference's
        auto_increment likewise guarantees uniqueness, not arrival
        order, once writes parallelize."""
        from pyspark.sql.window import Window

        meta = self.tables[name]
        start = int(meta.get("auto_seq", 1))
        tagged = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        # pin the partitioning: the count job below and the write job
        # later would otherwise each re-execute the lazy plan, and a
        # non-deterministic source (shuffle/sample/LIMIT) could place
        # rows differently the second time — duplicate ids or ids
        # beyond the reserved range.  localCheckpoint materializes the
        # tagged rows once so both jobs read the same placement.
        tagged = tagged.localCheckpoint(eager=True)
        sizes = sorted(
            (r[0], r[1])
            for r in tagged.groupBy("__pid").count().collect()
        )
        offs, acc = {}, 0
        for pid, n in sizes:
            offs[pid] = acc
            acc += n
        if not offs:
            meta["auto_seq"] = start
            return df.withColumn(col, F.lit(None).cast(dtype))
        mapping = F.create_map(
            *[F.lit(x) for kv in offs.items() for x in kv]
        )
        rn = F.row_number().over(
            Window.partitionBy("__pid").orderBy("__mid")
        )
        out = (
            tagged.withColumn(
                col,
                (
                    F.lit(start - 1)
                    + F.element_at(mapping, F.col("__pid"))
                    + rn
                ).cast(dtype),
            )
            .drop("__pid", "__mid")
        )
        meta["auto_seq"] = start + acc
        # B-format last_insert_id(): the FIRST generated id of this
        # statement (MySQL's documented multi-row rule); explicit
        # values never update it
        if self.engine is not None and acc > 0:
            self.engine.last_insert_id = start
        return out

    def drop(self, name: str, purge: bool = False) -> bool:
        """DROP TABLE.  Without PURGE the storage is RENAMED into the
        recyclebin (one O(1) metadata move — storage/tcap/tcap_drop.cpp
        TrDrop parks the relfilenode under pg_recyclebin instead of
        unlinking), restorable by TIMECAPSULE TABLE ... TO BEFORE
        DROP; with PURGE the files are unlinked immediately."""
        import shutil as _shutil
        import time as _time

        name = name.lower()
        meta = self.tables.pop(name, None)
        if meta is None:
            return False
        tbl_dir = os.path.join(self.root, name)
        if meta.get("temp"):
            # temp relations are not recyclebin-protected (the
            # reference's recyclebin likewise excludes temp tables)
            purge = True
        if purge:
            _shutil.rmtree(tbl_dir, ignore_errors=True)
        else:
            csn = self.next_csn
            self.next_csn += 1
            rb_dir = os.path.join(self.root, f"__rb_{csn}_{name}")
            k = 0
            while os.path.exists(rb_dir):
                # a previous session's recycled dir may linger in a
                # shared warehouse — the rb name must be free on DISK,
                # not just in this session's csn space
                k += 1
                rb_dir = os.path.join(
                    self.root, f"__rb_{csn}_{name}_{k}"
                )
            if os.path.isdir(tbl_dir):
                os.rename(tbl_dir, rb_dir)
            self.recyclebin.append({
                "name": name, "meta": meta, "dir": rb_dir,
                "csn": csn, "ts": _time.time(),
            })
        self.spark.catalog.dropTempView(name)
        # purge per-table security/trigger state so a recreated
        # same-name table does not inherit old policies, and a later
        # SET ROLE does not try to re-point a view at the dropped
        # table's path (PG drops pg_rlspolicy/pg_trigger rows with the
        # relation)
        eng = self.engine
        if eng is not None:
            eng.triggers.pop(name, None)
            eng.rls_enabled.discard(name)
            eng.rls_policies.pop(name, None)
            eng.acl.pop(name, None)
            from .index_lifecycle import drop_table

            drop_table(eng, name)
            for label, cols in list(eng.resource_labels.items()):
                kept = [(t, c) for t, c in cols if t != name]
                if kept:
                    eng.resource_labels[label] = kept
                else:
                    del eng.resource_labels[label]
        return True

    def drop_temp_tables(self) -> list[str]:
        """Session-end cleanup: drop every temp relation (openGauss
        unlinks LOCAL temp storage when the session exits)."""
        dropped = [
            n for n, meta in list(self.tables.items())
            if meta.get("temp")
        ]
        for n in dropped:
            self.drop(n, purge=True)
        return dropped

    def vacuum(self, name: str, target_file_bytes: int = 128 << 20
               ) -> tuple[int, int]:
        """VACUUM FULL analogue (commands/vacuum.cpp:8 — FULL rewrites
        the relation compactly): rewrite the table's parquet files into
        ~target_file_bytes-sized files and swap atomically. On a real
        cluster this is THE maintenance op an append-heavy managed
        table needs — INSERT INTO adds a file set per statement, and
        small files are the canonical 100 TB scan killer. The swap goes
        through a side directory (write .compacting → rename old →
        rename in → drop old), so a reader never observes a PARTIAL
        table — though between the two renames the path is briefly
        absent, so a concurrent reader can error rather than see torn
        data (single-process emulation; a production deployment uses a
        transactional table format — Delta/Iceberg — whose metadata
        commit makes the swap truly atomic). Returns
        (files_before, files_after)."""
        import glob as _glob
        import shutil

        name = name.lower()
        if name not in self.tables:
            raise KeyError(f"managed table {name!r} does not exist")
        path = self._path(name)
        parts = _glob.glob(
            os.path.join(path, "**", "part-*"), recursive=True
        )
        before = len(parts)
        total = sum(os.path.getsize(p) for p in parts)
        n_out = max(1, -(-total // target_file_bytes))
        compacting = self.next_gen_dir(name)
        shutil.rmtree(compacting, ignore_errors=True)
        # label column(s) already materialized on disk
        pcols = self._dir_cols(name)
        df = self.scan(name)
        if pcols:
            # partitioned layout: compact WITHIN each partition dir
            # (repartition on the key; coalesce would merge across keys
            # and the writer would re-split them into tiny files again)
            (
                df.repartition(int(n_out), *pcols)
                .write.mode("overwrite")
                .partitionBy(*pcols)
                .parquet(compacting)
            )
        else:
            (
                df.coalesce(int(n_out))
                .write.mode("overwrite")
                .parquet(compacting)
            )
        # generational swap: the new generation becomes live, the old
        # one stays on disk so TIMECAPSULE can still read prior CSNs —
        # a reader never observes a partial table (PURGE reclaims)
        self.bump_gen(name, written=df)
        return before, len(
            _glob.glob(
                os.path.join(self._path(name), "**", "part-*"),
                recursive=True,
            )
        )

    def rewrite(self, name: str, df: DataFrame) -> None:
        """Copy-on-write relation rewrite (the columnar UPDATE/DELETE
        shape): write the new version to the NEXT generation directory,
        then make it live — a reader never observes a PARTIAL table,
        the writer never self-overwrites the files it is reading, and
        the superseded generation stays on disk as the TIMECAPSULE
        undo (storage/tcap keeps old versions for flashback the same
        way; PURGE reclaims them)."""
        import shutil

        name = name.lower()
        enum_cols = self.tables[name].get("enum_cols")
        if enum_cols and self.engine is not None:
            from .user_types import enum_guard

            df = enum_guard(self.engine, df, enum_cols)
        compacting = self.next_gen_dir(name)
        shutil.rmtree(compacting, ignore_errors=True)
        spec_meta = self.tables[name].get("partition_spec")
        if spec_meta:
            from .partition_ddl import PartitionSpec, apply_labels

            # recompute the routing label: the rewritten relation may
            # carry updated key values (UPDATE moving rows across
            # partitions — the reference's row-movement path)
            df, spec = apply_labels(
                df, PartitionSpec.from_meta(spec_meta)
            )
            self.tables[name]["partition_spec"] = spec.to_meta()
            # keep the catalog schema current (ALTER rewrites change
            # it; a later TRUNCATE must re-register the ALTERed shape)
            hidden = set(spec.partition_cols())
            self.tables[name]["schema_ddl"] = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in df.schema.fields if f.name not in hidden
            )
            writer = df.write.mode("overwrite").partitionBy(
                *spec.partition_cols()
            )
        else:
            pcol = self.tables[name].get("partition_by")
            writer = df.write.mode("overwrite")
            if pcol is not None:
                writer = writer.partitionBy(pcol)
        try:
            writer.parquet(compacting)
        except Exception as e:  # noqa: BLE001 — translate routing abort
            shutil.rmtree(compacting, ignore_errors=True)
            from .partition_ddl import NO_HOME_MSG

            if NO_HOME_MSG[:20] in str(e):
                raise ValueError(NO_HOME_MSG) from None
            raise
        self.bump_gen(name, written=df)

    def _path(self, name: str) -> str:
        """The LIVE generation's directory.  gen 0 keeps the historic
        ``data`` name; copy-on-write rewrites bump to ``gen<N>`` and
        leave prior generations on disk for TIMECAPSULE."""
        g = self.tables.get(name, {}).get("gen", 0)
        return os.path.join(self.root, name, "data" if g == 0 else f"gen{g}")

    def _gen_path(self, name: str, gen: int) -> str:
        return os.path.join(
            self.root, name, "data" if gen == 0 else f"gen{gen}"
        )

    def next_gen_dir(self, name: str) -> str:
        """Target directory for the NEXT generation (not yet live)."""
        return self._gen_path(name, self.tables[name].get("gen", 0) + 1)

    def bump_gen(self, name: str, written: DataFrame | None = None
                 ) -> None:
        """Make the next generation live and commit its manifest.
        ``written`` is the frame the new generation was written from:
        when it has the old generation's shape, the kept scan schema
        carries over (see scan())."""
        meta = self.tables[name]
        keep = written is not None and self._keeps_shape(name, written)
        memo = meta.pop("scan_schema", None)
        meta["gen"] = meta.get("gen", 0) + 1
        meta["version"] += 1
        if keep:
            meta["scan_schema"] = (meta["gen"], memo[1])
        self._publish(name)

    def read_snapshot(self, name: str, csn: int) -> DataFrame:
        """The relation AS OF a commit sequence number — the
        TIMECAPSULE CSN scan (storage/tcap/tcap_version.cpp
        TvUheapSearchBuffer walks undo versions; here an old version
        is an old manifest's file list over retained generations, so
        the snapshot scan is a plain pruned parquet read)."""
        name = name.lower()
        meta = self.tables[name]
        hist = [h for h in meta.get("history", []) if h["csn"] <= csn]
        if not hist:
            # tcap_version.cpp:372 — "cannot find the restore point,
            # timecapsule csn is too old"
            raise ValueError(
                f"cannot find the restore point for {name!r}: "
                f"timecapsule csn {csn} is too old"
            )
        h = hist[-1]
        if h["csn"] < meta.get("barrier_csn", 0):
            # version flashback may not cross DDL — the definition or
            # physical layout changed (tcap_version.cpp refuses with
            # "Restore point too old" once undo crosses a DDL)
            raise ValueError(
                f"cannot TIMECAPSULE {name!r} to csn {csn}: the table "
                "definition changed after that point (flashback cannot "
                "cross DDL)"
            )
        if not h["files"]:
            return self.read(name).limit(0)
        gen_dir = self._gen_path(name, h["gen"])
        df = (
            self.spark.read.option("basePath", gen_dir)
            .parquet(*[os.path.join(gen_dir, f) for f in h["files"]])
        )
        from .partition_ddl import PART_COL, SUBPART_COL

        for hidden in (PART_COL, SUBPART_COL):
            if hidden in df.columns:
                df = df.drop(hidden)
        return df

    def resolve_timestamp(self, name: str, epoch: float) -> int:
        """TIMECAPSULE TIMESTAMP → the last CSN committed at or before
        the instant (tcap_version.cpp TvFetchSnpshotFromSyn maps a
        timestamp onto the CSN log the same way)."""
        name = name.lower()
        hist = [
            h for h in self.tables[name].get("history", [])
            if h["ts"] <= epoch
        ]
        if not hist:
            raise ValueError(
                f"cannot find the restore point for {name!r}: "
                "timecapsule time is too old"
            )
        return hist[-1]["csn"]

    def _write(self, name: str, df: DataFrame, mode: str,
               ignore_errors: bool = False) -> None:
        n0 = df.count() if ignore_errors else None
        enum_cols = self.tables[name].get("enum_cols")
        if enum_cols and self.engine is not None:
            from .user_types import enum_guard

            df = enum_guard(self.engine, df, enum_cols,
                            ignore=ignore_errors)
        dcol = self.tables[name].get("distribute_by")
        if dcol and dcol in df.columns:
            # DISTRIBUTE BY HASH(col): every write hash-partitions on
            # the distribution key, so equal keys land together — the
            # MPP co-location contract (joins/aggs on the key then
            # shuffle less; one exchange per write, as the reference's
            # datanode hashing costs one redistribution on load)
            df = df.repartition(F.col(dcol))
        spec_meta = self.tables[name].get("partition_spec")
        if spec_meta:
            from .partition_ddl import (
                PART_COL,
                PartitionSpec,
                apply_labels,
            )

            df, spec = apply_labels(
                df, PartitionSpec.from_meta(spec_meta),
                ignore=ignore_errors,
            )
            # INTERVAL auto-extension may have appended sys_p* bounds
            self.tables[name]["partition_spec"] = spec.to_meta()
            writer = df.write.mode(mode).partitionBy(
                *spec.partition_cols()
            )
        else:
            writer = df.write.mode(mode)
            pcol = self.tables[name].get("partition_by")
            if pcol is not None:
                writer = writer.partitionBy(pcol)
        if ignore_errors:
            # the skipped count is the hint's user-facing contract
            # (openGauss raises each skip to a WARNING); two bounded
            # count jobs, paid ONLY on the ignore path
            self.last_insert_skipped = n0 - df.count()
        if not self._keeps_shape(name, df):
            self.tables[name].pop("scan_schema", None)
        try:
            writer.parquet(self._path(name))
        except Exception as e:  # noqa: BLE001 — translate routing abort
            from .partition_ddl import NO_HOME_MSG

            if NO_HOME_MSG[:20] in str(e):
                raise ValueError(NO_HOME_MSG) from None
            raise
        self.tables[name]["version"] += 1
        self._publish(name)


class FlagCount:
    """The number of rows of ``df`` whose boolean column ``flag`` is
    true, counted by whatever action consumes ``.frame`` — the
    ModifyTable affected-row count taken in the rewrite's own pass
    (``DataFrame.observe``) instead of a separate count() job.

    The flag is a column, not an expression, so no constant condition
    can fold through the observation and let the optimizer prune it
    (a DELETE without WHERE filters on a flag that is always true)."""

    def __init__(self, df: DataFrame, flag: str):
        from pyspark.sql import Observation

        self._df, self._flag = df, flag
        self._obs = Observation()
        self.frame = df.observe(
            self._obs, F.count_if(F.col(flag)).alias("n")
        )

    def value(self) -> int:
        # a bounded wait (Observation.get blocks until the metric
        # arrives, which is forever if no action ran the observed plan)
        row = self._obs._jo.getRowOrEmpty()
        if row.isDefined():
            return int(row.get().getLong(0))
        return self._df.filter(F.col(self._flag)).count()


# OptTemp (gram.y:6480 CreateStmt): TEMPORARY | TEMP | LOCAL TEMP |
# GLOBAL TEMP — all RELPERSISTENCE_TEMP (GLOBAL is deprecated there);
# ON COMMIT PRESERVE/DELETE ROWS is accepted as metadata: the batch
# engine is one implicit transaction per session, so rows persist
# until session end either way (drop_temp_tables) — the documented
# autocommit position
# UNLOGGED is tolerated as plain persistent storage: parquet writes
# have no WAL to skip, which is exactly the durability class UNLOGGED
# asks for less of (gram.y OptTemp RELPERSISTENCE_UNLOGGED)
_TEMP_PREFIX = (r"(?P<temp>(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+)?"
                r"(?:UNLOGGED\s+)?")
_ON_COMMIT = r"(?:ON\s+COMMIT\s+(?:PRESERVE|DELETE)\s+ROWS\s*)?"
_CTAS = re.compile(
    r"^\s*CREATE\s+" + _TEMP_PREFIX + r"TABLE\s+(?P<name>\w+)\s+"
    r"(?:PARTITION\s+BY\s+\(?(?P<pcol>\w+)\)?\s+)?"
    + _ON_COMMIT +
    r"AS\s+(?P<stmt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_PLAIN = re.compile(
    r"^\s*CREATE\s+" + _TEMP_PREFIX
    + r"TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"\(\s*(?P<cols>.+?)\s*\)\s*"
    r"(?:PARTITION\s+BY\s+\(?(?P<pcol>\w+)\)?\s*)?"
    + _ON_COMMIT + r";?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# per-column constraint tail we tolerate as metadata (no constraint
# enforcement on an immutable columnar store — Spark's own DDL ignores
# them too); DEFAULT/CHECK/REFERENCES change INSERT semantics and refuse
_CONSTRAINT_TAIL = re.compile(
    r"\s+(PRIMARY\s+KEY|NOT\s+NULL|NULL|UNIQUE)\b", re.IGNORECASE
)
_TABLE_CONSTRAINT = re.compile(
    r"^\s*(PRIMARY\s+KEY|UNIQUE|FOREIGN\s+KEY|CONSTRAINT|CHECK)\b",
    re.IGNORECASE,
)


_GENERATED = re.compile(
    r"\s+GENERATED\s+ALWAYS\s+AS\s*\((?P<expr>.+)\)\s*(?:STORED)?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_AUTO_INC = re.compile(r"\s+AUTO_INCREMENT\b", re.IGNORECASE)


def _parse_column_defs(cols: str) -> tuple[list[dict], tuple[str, ...]]:
    """Column-definition parser: 'a int PRIMARY KEY, b text NOT NULL,
    total double GENERATED ALWAYS AS (a * 2) STORED, id bigint
    AUTO_INCREMENT, PRIMARY KEY (a)' → one dict per column with
    name/type/generated/auto_increment.  Paren-aware comma split,
    constraint tails stripped, table-level constraint entries skipped,
    DEFAULT/CHECK/REFERENCES refused (they change INSERT semantics).
    Generated columns: gram.y:8122 (GENERATED ALWAYS AS '(' a_expr ')'
    generated_column_option); AUTO_INCREMENT: gram.y:7650-7664 (the
    B-format constraint) with heap.cpp:4197's one-per-table rule and
    heap.cpp:4352's no-generated-over-auto rule."""
    parsed = []
    n_auto = 0
    pk: list[str] = []
    for e in split_top(cols):
        mpk = re.match(
            r"^\s*PRIMARY\s+KEY\s*\(\s*([\w\s,]+?)\s*\)", e, re.IGNORECASE
        )
        if mpk:
            pk.extend(c.strip().lower() for c in mpk.group(1).split(","))
            continue
        if _TABLE_CONSTRAINT.match(e):
            continue  # table-level constraint: metadata only
        if re.search(r"\bPRIMARY\s+KEY\b", e, re.IGNORECASE):
            # column-tail PRIMARY KEY: the key is this column
            pk.append(e.split(None, 1)[0].lower())
        gen = None
        mg = _GENERATED.search(e)
        if mg:
            gen = mg.group("expr").strip()
            e = e[: mg.start()].rstrip()
        auto = bool(_AUTO_INC.search(e))
        if auto:
            n_auto += 1
            if n_auto > 1:
                # heap.cpp:4197 — only one auto_increment column
                raise ValueError(
                    "there can be only one auto_increment column"
                )
            e = _AUTO_INC.sub("", e)
        # DEFAULT <expr>: recorded per column and applied by the
        # INSERT paths (unlisted column-list slots, DEFAULT VALUES) —
        # parse_utilcmd.cpp's attribute defaults.  The expression runs
        # to the next top-level constraint keyword.
        default = None
        mdef = re.search(r"\bDEFAULT\s+", e, re.IGNORECASE)
        if mdef:
            tail = e[mdef.end():]
            # a keyword INSIDE a quoted literal (DEFAULT 'NOT STARTED')
            # or a call never terminates the expression
            stop = next(top_level(
                tail, r"\b(?:PRIMARY|NOT|UNIQUE|CHECK|REFERENCES)\b"
            ), None)
            cut = stop.start() if stop else len(tail)
            default = tail[:cut].strip()
            if not default:
                raise ValueError(
                    f"CREATE TABLE: empty DEFAULT expression in {e!r}"
                )
            e = (e[: mdef.start()] + " " + tail[cut:]).rstrip()
        if re.search(r"\b(CHECK|REFERENCES)\b", e, re.IGNORECASE):
            raise NotImplementedError(
                "CREATE TABLE: CHECK/REFERENCES enforcement has no "
                "place on an immutable columnar store — validate with "
                "a WHERE/RAISE guard in the INSERT ... SELECT"
            )
        e = _CONSTRAINT_TAIL.split(e)[0].strip()
        toks = e.split(None, 1)
        if len(toks) != 2:
            raise ValueError(f"CREATE TABLE: cannot parse column {e!r}")
        ctype = toks[1].strip()
        # serial pseudo-types create an implicit sequence
        # (parse_utilcmd.cpp:1051) — the identity path IS that sequence
        serial_map = {
            "smallserial": "smallint", "serial2": "smallint",
            "serial": "int", "serial4": "int",
            "bigserial": "bigint", "serial8": "bigint",
        }
        if ctype.lower() in serial_map:
            ctype = serial_map[ctype.lower()]
            auto = True
            n_auto += 1
            if n_auto > 1:
                raise NotImplementedError(
                    "one identity (serial/auto_increment) column per "
                    "table — generate further ids in the INSERT ... "
                    "SELECT (row_number over a chosen order)"
                )
        parsed.append({
            "name": toks[0].lower(),
            "type": ctype,
            "generated": gen,
            "auto_increment": auto,
            "default": default,
        })
    if not parsed:
        raise ValueError("CREATE TABLE: no columns declared")
    auto_cols = {c["name"] for c in parsed if c["auto_increment"]}
    for c in parsed:
        if c["generated"] and auto_cols and re.search(
            r"\b(" + "|".join(map(re.escape, auto_cols)) + r")\b",
            c["generated"], re.IGNORECASE,
        ):
            # heap.cpp:4352
            raise ValueError(
                "generated column cannot refer to auto_increment column"
            )
    # PK recorded as METADATA (no uniqueness enforcement on an
    # immutable store) — the key ON DUPLICATE KEY UPDATE matches on
    seen: list[str] = []
    for c in pk:
        if c not in seen:
            seen.append(c)
    return parsed, tuple(seen)


def _parse_column_list(cols: str) -> list[tuple[str, str]]:
    """(name, type) pairs for callers without a generated/identity
    write path (the partitioned CREATE) — those column kinds refuse."""
    defs, _pk = _parse_column_defs(cols)
    bad = [c["name"] for c in defs if c["generated"] or c["auto_increment"]]
    if bad:
        raise NotImplementedError(
            f"GENERATED/AUTO_INCREMENT column(s) {bad} are not supported "
            "on partitioned tables — compute them in the INSERT ... "
            "SELECT instead"
        )
    return [(c["name"], c["type"]) for c in defs]


_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"(?P<purge>PURGE)?\s*;?\s*$",
    re.IGNORECASE,
)


_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+(?P<name>\w+)\s+"
    r"AS\s+(?P<stmt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


_VACUUM = re.compile(
    r"^\s*VACUUM\s+(?:(?:FULL|ANALYZE|VERBOSE|FREEZE)\s+)*"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_CLUSTER = re.compile(
    r"^\s*CLUSTER\s+(?P<name>\w+)\s+ON\s+\(?(?P<col>\w+)\)?\s*;?\s*$",
    re.IGNORECASE,
)


_ALTER_ADD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+(?:COLUMN\s+)?"
    r"(?P<col>\w+)\s+(?P<type>\w+(?:\s+\w+)?"
    r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s+DEFAULT\s+(?P<default>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+(?:COLUMN\s+)?"
    r"(?P<col>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ALTER\s+(?:COLUMN\s+)?"
    r"(?P<col>\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+"
    r"(?P<type>\w+(?:\s+\w+)?(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"(?:\s+USING\s+(?P<using>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_RENAME_COL = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+RENAME\s+(?:COLUMN\s+)?"
    r"(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME_TBL = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+RENAME\s+TO\s+"
    r"(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


_ALTER_ADD_PK = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+"
    r"(?:CONSTRAINT\s+\w+\s+)?PRIMARY\s+KEY\s*"
    r"\(\s*(?P<cols>[\w\s,]+?)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)


def _handle_alter_table(engine, query: str) -> DataFrame | None:
    """ALTER TABLE over managed tables (tablecmds.cpp AlterTable):
    ADD/DROP/RENAME COLUMN and RENAME TO.  Column changes run as ONE
    copy-on-write relation rewrite (TableManager.rewrite — readers
    never observe a partial table); PG's metadata-only fast path for
    nullable ADD COLUMN is a transactional-format feature (Delta/
    Iceberg metadata commit) — documented cost difference, same
    semantics.  Catalog (parquet star schema) tables are read-only."""
    mm = _ALTER_ADD_PK.match(query)
    if mm and mm.group("name").lower() in engine.managed_tables.tables:
        # metadata-only, like the CREATE-time declaration: records the
        # key ON DUPLICATE KEY UPDATE matches on (tablecmds.cpp adds
        # the index; an immutable store has no uniqueness to enforce).
        # CTAS tables gain an upsert key this way.
        name = mm.group("name").lower()
        cols = tuple(
            c.strip().lower() for c in mm.group("cols").split(",")
        )
        known = {
            c.lower()
            for c in engine.managed_tables.read(name).columns
        }
        missing = [c for c in cols if c not in known]
        if missing:
            raise KeyError(
                f"ALTER TABLE: key column(s) {missing} do not exist"
            )
        engine.managed_tables.tables[name]["primary_key"] = cols
        return status_frame(engine.spark, ("ALTER TABLE", name, f"ADD PRIMARY KEY ({','.join(cols)})"), "tag STRING, tbl STRING, action STRING",)
    m = (_ALTER_ADD.match(query) or _ALTER_DROP.match(query)
         or _ALTER_TYPE.match(query) or _ALTER_RENAME_COL.match(query)
         or _ALTER_RENAME_TBL.match(query))
    if m is None:
        return None
    name = m.group("name").lower()
    mt = engine.managed_tables
    if name not in mt.tables:
        if name in engine.tables:
            raise ValueError(
                f"ALTER TABLE: {name!r} is a read-only catalog table — "
                "CTAS a managed copy first"
            )
        raise KeyError(f"ALTER TABLE: managed table {name!r} does not exist")
    spec_meta = mt.tables[name].get("partition_spec")
    if spec_meta:
        # the partition KEY is load-bearing (every directory label
        # derives from it): dropping/renaming/retyping it would orphan
        # the layout — the reference refuses partition-key alteration
        # too (tablecmds.cpp ATPrepAlterColumnType on partkeys)
        key = spec_meta["key"]
        for pat, grp in ((_ALTER_DROP, "col"), (_ALTER_TYPE, "col"),
                         (_ALTER_RENAME_COL, "old")):
            pm = pat.match(query)
            if pm and pm.group(grp).lower() == key:
                raise ValueError(
                    f"ALTER TABLE: {key!r} is the partition key of "
                    f"{name!r} — recreate the table to change it"
                )
        if not mt._has_data(name):
            raise NotImplementedError(
                "ALTER TABLE on an EMPTY partitioned table: the "
                "declared schema lives in the catalog until the first "
                "INSERT — recreate the table with the desired columns"
            )
    df = mt.scan(name)
    mm = _ALTER_ADD.match(query)
    if mm:
        col, typ = mm.group("col").lower(), mm.group("type")
        if col in [c.lower() for c in df.columns]:
            raise ValueError(f"ALTER TABLE: column {col!r} already exists")
        from .create_function import _map_type

        default = mm.group("default")
        value = (
            F.expr(default) if default is not None else F.lit(None)
        ).cast(_map_type(typ))
        mt.mark_ddl(name, "alter")
        mt.rewrite(name, df.withColumn(col, value))
        return status_frame(engine.spark, ("ALTER TABLE", name, f"ADD COLUMN {col}"), "tag STRING, tbl STRING, action STRING",)
    mm = _ALTER_DROP.match(query)
    if mm:
        col = mm.group("col").lower()
        cols = [c for c in df.columns if c.lower() != col]
        if len(cols) == len(df.columns):
            raise KeyError(f"ALTER TABLE: column {col!r} does not exist")
        if not cols:
            raise ValueError("ALTER TABLE: cannot drop the last column")
        gen_meta = mt.tables[name].get("generated") or {}
        deps = [
            g for g, e in gen_meta.items()
            if g != col and _re.search(
                rf"\b{_re.escape(col)}\b", e, _re.IGNORECASE
            )
        ]
        if deps:
            # tablecmds.cpp refuses dropping a generation dependency
            # without CASCADE
            raise ValueError(
                f"cannot drop {col!r}: generated column(s) {deps} "
                "depend on it"
            )
        mt.mark_ddl(name, "alter")
        mt.rewrite(name, df.select(*cols))
        gen_meta.pop(col, None)
        if mt.tables[name].get("auto_col") == col:
            mt.tables[name].pop("auto_col", None)
        return status_frame(engine.spark, ("ALTER TABLE", name, f"DROP COLUMN {col}"), "tag STRING, tbl STRING, action STRING",)
    mm = _ALTER_TYPE.match(query)
    if mm:
        col, typ = mm.group("col").lower(), mm.group("type")
        if col not in [c.lower() for c in df.columns]:
            raise KeyError(f"ALTER TABLE: column {col!r} does not exist")
        from .create_function import _map_type

        # tablecmds.cpp ATExecAlterColumnType: the rewrite applies the
        # USING expression (default: a cast) to every existing row
        value = (
            F.expr(mm.group("using")) if mm.group("using") is not None
            else F.col(col)
        ).cast(_map_type(typ))
        mt.mark_ddl(name, "alter")
        mt.rewrite(name, df.withColumn(col, value))
        return status_frame(engine.spark, ("ALTER TABLE", name, f"ALTER COLUMN {col} TYPE"), "tag STRING, tbl STRING, action STRING",)
    mm = _ALTER_RENAME_COL.match(query)
    if mm:
        old, new = mm.group("old").lower(), mm.group("new").lower()
        if old not in [c.lower() for c in df.columns]:
            raise KeyError(f"ALTER TABLE: column {old!r} does not exist")
        if new in [c.lower() for c in df.columns]:
            raise ValueError(f"ALTER TABLE: column {new!r} already exists")
        gen_meta = mt.tables[name].get("generated") or {}
        if old in gen_meta or any(
            _re.search(rf"\b{_re.escape(old)}\b", e, _re.IGNORECASE)
            for e in gen_meta.values()
        ):
            raise NotImplementedError(
                f"RENAME of {old!r} would orphan a stored generation "
                "expression — drop and re-add the generated column"
            )
        mt.mark_ddl(name, "alter")
        mt.rewrite(name, df.withColumnRenamed(old, new))
        if mt.tables[name].get("auto_col") == old:
            mt.tables[name]["auto_col"] = new
        return status_frame(engine.spark, ("ALTER TABLE", name, f"RENAME {old} TO {new}"), "tag STRING, tbl STRING, action STRING",)
    mm = _ALTER_RENAME_TBL.match(query)
    new = mm.group("new").lower()
    if new in mt.tables or new in engine.tables:
        raise ValueError(f"ALTER TABLE: table {new!r} already exists")
    import shutil as _shutil

    entry = mt.tables.pop(name)
    _shutil.move(os.path.join(mt.root, name), os.path.join(mt.root, new))
    mt.tables[new] = entry
    engine.spark.catalog.dropTempView(name)
    mt.mark_ddl(new, "rename")
    mt._register_view(new)
    return status_frame(engine.spark, ("ALTER TABLE", name, f"RENAME TO {new}"), "tag STRING, tbl STRING, action STRING",)




import re as _re


def _re_is_ctas(query: str) -> bool:
    return _CTAS.match(query) is not None

_COMMENT = re.compile(
    r"^\s*COMMENT\s+ON\s+"
    r"(?P<kind>TABLE|COLUMN|VIEW|MATERIALIZED\s+VIEW|INDEX|FUNCTION)\s+"
    r"(?P<obj>\w+(?:\.\w+)?)\s+IS\s+(?P<text>NULL|'(?:[^']|'')*')"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


def _handle_comment(engine, query: str) -> DataFrame | None:
    """COMMENT ON ... IS 'text' | NULL (commands/comment.cpp
    CommentObject → pg_description rows; IS NULL deletes).  Queryable
    back as SELECT * FROM pg_description."""
    m = _COMMENT.match(query)
    if m is None:
        return None
    kind = re.sub(r"\s+", " ", m.group("kind").upper())
    obj = m.group("obj").lower()
    if kind == "COLUMN":
        if "." not in obj:
            raise ValueError(
                "COMMENT ON COLUMN requires <table>.<column>"
            )
        tbl, col = obj.split(".", 1)
        known = set()
        if tbl in engine.managed_tables.tables:
            known = {
                c.lower()
                for c in engine.managed_tables.read(tbl).columns
            }
        elif tbl in engine.tables:
            known = {c.lower() for c in engine.table(tbl).columns}
        else:
            raise KeyError(f"COMMENT ON: table {tbl!r} not found")
        if col not in known:
            raise KeyError(
                f"COMMENT ON: column {col!r} of {tbl!r} not found"
            )
    elif kind == "TABLE" and obj not in engine.managed_tables.tables \
            and obj not in engine.tables:
        raise KeyError(f"COMMENT ON: table {obj!r} not found")
    text = m.group("text")
    if text.upper() == "NULL":
        engine.comments.pop((kind, obj), None)
    else:
        engine.comments[(kind, obj)] = text[1:-1].replace("''", "'")
    return status_frame(engine.spark, ("COMMENT", kind, obj), "tag STRING, objtype STRING, objname STRING",)


_STORAGE_CLAUSE = re.compile(
    r"\s+(?:WITH\s*\((?P<opts>[^)]*)\)|(?:NO)?COMPRESS\b"
    r"|TABLESPACE\s+\w+"
    r"|DISTRIBUTE\s+BY\s+(?:HASH\s*\(\s*(?P<dcol>\w+)\s*\)|REPLICATION)"
    r"|TO\s+GROUP\s+\w+)",
    re.IGNORECASE,
)


def _strip_storage_clauses(query: str) -> tuple[str, dict]:
    """openGauss storage/distribution clauses on CREATE TABLE
    (gram.y:6483 OptWith/OptCompress/OptDistributeBy/OptSubCluster):
    ``WITH (ORIENTATION = COLUMN, COMPRESSION = ...)`` — parquet IS
    the column store, so orientation is recorded, not translated;
    ``DISTRIBUTE BY HASH(col)`` — the MPP distribution key, honored as
    a hash repartition on every write (co-located layout);
    ``DISTRIBUTE BY REPLICATION`` / ``TO GROUP`` / ``TABLESPACE`` /
    ``COMPRESS`` — node-group placement is the cluster manager's job
    here, accepted as metadata.  Only the statement HEAD (before a
    top-level AS) is stripped, so CTAS bodies with CTEs stay intact."""
    if not re.match(r"^\s*CREATE\b", query, re.IGNORECASE) \
            or "TABLE" not in query.upper():
        return query, {}
    # the clauses live before the top-level AS
    m_as = next(top_level(query, r"\bAS\b"), None)
    as_at = m_as.start() if m_as else len(query)
    head, tail = query[:as_at], query[as_at:]
    meta: dict = {}

    def _sub(m: re.Match) -> str:
        if m.group("dcol"):
            meta["distribute_by"] = m.group("dcol").lower()
        if m.group("opts"):
            for part in m.group("opts").split(","):
                if "=" in part:
                    k, v = part.split("=", 1)
                    meta.setdefault("storage_options", {})[
                        k.strip().lower()
                    ] = v.strip().lower()
        return " "
    # the storage-clause grammar lives at depth 0 of the head; the
    # column list's parens must stay verbatim (a column named
    # "compress" or "tablespace_id" is NOT a storage clause).  Find
    # the first top-level paren group not owned by WITH(...) or
    # HASH(...) — that's the column list — and strip around it only.
    span = None
    for mp in top_level(head, r"\("):
        before = head[:mp.start()].rstrip()
        if not re.search(r"(?i)\b(?:WITH|HASH)$", before):
            close = close_paren(head, mp.start())
            span = (mp.start(), close + 1) if close != -1 else None
            break
    if span:
        s, e = span
        head2 = (
            _STORAGE_CLAUSE.sub(_sub, head[:s])
            + head[s:e]
            + _STORAGE_CLAUSE.sub(_sub, head[e:])
        )
    else:
        head2 = _STORAGE_CLAUSE.sub(_sub, head)
    return head2 + tail, meta


_SELECT_INTO = re.compile(
    r"\bINTO\s+(?P<temp>(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+)?"
    r"(?P<name>\w+)(?:\s+|\s*;?\s*$)",
    re.IGNORECASE,
)


def _try_select_into(engine, query: str) -> DataFrame | None:
    """``SELECT ... INTO [TEMP] <table> FROM ...`` (gram.y:573
    into_clause; parse_clause.cpp transformSelectStmt turns it into
    CREATE TABLE AS — so does this).  Only a TOP-LEVEL INTO counts, so
    CTE bodies and subqueries keep their text (PL do-blocks strip
    their variable-binding INTO before reaching Engine.sql)."""
    if not re.match(r"^\s*SELECT\b", query, re.IGNORECASE):
        return None
    if "into" not in query.lower():
        return None
    m = next(top_level(query, _SELECT_INTO), None)
    if m is None:
        return None
    rest = query[:m.start()] + query[m.end():]
    name = m.group("name").lower()
    rows = engine.managed_tables.create_as(name, engine.sql(rest))
    if m.group("temp"):
        engine.managed_tables.tables[name]["temp"] = True
    return status_frame(engine.spark, ("SELECT INTO", name, rows), "tag STRING, tbl STRING, rows BIGINT",)


# ------------------------------------------------------------ ModifyTable
#
# INSERT, UPDATE and DELETE on managed tables (executor/
# nodeModifyTable.cpp).  As in gram.y's InsertStmt, UpdateStmt and
# DeleteStmt, each verb is one statement with optional clauses: one
# clause split reads them and one handler per verb runs them, so the
# column-list, DEFAULT VALUES, upsert, REPLACE, FROM and USING
# spellings get the same triggers, RETURNING, ignore_error, RLS,
# generated-column and alias behaviour.

_DML_HEAD = re.compile(
    r"\s*(?P<verb>INSERT|REPLACE|UPDATE|DELETE)"
    # /*+ ignore_error */ (the B-format sql_ignore hint; regress
    # ignore/ suite): rows the write-side validators would abort on
    # (no matching partition, invalid enum label) FILTER instead, and
    # the result frame reports the skipped count
    r"(?P<hint>\s*/\*\+\s*ignore_error\s*\*/)?"
    r"\s+(?:(?P<kw>INTO|FROM)\s+)?(?P<name>\w+)"
    r"(?:\s+(?:AS\s+)?(?!(?:SET|FROM|WHERE|USING|RETURNING|DEFAULT"
    r"|VALUES|SELECT|WITH|TABLE)\b)(?P<alias>\w+))?",
    re.IGNORECASE,
)
# verb -> (the keyword before the target, the clause keywords in
# grammar order)
_DML_GRAMMAR = {
    "INSERT": ("INTO", ("ON DUPLICATE KEY UPDATE", "RETURNING")),
    "REPLACE": ("INTO", ("RETURNING",)),
    "UPDATE": ("", ("SET", "FROM", "WHERE", "RETURNING")),
    "DELETE": ("FROM", ("USING", "WHERE", "RETURNING")),
}


def _split_clauses(text: str, keys: tuple[str, ...]) -> dict[str, str]:
    """``text`` cut at the top-level clause keywords ``keys`` (grammar
    order) into {keyword: body}, the text before the first keyword
    under ``""``.  A keyword opens its clause at its first top-level
    occurrence after the previous clause's keyword and is body text
    anywhere else (``IS DISTINCT FROM`` inside a WHERE)."""
    pat = r"\b(" + "|".join(k.replace(" ", r"\s+") for k in keys) + r")\b"
    parts, key, start, rank = {}, "", 0, -1
    for m in top_level(text, pat):
        r = keys.index(" ".join(m.group(1).upper().split()))
        if r > rank:
            parts[key] = text[start:m.start()].strip()
            key, start, rank = keys[r], m.end(), r
    parts[key] = text[start:].strip()
    return parts


def _modify_table(engine, query: str, m: re.Match) -> DataFrame | None:
    """The one entry of INSERT/REPLACE/UPDATE/DELETE on a managed
    table; None for any other target or an unknown shape."""
    verb = m.group("verb").upper()
    kw, keys = _DML_GRAMMAR[verb]
    name = m.group("name").lower()
    if ((m.group("kw") or "").upper() != kw
            or name not in engine.managed_tables.tables):
        return None
    c = _split_clauses(query[m.end():].rstrip().removesuffix(";"), keys)
    head = c.pop("")
    alias = (m.group("alias") or name).lower()
    ignore = m.group("hint") is not None
    if verb in ("INSERT", "REPLACE"):
        return _insert(engine, name, verb, head, c, ignore)
    if head or (verb == "UPDATE" and "SET" not in c):
        return None
    if verb == "UPDATE":
        return _update(engine, name, alias, c, ignore)
    return _delete(engine, name, alias, c)


def _returning_frame(engine, rows_df, ret: str):
    """RETURNING projection (nodeModifyTable.cpp's returningList),
    MATERIALIZED before the copy-on-write swap — the lazy frame reads
    the pre-rewrite path, which the swap replaces.  PG streams
    RETURNING rows to the client the same way; the affected set is
    WHERE-bounded, not table-sized."""
    out = rows_df.selectExpr(*split_top(ret))
    return engine.spark.createDataFrame(out.collect(), out.schema)


def _split_set_clauses(sets: str) -> list[tuple[str, str]]:
    """``col = expr, ...`` → [(col, expr)]."""
    parsed = []
    for clause in split_top(sets):
        col, expr = clause.split("=", 1)
        parsed.append((col.strip(), expr.strip()))
    return parsed


def _source_table(engine, text: str):
    """The one relation of UPDATE's FROM or DELETE's USING clause,
    ``name [[AS] alias]``, read through the session catalog (engine
    views and managed tables alike) → (frame, alias)."""
    m = re.fullmatch(r"(\w+)(?:\s+(?:AS\s+)?(\w+))?", text, re.IGNORECASE)
    if m is None:
        raise NotImplementedError(
            f"FROM/USING takes one table name and an optional alias,"
            f" not {text!r}"
        )
    src = m.group(1).lower()
    return engine.spark.table(src), (m.group(2) or src).lower()


def _insert(engine, name: str, verb: str, head: str, c: dict,
            ignore: bool) -> DataFrame | None:
    """INSERT (gram.y InsertStmt) and REPLACE INTO: ``[(cols)]
    source`` or ``DEFAULT VALUES``, then ON DUPLICATE KEY UPDATE, then
    RETURNING.  Without a column list the source goes straight to
    insert_into, cast by position.  A column list expands to the
    insertable column order: listed columns take the source values,
    unlisted ones their declared DEFAULT expression (NULL when none —
    parse_utilcmd.cpp attribute defaults), the identity column its
    sequence value unless listed, generated columns their computed
    value.  DEFAULT VALUES is the empty column list over one row."""
    from .rls import check_privilege
    from .triggers import fire_insert_triggers

    cols = None
    if head.startswith("("):
        close = close_paren(head, 0)
        if close < 0 or not re.fullmatch(
            r"\s*\w+(?:\s*,\s*\w+)*\s*", head[1:close]
        ):
            return None
        cols = [x.strip().lower() for x in head[1:close].split(",")]
        head = head[close + 1:].strip()
    if cols is None and re.fullmatch(r"DEFAULT\s+VALUES", head,
                                     re.IGNORECASE):
        cols, head = [], None
    elif not re.match(r"(?:SELECT|WITH|VALUES|TABLE)\b", head,
                      re.IGNORECASE):
        return None
    check_privilege(engine, name, "insert")
    mt = engine.managed_tables
    src = (engine.spark.range(1).select() if head is None
           else engine.sql(head))
    if cols is not None:
        meta = mt.tables[name]
        generated = meta.get("generated") or {}
        auto_col = meta.get("auto_col")
        tfields = mt.read(name).schema.fields
        missing = [x for x in cols
                   if x not in {f.name.lower() for f in tfields}]
        if missing:
            raise KeyError(f"INSERT: column(s) {missing} do not exist")
        bad = [x for x in cols if x in generated]
        if bad:
            raise ValueError(
                f"cannot insert a non-DEFAULT value into generated "
                f"column(s) {bad} of {name!r}"
            )
        if len(set(cols)) != len(cols):
            raise ValueError("INSERT: column list has duplicates")
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT has {len(src.columns)} expression(s) for "
                f"{len(cols)} column(s)"
            )
        renamed = src.toDF(*[f"__c_{x}" for x in cols])
        defaults = meta.get("column_defaults") or {}
        fields = [
            f for f in tfields
            if f.name not in generated
            and (f.name != auto_col or auto_col in cols)
        ]
        src = cast_to(renamed.select(
            *[F.col(f"__c_{f.name}") if f.name in cols
              else F.expr(defaults[f.name]) if f.name in defaults
              else F.lit(None) for f in fields]
        ), fields)
    ret = c.get("RETURNING")
    if verb == "REPLACE" or "ON DUPLICATE KEY UPDATE" in c:
        if ret:
            # gram.y:22972 refuses RETURNING on the upsert
            raise NotImplementedError(
                f"{verb} ... RETURNING is not supported with ON "
                "DUPLICATE KEY UPDATE or REPLACE"
            )
        return _upsert(engine, name, verb, src,
                       c.get("ON DUPLICATE KEY UPDATE"))
    captured = mt.insert_into(
        name, src,
        transform=lambda d: fire_insert_triggers(engine, name, d),
        capture=bool(ret),
        ignore_errors=ignore,
    )
    if ret:
        # the inserted rows post-cast and post-trigger, as PG's
        # INSERT RETURNING
        return _returning_frame(engine, captured, ret)
    if ignore:
        return status_frame(engine.spark, ("INSERT", name, mt.last_insert_skipped), "tag STRING, tbl STRING, skipped BIGINT",)
    return status_frame(engine.spark, ("INSERT", name), "tag STRING, tbl STRING")


def _upsert(engine, name: str, verb: str, src: DataFrame,
            sets: str | None) -> DataFrame:
    """INSERT ... ON DUPLICATE KEY UPDATE (the B-format upsert;
    nodeModifyTable.cpp's upsert path — requires a key) and REPLACE
    INTO (gram.y:9552 DUPLICATE_REPLACE), which is the same statement
    with every non-key column set to ``VALUES(col)`` (``sets`` None).
    The recorded PRIMARY KEY is the match key; ``VALUES(col)``
    references the incoming row (rewritten to the source side), bare
    target column names qualify to the target; ``UPDATE NOTHING``
    keeps matched rows untouched (insert-only-if-new).  Executed as
    the one full-outer merge + copy-on-write rewrite MERGE uses."""
    from .merge import merge_into
    from .rls import check_privilege

    mt = engine.managed_tables
    meta = mt.tables[name]
    pk = meta.get("primary_key")
    if not pk:
        raise ValueError(
            f"{verb} INTO {name!r} ... ON DUPLICATE KEY: the table has no "
            "PRIMARY KEY to match on"
        )
    if meta.get("generated") or meta.get("auto_col"):
        raise NotImplementedError(
            f"{verb} INTO ... ON DUPLICATE KEY on a table with GENERATED/"
            "AUTO_INCREMENT columns — rewrite as INSERT + UPDATE"
        )
    target = mt.read(name)
    if len(src.columns) != len(target.columns):
        raise ValueError(
            f"{verb} has {len(src.columns)} columns,"
            f" table {name!r} takes {len(target.columns)}"
        )
    aligned = cast_to(src, target.schema.fields)
    if sets is None:
        sets = ", ".join(
            f"{x} = VALUES({x})" for x in target.columns if x not in pk
        )
    by_name = {f.name: f for f in target.schema.fields}
    upd: dict = {}
    if sets.strip().upper() != "NOTHING":
        # matched rows get rewritten: the upsert needs UPDATE
        # privilege too
        check_privilege(engine, name, "update")
        # VALUES(col) is the incoming row, a bare column the target
        ref = re.compile(
            r"VALUES\s*\(\s*(\w+)\s*\)|(?<![\w.'\"])("
            + "|".join(map(re.escape, target.columns)) + r")(?![\w(])",
            re.IGNORECASE,
        )
        for col, expr in _split_set_clauses(sets):
            expr = sub_outside_literals(
                ref, lambda m: f"s.{m[1]}" if m[1] else f"t.{m[2]}", expr
            )
            upd[col.lower()] = F.expr(expr).cast(
                by_name[col.lower()].dataType
            )
        bad = [x for x in upd if x in pk]
        if bad:
            raise ValueError(
                f"ON DUPLICATE KEY UPDATE may not modify key "
                f"column(s) {bad}"
            )
    # the reference applies upsert rows SEQUENTIALLY (a later duplicate
    # updates the row an earlier one inserted); a set-based merge
    # cannot reproduce that order, so intra-statement duplicate keys
    # refuse rather than silently diverge
    dup = (
        aligned.groupBy(*pk).count().filter(F.col("count") > 1).limit(1)
        .count()
    )
    if dup:
        raise NotImplementedError(
            f"{verb} INTO ... ON DUPLICATE KEY with duplicate keys INSIDE the "
            "incoming rows: the reference applies them row-by-row — "
            "pre-aggregate the source to one row per key first"
        )
    merged = merge_into(
        target, aligned, on=list(pk), when_matched_update=upd,
        when_not_matched_insert=True,
    )
    mt.rewrite(name, merged)
    return status_frame(engine.spark, (verb, name, "ON DUPLICATE KEY UPDATE"), "tag STRING, tbl STRING, mode STRING",)


def _update(engine, name: str, alias: str, c: dict,
            ignore: bool) -> DataFrame:
    """UPDATE (gram.y UpdateStmt) as copy-on-write: one relation
    rewrite, the columnar UPDATE shape (the reference's CStore UPDATE
    is likewise delete+append).  The hit condition and the new values
    come one of two ways:

    * no FROM: over the target scan, so the rewrite is one projection,
      CASE WHEN <where> THEN <expr> ELSE <col> END per SET column;
    * FROM (gram.y:23328's from_clause): one inner join finds the hit
      rows, a row_number over the target row id picks ONE source row
      per target (PG takes an arbitrary one; the pick here is
      deterministic — the lexicographically first source row), SET
      expressions evaluate in the joined scope (both aliases
      visible), and the new values join back by row id — one shuffle
      on the join condition + one id-keyed join, never a cartesian.

    Both then run the same tail: ignore_error narrowing, stored
    generated columns, BEFORE UPDATE triggers, RETURNING and the
    counted rewrite."""
    from pyspark.sql.window import Window

    from .rls import check_privilege, role_predicate
    from .triggers import fire_update_triggers

    check_privilege(engine, name, "update")
    mt = engine.managed_tables
    t = mt.scan(name)
    by_name = {f.name: f for f in t.schema.fields}
    gen_cols = mt.tables[name].get("generated") or {}
    sets = dict(_split_set_clauses(c["SET"]))
    bad = [x for x in sets if x in gen_cols]
    if bad:
        # nodeModifyTable.cpp: stored generated columns are
        # engine-computed; direct SET is refused
        raise ValueError(
            f"cannot update generated column(s) {bad} of {name!r}"
        )
    cond = F.expr(c["WHERE"]) if "WHERE" in c else F.lit(True)
    # rewriteRlsPolicy.cpp applies policy quals to UPDATE scans too: a
    # restricted role may only modify rows it can see
    rls_pred = role_predicate(engine, name)
    if "FROM" not in c:
        base = t.alias(alias)
        hit = cond if rls_pred is None else cond & rls_pred
        new = {x: F.expr(e).cast(by_name[x].dataType)
               for x, e in sets.items()}
    else:
        src, sa = _source_table(engine, c["FROM"])
        tid = "__t_rowid"
        t2 = t.withColumn(tid, F.monotonically_increasing_id())
        # the policy quals filter the hit-detection copy; the full t2
        # feeds the rewrite, so invisible rows survive unmodified
        t_hit = t2 if rls_pred is None else t2.filter(rls_pred)
        skey = F.concat_ws(
            "\x1f", *[F.col(f"{sa}.{x}").cast("string")
                      for x in src.columns]
        )
        one = (
            t_hit.alias(alias).join(src.alias(sa), cond, "inner")
            .withColumn(
                "__rn",
                F.row_number().over(Window.partitionBy(tid).orderBy(skey)),
            )
            .filter(F.col("__rn") == 1)
        )
        upd = one.select(
            F.col(tid),
            F.lit(True).alias("__hit"),
            *[F.expr(e).cast(by_name[x].dataType).alias(f"__set_{x}")
              for x, e in sets.items()],
        )
        base = t2.join(upd, tid, "left")
        hit = F.coalesce(F.col("__hit"), F.lit(False))
        new = {x: F.col(f"__set_{x}") for x in sets}
    if ignore:
        # UPDATE /*+ ignore_error */ (sql_ignore): rows whose NEW enum
        # value would abort keep their OLD values — the hit condition
        # narrows to valid rows, the skipped count is the difference
        # (one more count, hint path only)
        n_want = base.filter(hit).count()
        enum_cols = mt.tables[name].get("enum_cols") or {}
        for x, v in new.items():
            if x in enum_cols:
                labels = engine.user_types[enum_cols[x]]["labels"]
                hit = hit & (v.isNull() | v.cast("string").isin(labels))
    # the hit flag is computed in the SAME projection as the new
    # values, over OLD values — re-evaluating the WHERE on the updated
    # frame would see NEW values ("SET v = v + 1 WHERE v = 10" must
    # still hit), for triggers and RETURNING alike
    flag = "__upd_hit"
    out = base.select(
        *[F.when(hit, new[f.name]).otherwise(F.col(f.name)).alias(f.name)
          if f.name in new else F.col(f.name) for f in t.schema.fields],
        hit.alias(flag),
    )
    # ExecComputeStoredGenerated: recompute stored generated columns
    # from the post-SET tuple on the hit rows
    for gcol, gexpr in gen_cols.items():
        out = out.withColumn(
            gcol,
            F.when(F.col(flag), F.expr(gexpr))
            .otherwise(F.col(gcol))
            .cast(by_name[gcol].dataType),
        )
    out = fire_update_triggers(
        engine, name, out, F.col(flag), set_cols=set(sets), schema=by_name,
    )
    returning = None
    if "RETURNING" in c:
        # NEW row values of the hit rows, as PG's UPDATE RETURNING
        returning = _returning_frame(
            engine, out.filter(F.col(flag)).drop(flag), c["RETURNING"]
        )
    hits = FlagCount(out, flag)
    mt.rewrite(name, hits.frame.drop(flag))
    n_hit = hits.value()
    if returning is not None:
        return returning
    if ignore:
        return status_frame(engine.spark, ("UPDATE", name, n_hit, n_want - n_hit), "tag STRING, tbl STRING, rows BIGINT, skipped BIGINT",)
    return status_frame(engine.spark, ("UPDATE", name, n_hit), "tag STRING, tbl STRING, rows BIGINT")


def _delete(engine, name: str, alias: str, c: dict) -> DataFrame:
    """DELETE (gram.y DeleteStmt): keep the complement, rewrite — at
    scale this touches only files whose rowgroup stats can contain
    matches (Spark prunes the scan on the predicate).  Without USING
    the flag is one projection over the target scan; with USING
    (gram.y:23218's using_clause) a LEFT SEMI join finds the doomed
    rows and a row-id left join flags them — one rewrite, no
    cartesian."""
    from .rls import check_privilege, role_predicate

    check_privilege(engine, name, "delete")
    mt = engine.managed_tables
    t = mt.scan(name)
    cond = F.expr(c["WHERE"]) if "WHERE" in c else F.lit(True)
    # policy quals apply to DELETE scans as well: a restricted role
    # may only delete rows its policies expose
    rls_pred = role_predicate(engine, name)
    flag = "__del_hit"
    if "USING" not in c:
        hit = cond if rls_pred is None else cond & rls_pred
        out = t.alias(alias).select("*", hit.alias(flag))
    else:
        src, sa = _source_table(engine, c["USING"])
        tid = "__t_rowid"
        t2 = t.withColumn(tid, F.monotonically_increasing_id())
        doomed = t2.alias(alias).join(src.alias(sa), cond, "leftsemi")
        if rls_pred is not None:
            doomed = doomed.filter(rls_pred)
        # the semi join yields each target row at most once, so the
        # left join flags the doomed rows without duplicating any
        out = t2.join(
            doomed.select(tid, F.lit(True).alias(flag)), tid, "left"
        ).drop(tid)
    returning = None
    if "RETURNING" in c:
        # OLD row values, as PG's DELETE RETURNING
        returning = _returning_frame(
            engine, out.filter(F.col(flag)).drop(flag), c["RETURNING"]
        )
    marked = FlagCount(out, flag)
    fc = F.col(flag)
    mt.rewrite(name, marked.frame.filter(~fc | fc.isNull()).drop(flag))
    n_del = marked.value()
    if returning is not None:
        return returning
    return status_frame(engine.spark, ("DELETE", name, n_del), "tag STRING, tbl STRING, rows BIGINT")


_CREATE_LIKE = re.compile(
    r"^\s*CREATE\s+" + _TEMP_PREFIX
    + r"TABLE\s+(?P<name>\w+)\s*\(\s*LIKE\s+(?P<src>\w+)"
    r"(?P<incl>(?:\s+(?:INCLUDING|EXCLUDING)\s+\w+)*)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_LOCK_STMT = re.compile(
    r"^\s*LOCK\s+(?:TABLE\s+)?(?P<name>\w+)"
    r"(?:\s+IN\s+[\w\s]+?MODE)?(?:\s+NOWAIT)?\s*;?\s*$",
    re.IGNORECASE,
)
_CHECKPOINT = re.compile(r"^\s*CHECKPOINT\s*;?\s*$", re.IGNORECASE)


def _handle_create_like(engine, m: re.Match) -> DataFrame:
    """CREATE TABLE t (LIKE src [INCLUDING ...]) (gram.y:8249
    TableLikeClause): clone the SOURCE SCHEMA into a fresh empty
    managed table.  INCLUDING options are metadata here (defaults/
    constraints are not enforced on the store; indexes are layouts a
    caller re-creates); the column shape — the part a batch engine
    acts on — copies exactly."""
    name = m.group("name").lower()
    src = m.group("src").lower()
    mt = engine.managed_tables
    if name in mt.tables:
        raise ValueError(f"table {name!r} already exists")
    if src in mt.tables:
        schema = mt.read(src).schema
        src_meta = mt.tables[src]
    elif src in engine.tables:
        schema = engine.table(src).schema
        src_meta = {}
    else:
        raise KeyError(f"CREATE TABLE LIKE: {src!r} not found")
    empty = engine.spark.createDataFrame([], schema)
    extra = {}
    # the parts of the source's column semantics the engine enforces
    # travel with the shape
    for k in ("generated", "enum_cols", "primary_key"):
        if src_meta.get(k):
            extra[k] = (
                dict(src_meta[k]) if isinstance(src_meta[k], dict)
                else src_meta[k]
            )
    mt.create_as(name, empty, extra_meta=extra or None)
    if m.group("temp"):
        mt.tables[name]["temp"] = True
    return status_frame(engine.spark, ("CREATE TABLE", name, f"LIKE {src}"), "tag STRING, tbl STRING, shape STRING",)


def try_handle_stmt(engine, query: str) -> DataFrame | None:
    handled = _handle_comment(engine, query)
    if handled is not None:
        return handled
    m = _DML_HEAD.match(query)
    if m:
        return _modify_table(engine, query, m)
    # ALTER TABLE IF EXISTS t ... (tablecmds.cpp AlterTableStmt
    # missing_ok): a missing relation is a no-op notice, an existing
    # one proceeds through the plain ALTER handlers
    m = re.match(
        r"^\s*ALTER\s+TABLE\s+IF\s+EXISTS\s+(?P<name>\w+)\b(?P<rest>.*)$",
        query, re.IGNORECASE | re.DOTALL,
    )
    if m:
        name = m.group("name").lower()
        if (name not in engine.managed_tables.tables
                and name not in engine.tables):
            return status_frame(engine.spark, ("ALTER TABLE", name, "skipped: does not exist"), "tag STRING, tbl STRING, note STRING",)
        query = f"ALTER TABLE {name}{m.group('rest')}"
    m = _CREATE_LIKE.match(query)
    if m:
        return _handle_create_like(engine, m)
    m = _LOCK_STMT.match(query)
    if m and (
        m.group("name").lower() in engine.managed_tables.tables
        or m.group("name").lower() in engine.tables
    ):
        # LockStmt: snapshot-isolated copy-on-write has no lock to
        # take — accepted so transaction-shaped scripts run
        return status_frame(engine.spark, ("LOCK TABLE", m.group("name").lower(), "no-op"), "tag STRING, tbl STRING, note STRING",)
    if _CHECKPOINT.match(query):
        # CheckPointStmt (gram.y:3617): every parquet commit is
        # already durable — nothing buffered to flush
        return status_frame(engine.spark, ("CHECKPOINT", "no-op"), "tag STRING, note STRING")
    handled = _try_select_into(engine, query)
    if handled is not None:
        return handled
    query, storage_meta = _strip_storage_clauses(query)
    handled = _handle_alter_table(engine, query)
    if handled is not None:
        return handled
    m = _VACUUM.match(query)
    if m and m.group("name").lower() in engine.managed_tables.tables:
        from .index_lifecycle import vacuum

        name = m.group("name").lower()
        # the GIN/GiST delta fold runs here, so the threshold fold
        # never has to fire inside someone's SELECT
        with vacuum(engine, name):
            before, after = engine.managed_tables.vacuum(name)
        return status_frame(engine.spark, ("VACUUM", name, before, after), "tag STRING, tbl STRING, files_before INT, files_after INT",)
    m = _TRUNCATE.match(query)
    if m and m.group("name").lower() in engine.managed_tables.tables:
        from .rls import check_privilege

        name = m.group("name").lower()
        check_privilege(engine, name, "truncate")
        mt = engine.managed_tables
        # TRUNCATE opens a fresh EMPTY generation (O(1) metadata — the
        # reference's tcap_truncate.cpp likewise parks the old
        # relfilenode rather than unlinking, so TIMECAPSULE TABLE ...
        # TO BEFORE TRUNCATE can swap it back); the tagged commit is
        # what TO BEFORE TRUNCATE searches for
        mt.tag_commit(name, "truncate")
        if mt.tables[name].get("partition_spec"):
            # partitioned: the declared schema lives in the catalog
            # (schema_ddl), so the new generation is just an empty dir
            os.makedirs(mt.next_gen_dir(name), exist_ok=True)
            mt.bump_gen(name)
            return status_frame(engine.spark, ("TRUNCATE", name), "tag STRING, tbl STRING")
        schema = mt.scan(name).schema
        # a fresh empty frame, NOT limit(0) of the path being
        # superseded — Spark refuses (or races) self-overwrites
        empty = engine.spark.createDataFrame([], schema)
        mt.rewrite(name, empty)
        return status_frame(engine.spark, ("TRUNCATE", name), "tag STRING, tbl STRING")
    m = _CLUSTER.match(query)
    if m and m.group("name").lower() in engine.managed_tables.tables:
        # commands/cluster.cpp: rewrite the relation in index order.
        # Spark form: range-repartition + sort by the cluster key, so
        # every parquet file owns a disjoint key range and rowgroup
        # min/max stats prune scans (the CStore roughcheck analogue —
        # pinned by test_clustered_write_rowgroup_stats for the
        # write-path helper).
        name = m.group("name").lower()
        col = m.group("col")
        df = engine.managed_tables.scan(name)
        import shutil as _shutil

        compacting = engine.managed_tables.next_gen_dir(name)
        _shutil.rmtree(compacting, ignore_errors=True)
        if engine.managed_tables.tables[name].get("partition_spec"):
            # partitioned table: cluster WITHIN each partition (the
            # reference's local-index order) — flattening the layout
            # would orphan every _part directory
            from .partition_ddl import PartitionSpec

            pcols = PartitionSpec.from_meta(
                engine.managed_tables.tables[name]["partition_spec"]
            ).partition_cols()
            (
                df.repartition(*pcols)
                .sortWithinPartitions(*pcols, col)
                .write.mode("overwrite")
                .partitionBy(*pcols)
                .parquet(compacting)
            )
        else:
            clustered = df.repartitionByRange(
                max(1, df.rdd.getNumPartitions()), col
            ).sortWithinPartitions(col)
            clustered.write.mode("overwrite").parquet(compacting)
        # data-only reorder: new generation goes live, old one stays
        # readable for TIMECAPSULE (no barrier — same rows)
        engine.managed_tables.bump_gen(name, written=df)
        return status_frame(engine.spark, ("CLUSTER", name, col), "tag STRING, tbl STRING, key STRING")
    m = _CREATE_PLAIN.match(query)
    if m and not _re_is_ctas(query):
        name = m.group("name").lower()
        if name in engine.managed_tables.tables:
            if _re.search(r"IF\s+NOT\s+EXISTS", query, _re.IGNORECASE):
                return status_frame(engine.spark, ("CREATE TABLE", name, True), "tag STRING, tbl STRING, already_existed BOOLEAN",)
            raise ValueError(f"table {name!r} already exists")
        from .create_function import _map_type
        from .range_types import RANGE_KINDS, range_struct_ddl
        from .user_types import resolve_type
        defs, pk = _parse_column_defs(m.group("cols"))

        def _coltype(c):
            t = c["type"].strip().lower()
            if t in RANGE_KINDS:
                # range-typed column (rangetypes.cpp): the canonical
                # bound struct; the column registers for operator
                # dispatch below
                return range_struct_ddl(t)
            return resolve_type(engine, c["type"]) or _map_type(c["type"])

        schema = ", ".join(f"{c['name']} {_coltype(c)}" for c in defs)
        enum_cols = {
            c["name"]: c["type"].strip().lower() for c in defs
            if engine.user_types.get(c["type"].strip().lower(), {})
            .get("kind") == "enum"
        }
        range_cols = {
            c["name"].lower(): c["type"].strip().lower() for c in defs
            if c["type"].strip().lower() in RANGE_KINDS
        }
        empty = engine.spark.createDataFrame([], schema)
        engine.managed_tables.create_as(
            name, empty, partition_by=(m.group("pcol") or None),
            extra_meta=storage_meta,
        )
        meta = engine.managed_tables.tables[name]
        if enum_cols:
            meta["enum_cols"] = enum_cols
        if range_cols:
            meta["range_cols"] = range_cols
        if pk:
            meta["primary_key"] = pk
        if m.group("temp"):
            meta["temp"] = True
        generated = {
            c["name"]: c["generated"] for c in defs if c["generated"]
        }
        if generated:
            meta["generated"] = generated
        defaults = {
            c["name"]: c["default"] for c in defs if c.get("default")
        }
        if defaults:
            meta["column_defaults"] = defaults
        auto = [c["name"] for c in defs if c["auto_increment"]]
        if auto:
            meta["auto_col"] = auto[0]
            meta["auto_seq"] = 1
        return status_frame(engine.spark, ("CREATE TABLE", name, False), "tag STRING, tbl STRING, already_existed BOOLEAN",)
    m = _CTAS.match(query)
    if m:
        n = engine.managed_tables.create_as(
            m.group("name"), engine.sql(m.group("stmt")),
            partition_by=(m.group("pcol").lower() if m.group("pcol")
                          else None),
            extra_meta=storage_meta,
        )
        if m.group("temp"):
            engine.managed_tables.tables[
                m.group("name").lower()
            ]["temp"] = True
        return status_frame(engine.spark, ("CREATE TABLE AS", m.group("name").lower(), n), "tag STRING, tbl STRING, rows BIGINT",)
    m = _DROP_TABLE.match(query)
    if m and (
        m.group("name").lower() in engine.managed_tables.tables
        or "IF EXISTS" in query.upper()
    ):
        existed = engine.managed_tables.drop(
            m.group("name"), purge=bool(m.group("purge"))
        )
        return status_frame(engine.spark, ("DROP TABLE", m.group("name").lower(), existed), "tag STRING, tbl STRING, existed BOOLEAN",)
    m = _CREATE_VIEW.match(query)
    if m:
        from ..functions.sql_compat import translate

        name = m.group("name").lower()
        if m.group("replace") is None and engine.spark.catalog.tableExists(
            name
        ):
            raise ValueError(f"view {name!r} already exists")
        # Spark's own temp-view DDL stores the view TEXT and re-resolves
        # names per query — live semantics (DefineView's rewrite rule);
        # createOrReplaceTempView(df) would freeze the resolved plan
        body = m.group("stmt")
        # mirror Engine.sql's call-site rewrites: a view body may name
        # a user aggregate or a SETOF plpython function (CTAS gets
        # these by recursing through engine.sql; the view path
        # compiles directly)
        from ..engine import rewrite_call_sites
        from .start_with import rewrite_start_with

        body = rewrite_start_with(engine, rewrite_call_sites(engine, body))
        if _re.search(
            r"\b(?:time_window|time_fill|fill_last|fill_first)\s*\(",
            body, _re.IGNORECASE,
        ):
            from .tsdb_fill import rewrite_tsdb_fill

            body = rewrite_tsdb_fill(engine, body)
        engine.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS "
            + translate(body)
        )
        # the ORIGINAL text, for pg_get_viewdef (ruleutils.cpp
        # deparses the rule; the stored text IS the definition here)
        engine.view_defs[name] = m.group("stmt").strip()
        return status_frame(engine.spark, ("CREATE VIEW", name), "tag STRING, view STRING")
    m = _DROP_VIEW.match(query)
    if m:
        name = m.group("name").lower()
        existed = engine.spark.catalog.dropTempView(name)
        return status_frame(engine.spark, ("DROP VIEW", name, bool(existed)), "tag STRING, view STRING, existed BOOLEAN",)
    return None


# ---------------------------------------------------------------- queries

from ..registry import query  # noqa: E402


@query(
    "ctas_insert_select",
    """
    WITH managed AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_totalprice > 400000
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_totalprice <= 400000 AND o_orderkey <= 200
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(price) AS DECIMAL(28,2)) AS DOUBLE) AS total
    FROM managed GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ctas_insert_select(spark, sf_dir):
    """CREATE TABLE AS + INSERT INTO ... SELECT end-to-end
    (createas.cpp ExecCreateTableAs :124 + the ModifyTable INSERT
    sink): materialize a selection as a managed table, append a second
    selection through the position-cast INSERT path, aggregate the
    managed table. The oracle aggregates the UNION of both selections
    directly — a hash match proves the write, the append (no lost or
    duplicated files), and the snapshot repoint. DECIMAL sums keep the
    two paths bit-identical; the returned total casts to DOUBLE per
    the registry determinism convention."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ctas_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE hot_orders AS"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DECIMAL(18,2)) AS price"
            " FROM orders WHERE o_totalprice > 400000"
        )
        eng.sql(
            "INSERT INTO hot_orders"
            " SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DECIMAL(18,2)) AS price"
            " FROM orders WHERE o_totalprice <= 400000"
            " AND o_orderkey <= 200"
        )
        out = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n,"
            " CAST(CAST(SUM(price) AS DECIMAL(28,2)) AS DOUBLE) AS total"
            " FROM hot_orders GROUP BY o_orderstatus"
            " ORDER BY o_orderstatus"
        )
        rows = out.collect()
        eng.sql("DROP TABLE hot_orders PURGE")
        return spark.createDataFrame(
            rows, "o_orderstatus STRING, n BIGINT, total DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- sequences -------------------------------------------------------------
# Reference: commands/sequence/sequence.cpp (3,083 LoC) — DefineSequence
# (:807), nextval_internal (:1434), currval_oid (:1510), do_setval
# (:1720). A sequence is session/driver state here (the reference's is
# a one-row relation); nextval is inherently serial, so the DISTRIBUTED
# way to number rows is row_number()/monotonically_increasing_id — the
# sequence surface exists for DDL/protocol parity (DEFAULT nextval
# ingest ids, script compatibility), not for bulk assignment, and the
# docstrings say so.


class SequenceRegistry:
    def __init__(self):
        self.seqs: dict[str, dict] = {}

    def create(self, name: str, start: int = 1, increment: int = 1,
               minvalue: int | None = None, maxvalue: int | None = None,
               cycle: bool = False) -> None:
        name = name.lower()
        if name in self.seqs:
            raise ValueError(f"sequence {name!r} already exists")
        if increment == 0:
            raise ValueError("INCREMENT must not be zero")
        self.seqs[name] = {
            "value": None, "start": start, "increment": increment,
            "min": minvalue if minvalue is not None
            else (start if increment > 0 else None),
            "max": maxvalue, "cycle": cycle,
        }

    def nextval(self, name: str) -> int:
        s = self._get(name)
        if s["value"] is None:
            s["value"] = s["start"]
            return s["value"]
        nxt = s["value"] + s["increment"]
        if s["max"] is not None and nxt > s["max"]:
            if not s["cycle"]:
                raise ValueError(f"nextval: reached maximum value of {name!r}")
            nxt = s["min"] if s["min"] is not None else s["start"]
        if s["min"] is not None and nxt < s["min"] and s["increment"] < 0:
            if not s["cycle"]:
                raise ValueError(f"nextval: reached minimum value of {name!r}")
            nxt = s["max"]
        s["value"] = nxt
        return nxt

    def currval(self, name: str) -> int:
        s = self._get(name)
        if s["value"] is None:
            raise ValueError(
                f"currval of sequence {name!r} is not yet defined"
            )
        return s["value"]

    def setval(self, name: str, value: int) -> int:
        self._get(name)["value"] = value
        return value

    def drop(self, name: str) -> bool:
        return self.seqs.pop(name.lower(), None) is not None

    def _get(self, name: str) -> dict:
        s = self.seqs.get(name.lower())
        if s is None:
            raise KeyError(f"sequence {name!r} does not exist")
        return s


_CREATE_SEQ = re.compile(
    r"^\s*CREATE\s+(?:LARGE\s+)?SEQUENCE\s+(?P<name>\w+)"
    r"(?:\s+START(?:\s+WITH)?\s+(?P<start>-?\d+))?"
    r"(?:\s+INCREMENT(?:\s+BY)?\s+(?P<inc>-?\d+))?"
    r"(?:\s+MAXVALUE\s+(?P<max>-?\d+))?"
    r"(?:\s+(?P<cycle>CYCLE))?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SEQ = re.compile(
    r"^\s*DROP\s+(?:LARGE\s+)?SEQUENCE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_SEQ_FN = re.compile(
    r"^\s*SELECT\s+(?P<fn>nextval|currval|setval)\s*\(\s*'(?P<name>\w+)'"
    r"\s*(?:,\s*(?P<val>-?\d+)\s*)?\)\s*;?\s*$",
    re.IGNORECASE,
)


_ALTER_SEQ = re.compile(
    r"^\s*ALTER\s+(?:LARGE\s+)?SEQUENCE\s+(?:IF\s+EXISTS\s+)?(?P<name>\w+)\s+"
    r"(?P<opts>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def try_handle_sequence(engine, query: str) -> DataFrame | None:
    m = _ALTER_SEQ.match(query)
    if m and m.group("name").lower() in engine.sequences.seqs:
        # sequence.cpp AlterSequence: RESTART [WITH n] rewinds so the
        # next nextval returns n (or the original start); INCREMENT
        # BY / MAXVALUE / [NO] CYCLE update the generator parameters
        name = m.group("name").lower()
        s = engine.sequences.seqs[name]
        opts = m.group("opts")
        recognized = False
        mr = re.search(r"\bRESTART(?:\s+WITH\s+(?P<n>-?\d+))?",
                       opts, re.IGNORECASE)
        if mr:
            if mr.group("n") is not None:
                s["start"] = int(mr.group("n"))
            s["value"] = None
            recognized = True
        mi = re.search(r"\bINCREMENT(?:\s+BY)?\s+(?P<k>-?\d+)",
                       opts, re.IGNORECASE)
        if mi:
            k = int(mi.group("k"))
            if k == 0:
                raise ValueError("INCREMENT must not be zero")
            s["increment"] = k
            recognized = True
        mx = re.search(r"\bMAXVALUE\s+(?P<n>-?\d+)", opts, re.IGNORECASE)
        if mx:
            s["max"] = int(mx.group("n"))
            recognized = True
        mc = re.search(r"\b(?P<no>NO\s+)?CYCLE\b", opts, re.IGNORECASE)
        if mc:
            s["cycle"] = mc.group("no") is None
            recognized = True
        if not recognized:
            raise NotImplementedError(
                f"ALTER SEQUENCE: unsupported option(s) {opts!r} — "
                "RESTART [WITH n], INCREMENT [BY] k, MAXVALUE n, "
                "[NO] CYCLE are supported; OWNED BY/CACHE have no "
                "engine state here"
            )
        return status_frame(engine.spark, ("ALTER SEQUENCE", name), "tag STRING, sequence STRING")
    m = _CREATE_SEQ.match(query)
    if m:
        engine.sequences.create(
            m.group("name"),
            start=int(m.group("start") or 1),
            increment=int(m.group("inc") or 1),
            maxvalue=int(m.group("max")) if m.group("max") else None,
            cycle=m.group("cycle") is not None,
        )
        return status_frame(engine.spark, ("CREATE SEQUENCE", m.group("name").lower()), "tag STRING, sequence STRING",)
    m = _DROP_SEQ.match(query)
    if m and m.group("name").lower() in engine.sequences.seqs:
        engine.sequences.drop(m.group("name"))
        return status_frame(engine.spark, ("DROP SEQUENCE", m.group("name").lower()), "tag STRING, sequence STRING",)
    m = _SEQ_FN.match(query)
    if m and m.group("name").lower() in engine.sequences.seqs:
        fn = m.group("fn").lower()
        if fn == "nextval":
            v = engine.sequences.nextval(m.group("name"))
        elif fn == "currval":
            v = engine.sequences.currval(m.group("name"))
        else:
            v = engine.sequences.setval(
                m.group("name"), int(m.group("val"))
            )
        return status_frame(engine.spark, (v,), f"{fn} BIGINT")
    return None


@query(
    "maintenance_stmt_roundtrip",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 500
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM src GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def maintenance_stmt_roundtrip(spark, sf_dir):
    """The table-maintenance statement surface end-to-end: CTAS, three
    small INSERTs (deliberately fragmenting the file layout), VACUUM
    (compacting rewrite + atomic swap, vacuum.cpp FULL semantics),
    CLUSTER ON the key (index-order rewrite, cluster.cpp), then
    aggregate the table. The oracle aggregates the same selection
    directly — a hash match proves four rewrites and two snapshot swaps
    lost and duplicated nothing."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="maint_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE maint_t AS SELECT o_orderkey, o_orderstatus,"
            " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
            " WHERE o_orderkey <= 200"
        )
        for lo, hi in ((200, 300), (300, 400), (400, 500)):
            eng.sql(
                "INSERT INTO maint_t SELECT o_orderkey, o_orderstatus,"
                " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
                f" WHERE o_orderkey > {lo} AND o_orderkey <= {hi}"
            )
        vac = eng.sql("VACUUM maint_t").collect()[0]
        assert vac.files_after <= vac.files_before
        eng.sql("CLUSTER maint_t ON (o_orderkey)")
        out = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,"
            " MIN(o_orderkey) AS min_key"
            " FROM maint_t GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        rows = [(r[0], r[1], float(r[2]), r[3]) for r in out.collect()]
        eng.sql("DROP TABLE maint_t PURGE")
        return spark.createDataFrame(
            rows,
            "o_orderstatus STRING, n BIGINT, total DOUBLE, min_key BIGINT",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "update_delete_dml",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS price,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS stamped
      FROM orders WHERE o_orderkey <= 400
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(SUM(stamped) AS BIGINT) AS n_stamped,
           '2024-03-01 00:00:00' AS stamp
    FROM base WHERE o_orderstatus <> 'O'
    """,
)
def update_delete_dml(spark, sf_dir):
    """ModifyTable UPDATE + DELETE through Engine.sql
    (nodeModifyTable.cpp; the CStore form is delete+append, matching
    the copy-on-write rewrite here), composed with a BEFORE UPDATE
    moddatetime trigger (contrib/spi): UPDATE raises finished orders'
    price 10% and the trigger stamps exactly those rows; DELETE then
    removes open orders; the audited aggregate must equal the oracle's
    direct CASE/filter recomputation over the source table.

    Scale: UPDATE is one relation rewrite with the SET folded into a
    CASE projection (no join, no shuffle); DELETE rewrites the
    complement; both swap via a side directory so readers never see a
    partial table."""
    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    eng.trigger_clock = "2024-03-01 00:00:00"
    eng.sql("DROP TABLE IF EXISTS dml_t")
    eng.sql(
        "CREATE TABLE dml_t AS"
        " SELECT o_orderkey, o_orderstatus, o_totalprice,"
        " CAST(NULL AS TIMESTAMP) AS updated_at"
        " FROM orders WHERE o_orderkey <= 400"
    )
    eng.sql(
        "CREATE TRIGGER t_mod BEFORE UPDATE ON dml_t"
        " FOR EACH ROW EXECUTE PROCEDURE moddatetime(updated_at)"
    )
    upd = eng.sql(
        "UPDATE dml_t SET o_totalprice = o_totalprice * 1.1"
        " WHERE o_orderstatus = 'F'"
    ).collect()[0]
    dele = eng.sql(
        "DELETE FROM dml_t WHERE o_orderstatus = 'O'"
    ).collect()[0]
    if (upd.tag, dele.tag) != ("UPDATE", "DELETE"):
        raise AssertionError("DML command tags wrong")
    out = eng.sql(
        "SELECT COUNT(*) AS n,"
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
        "   AS total,"
        " COUNT(updated_at) AS n_stamped,"
        " MIN(CAST(updated_at AS STRING)) AS stamp"
        " FROM dml_t"
    )
    rows = out.collect()
    eng.sql("DROP TABLE dml_t PURGE")
    return spark.createDataFrame(
        rows, "n BIGINT, total DOUBLE, n_stamped BIGINT, stamp STRING"
    )


@query(
    "alter_table_lifecycle",
    """
    SELECT 'std' AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderkey <= 400
    """,
)
def alter_table_lifecycle(spark, sf_dir):
    """The managed-table DDL lifecycle as statements (tablecmds.cpp):
    plain CREATE TABLE (column list, constraint metadata tolerated) →
    INSERT ... SELECT → ALTER ADD COLUMN DEFAULT → ALTER COLUMN TYPE
    USING (copy-on-write rewrites) → RENAME COLUMN → aggregate.  The
    oracle inlines the same transformations over the base table.

    Scale: each ALTER is ONE distributed rewrite; nothing here is
    per-row on the driver.  Exact-integer rounding keeps the final
    BIGINT sum representation-identical across engines."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="alter_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE alt_g (o_orderkey bigint PRIMARY KEY,"
            " o_totalprice double precision NOT NULL)"
        )
        eng.sql(
            "INSERT INTO alt_g SELECT o_orderkey, o_totalprice"
            " FROM orders WHERE o_orderkey <= 400"
        )
        eng.sql("ALTER TABLE alt_g ADD COLUMN tier text DEFAULT 'std'")
        eng.sql(
            "ALTER TABLE alt_g ALTER COLUMN o_totalprice TYPE bigint"
            " USING CAST(ROUND(o_totalprice) AS BIGINT)"
        )
        eng.sql("ALTER TABLE alt_g RENAME COLUMN tier TO band")
        out = eng.sql(
            "SELECT band, COUNT(*) AS n,"
            " CAST(SUM(o_totalprice) AS BIGINT) AS total_cents"
            " FROM alt_g GROUP BY band ORDER BY band"
        )
        rows = out.collect()
        eng.sql("DROP TABLE alt_g PURGE")
        return spark.createDataFrame(
            rows, "band STRING, n BIGINT, total_cents BIGINT"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "btree_index_scan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
    """,
)
def btree_index_scan(spark, sf_dir):
    """btree CREATE INDEX end-to-end (indexcmds.cpp DefineIndex): CTAS
    a managed slice, CREATE INDEX on the key (= the CLUSTER sorted
    data-skipping rewrite), then run the canonical indexed range query
    — content must be byte-preserved through the rewrite and the
    catalog row must appear in pg_indexes.

    Scale: the sorted rewrite gives every parquet file a disjoint key
    range, so the range predicate prunes at the rowgroup level via
    min/max stats — what an index honestly means over immutable
    columnar files; the write-once sort is amortized over every later
    range scan."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="btree_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE bt_gate AS"
            " SELECT o_orderkey, o_totalprice FROM orders"
            " WHERE o_orderkey <= 5000"
        )
        eng.sql("CREATE INDEX ON bt_gate (o_orderkey)")
        idx = {r.indexname for r in
               eng.sql("SELECT * FROM pg_indexes").collect()}
        if "bt_gate_o_orderkey_idx" not in idx:
            raise AssertionError("btree index missing from pg_indexes")
        out = eng.sql(
            "SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_key,"
            " MAX(o_orderkey) AS max_key,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM bt_gate WHERE o_orderkey BETWEEN 1000 AND 3000"
        )
        rows = out.collect()
        eng.sql("DROP INDEX bt_gate_o_orderkey_idx")
        eng.sql("DROP TABLE bt_gate PURGE")
        return spark.createDataFrame(
            [(r[0], r[1], r[2], float(r[3])) for r in rows],
            "n BIGINT, min_key BIGINT, max_key BIGINT, total DOUBLE",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "dml_returning",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 200
    ), upd AS (
      SELECT 'update' AS phase, o_orderkey,
             CAST(o_totalprice * 2 AS DOUBLE) AS price
      FROM base WHERE o_orderkey <= 100
    ), del AS (
      SELECT 'delete' AS phase, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM base WHERE o_orderkey > 150
    )
    SELECT * FROM upd UNION ALL SELECT * FROM del
    ORDER BY phase, o_orderkey
    """,
)
def dml_returning(spark, sf_dir):
    """DML RETURNING end-to-end (nodeModifyTable.cpp returningList):
    UPDATE ... RETURNING yields the NEW values of the rows the WHERE
    hit on OLD values; DELETE ... RETURNING yields the OLD deleted
    rows — both against the oracle's plain-SELECT arithmetic over the
    same slice.

    Scale: the RETURNING set is WHERE-bounded; it materializes before
    the copy-on-write swap (the lazy frame would re-read the replaced
    path), exactly the client-streamed row set PG produces."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="dml_ret_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE d_rt AS SELECT o_orderkey, o_totalprice"
            " FROM orders WHERE o_orderkey <= 200"
        )
        upd = eng.sql(
            "UPDATE d_rt SET o_totalprice = o_totalprice * 2"
            " WHERE o_orderkey <= 100"
            " RETURNING o_orderkey, o_totalprice"
        ).collect()
        dele = eng.sql(
            "DELETE FROM d_rt WHERE o_orderkey > 150"
            " RETURNING o_orderkey, o_totalprice"
        ).collect()
        eng.sql("DROP TABLE d_rt PURGE")
        rows = [("update", r[0], float(r[1])) for r in upd] + [
            ("delete", r[0], float(r[1])) for r in dele
        ]
        return spark.createDataFrame(
            rows, "phase STRING, o_orderkey BIGINT, price DOUBLE"
        ).orderBy("phase", "o_orderkey")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "generated_column_table",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_discount AS DOUBLE) AS disc
      FROM lineitem WHERE l_orderkey <= 1000
    ),
    updated AS (
      SELECT qty, price,
             CASE WHEN qty < 10 THEN CAST(0 AS DOUBLE) ELSE disc END
               AS disc
      FROM base
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price * (1 - disc) AS DECIMAL(20,6)))
                AS DOUBLE) AS total_net,
           CAST(SUM(CAST(price AS DECIMAL(20,6))) AS DOUBLE)
             AS total_price
    FROM updated
    """,
)
def generated_column_table(spark, sf_dir):
    """Stored generated columns end-to-end (gram.y:8122 GENERATED
    ALWAYS AS ... STORED; nodeModifyTable.cpp ExecComputeStoredGenerated):
    CREATE with a generation expression, INSERT omitting the generated
    column (engine computes it), UPDATE a dependency (engine
    recomputes), refuse a direct SET, aggregate the stored values.
    The oracle recomputes the expression over the post-UPDATE state —
    a hash match proves compute-on-insert AND recompute-on-update."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gen_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gct (qty double, price double, disc double,"
            " net double GENERATED ALWAYS AS (price * (1 - disc))"
            " STORED)"
        )
        eng.sql(
            "INSERT INTO gct SELECT CAST(l_quantity AS DOUBLE),"
            " CAST(l_extendedprice AS DOUBLE),"
            " CAST(l_discount AS DOUBLE)"
            " FROM lineitem WHERE l_orderkey <= 1000"
        )
        eng.sql("UPDATE gct SET disc = CAST(0 AS DOUBLE) WHERE qty < 10")
        try:
            eng.sql("UPDATE gct SET net = 0.0 WHERE qty < 10")
            raise AssertionError("direct SET on generated must refuse")
        except ValueError:
            pass
        out = eng.sql(
            "SELECT COUNT(*) AS n,"
            " CAST(SUM(CAST(net AS DECIMAL(20,6))) AS DOUBLE)"
            "   AS total_net,"
            " CAST(SUM(CAST(price AS DECIMAL(20,6))) AS DOUBLE)"
            "   AS total_price"
            " FROM gct"
        )
        rows = [(r[0], float(r[1]), float(r[2])) for r in out.collect()]
        return spark.createDataFrame(
            rows, "n BIGINT, total_net DOUBLE, total_price DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "auto_increment_insert",
    """
    WITH b1 AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey <= 1000
    ),
    b2 AS (
      SELECT o_orderkey + 100000 AS id FROM orders
      WHERE o_orderkey > 1000 AND o_orderkey <= 1200
    ),
    b3 AS (
      SELECT ROW_NUMBER() OVER () + (SELECT MAX(id) FROM b2) AS id
      FROM orders WHERE o_orderkey > 1200 AND o_orderkey <= 1400
    ),
    ids AS (
      SELECT ROW_NUMBER() OVER () AS id FROM b1
      UNION ALL SELECT id FROM b2
      UNION ALL SELECT id FROM b3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id,
           CAST(SUM(id) AS BIGINT) AS sum_id
    FROM ids
    """,
)
def auto_increment_insert(spark, sf_dir):
    """AUTO_INCREMENT identity assignment (gram.y:7650 CONSTR_AUTO_
    INCREMENT; heap.cpp:4197 one-per-table): a bulk INSERT omitting
    the column gets dense unique ids 1..N assigned WITHOUT a global
    sort (per-partition row_number + broadcast offsets), an explicit
    INSERT advances the counter past its max (the B-format rule), and
    a following omitted INSERT continues from there.  Ids are
    arrival-order-free, so the oracle checks the order-insensitive
    invariants: count, distinctness, min/max, and the exact id sum."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="auto_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE ai (id bigint AUTO_INCREMENT, okey bigint)"
        )
        eng.sql(
            "INSERT INTO ai SELECT o_orderkey FROM orders"
            " WHERE o_orderkey <= 1000"
        )
        eng.sql(
            "INSERT INTO ai SELECT o_orderkey + 100000, o_orderkey"
            " FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 1200"
        )
        eng.sql(
            "INSERT INTO ai SELECT o_orderkey FROM orders"
            " WHERE o_orderkey > 1200 AND o_orderkey <= 1400"
        )
        out = eng.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT id) AS n_distinct,"
            " MIN(id) AS min_id, MAX(id) AS max_id, SUM(id) AS sum_id"
            " FROM ai"
        )
        rows = [tuple(r) for r in out.collect()]
        return spark.createDataFrame(
            rows,
            "n BIGINT, n_distinct BIGINT, min_id BIGINT,"
            " max_id BIGINT, sum_id BIGINT",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "temp_table_session",
    """
    WITH big_cust AS (
      SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer WHERE c_acctbal > 5000
      UNION ALL
      SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer WHERE c_acctbal < -900
    )
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(t.bal AS DECIMAL(18,6))) AS DOUBLE) AS bal_sum
    FROM orders o JOIN big_cust t ON o.o_custkey = t.c_custkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def temp_table_session(spark, sf_dir):
    """Session temp tables (gram.y:6480 OptTemp → RELPERSISTENCE_TEMP;
    ON COMMIT accepted per the autocommit position — the batch session
    is one implicit transaction): CREATE TEMP ... AS stages a
    selection, INSERT appends through the same managed path, the temp
    relation joins against the catalog star schema, pg_tables tags it
    'temp', and drop_temp_tables() reclaims it at session end —
    storage is purged, never recyclebin-parked."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="temp_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TEMP TABLE big_cust ON COMMIT PRESERVE ROWS AS"
            " SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal"
            " FROM customer WHERE c_acctbal > 5000"
        )
        eng.sql(
            "INSERT INTO big_cust SELECT c_custkey,"
            " CAST(c_acctbal AS DOUBLE) FROM customer"
            " WHERE c_acctbal < -900"
        )
        origin = {
            r.tablename: r.origin
            for r in eng.sql("SELECT * FROM pg_tables").collect()
        }
        assert origin.get("big_cust") == "temp"
        out = eng.sql(
            "SELECT o.o_orderstatus, COUNT(*) AS n,"
            " CAST(SUM(CAST(t.bal AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS bal_sum"
            " FROM orders o JOIN big_cust t"
            "   ON o.o_custkey = t.c_custkey"
            " GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus"
        )
        rows = [(r[0], r[1], float(r[2])) for r in out.collect()]
        dropped = eng.managed_tables.drop_temp_tables()
        assert dropped == ["big_cust"]
        assert not eng.managed_tables.recyclebin
        return spark.createDataFrame(
            rows, "o_orderstatus STRING, n BIGINT, bal_sum DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "cstore_distribute_select_into",
    """
    WITH fact AS (
      SELECT o_custkey AS custkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 2000
    ),
    agg AS (
      SELECT custkey, COUNT(*) AS n,
             CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM fact GROUP BY custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(total AS DECIMAL(20,6))) AS DOUBLE) AS grand,
           (SELECT CAST(SUM(id) AS BIGINT) FROM (
              SELECT ROW_NUMBER() OVER () AS id FROM fact) t) AS sum_id
    FROM agg
    """,
)
def cstore_distribute_select_into(spark, sf_dir):
    """The openGauss column-store DDL dialect end-to-end: CREATE TABLE
    ... WITH (ORIENTATION = COLUMN) DISTRIBUTE BY HASH(col)
    (gram.y:6483 OptWith/OptDistributeBy — parquet IS the column
    store; the distribution key becomes a hash repartition per write,
    the MPP co-location contract), a bigserial identity
    (parse_utilcmd.cpp:1051 implicit sequence), and SELECT ... INTO
    TEMP (gram.y:573 into_clause → CTAS, as transformSelectStmt
    rewrites it).  The oracle recomputes the two-level aggregation and
    the identity-sum invariant directly."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cstore_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE fact (id bigserial, custkey bigint,"
            " price double) WITH (ORIENTATION = COLUMN,"
            " COMPRESSION = low) DISTRIBUTE BY HASH(custkey)"
        )
        assert eng.managed_tables.tables["fact"]["distribute_by"] \
            == "custkey"
        eng.sql(
            "INSERT INTO fact SELECT o_custkey,"
            " CAST(o_totalprice AS DOUBLE) FROM orders"
            " WHERE o_orderkey <= 2000"
        )
        eng.sql(
            "SELECT custkey, COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " INTO TEMP agg_t FROM fact GROUP BY custkey"
        )
        assert eng.managed_tables.tables["agg_t"].get("temp") is True
        out = eng.sql(
            "SELECT COUNT(*) AS n_groups, SUM(n) AS n_rows,"
            " CAST(SUM(CAST(total AS DECIMAL(20,6))) AS DOUBLE)"
            "   AS grand,"
            " (SELECT SUM(id) FROM fact) AS sum_id"
            " FROM agg_t"
        )
        rows = [(r[0], r[1], float(r[2]), r[3]) for r in out.collect()]
        return spark.createDataFrame(
            rows,
            "n_groups BIGINT, n_rows BIGINT, grand DOUBLE,"
            " sum_id BIGINT",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "update_from_delete_using",
    """
    WITH t0 AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey <= 3000
    ),
    cust AS (SELECT c_custkey, c_acctbal FROM customer),
    t1 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN EXISTS (
               SELECT 1 FROM cust s WHERE t0.o_custkey = s.c_custkey
                 AND s.c_acctbal > 5000)
             THEN price * CAST(1.05 AS DOUBLE) ELSE price END AS price
      FROM t0
    ),
    t2 AS (
      SELECT * FROM t1 WHERE NOT EXISTS (
        SELECT 1 FROM cust s WHERE t1.o_custkey = s.c_custkey
          AND s.c_acctbal < -900)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM t2
    """,
)
def update_from_delete_using(spark, sf_dir):
    """The joined DML pair (gram.y:23328 UPDATE from_clause +
    gram.y:23218 DELETE using_clause): UPDATE ... FROM raises prices
    of orders whose customer is rich (one inner join + row-id
    writeback), DELETE ... USING drops orders of overdrawn customers
    (one semi join + row-id anti join).  The oracle spells both as
    EXISTS predicates.  The join keys are unique on the source side,
    so the one-match-per-row pick cannot diverge."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jdml_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE jt AS SELECT o_orderkey, o_custkey,"
            " CAST(o_totalprice AS DOUBLE) AS price FROM orders"
            " WHERE o_orderkey <= 3000"
        )
        eng.sql(
            "UPDATE jt SET price = jt.price * CAST(1.05 AS DOUBLE)"
            " FROM customer s"
            " WHERE jt.o_custkey = s.c_custkey AND s.c_acctbal > 5000"
        )
        eng.sql(
            "DELETE FROM jt USING customer s"
            " WHERE jt.o_custkey = s.c_custkey AND s.c_acctbal < -900"
        )
        out = eng.sql(
            "SELECT COUNT(*) AS n,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total FROM jt"
        )
        rows = [(r[0], float(r[1])) for r in out.collect()]
        eng.sql("DROP TABLE jt PURGE")
        return spark.createDataFrame(rows, "n BIGINT, total DOUBLE")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "insert_dup_key_upsert",
    """
    WITH t0 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             CAST(1 AS BIGINT) AS n
      FROM orders WHERE o_orderkey <= 1500
    ),
    incoming AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS price
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2500
      UNION ALL
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS price
      FROM orders WHERE o_orderkey >= 500 AND o_orderkey <= 700
    ),
    merged AS (
      SELECT COALESCE(t.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NOT NULL THEN i.price
                  ELSE t.price END AS price,
             CASE WHEN t.o_orderkey IS NOT NULL
                   AND i.o_orderkey IS NOT NULL THEN t.n + 1
                  WHEN t.o_orderkey IS NOT NULL THEN t.n
                  ELSE CAST(1 AS BIGINT) END AS n
      FROM t0 t FULL OUTER JOIN incoming i
        ON t.o_orderkey = i.o_orderkey
    )
    SELECT n, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM merged GROUP BY n ORDER BY n
    """,
)
def insert_dup_key_upsert(spark, sf_dir):
    """INSERT ... ON DUPLICATE KEY UPDATE end-to-end (the B-format
    upsert, nodeModifyTable.cpp's upsert path over the recorded
    PRIMARY KEY): matched keys take VALUES(price) and bump a counter
    (bare column = target, VALUES() = incoming — the MySQL scoping
    the reference adopted), unmatched keys insert.  The incoming set
    deliberately hits both overlap and fresh ranges; the oracle is
    the equivalent full-outer merge."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="dup_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE pk_t (o_orderkey bigint PRIMARY KEY,"
            " price double, n bigint)"
        )
        eng.sql(
            "INSERT INTO pk_t SELECT o_orderkey,"
            " CAST(o_totalprice AS DOUBLE), 1 FROM orders"
            " WHERE o_orderkey <= 1500"
        )
        eng.sql(
            "INSERT INTO pk_t SELECT o_orderkey,"
            " CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE), 1"
            " FROM orders WHERE (o_orderkey > 1000 AND"
            " o_orderkey <= 2500) OR (o_orderkey >= 500 AND"
            " o_orderkey <= 700)"
            " ON DUPLICATE KEY UPDATE price = VALUES(price), n = n + 1"
        )
        out = eng.sql(
            "SELECT n, COUNT(*) AS cnt,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM pk_t GROUP BY n ORDER BY n"
        )
        rows = [(r[0], r[1], float(r[2])) for r in out.collect()]
        eng.sql("DROP TABLE pk_t PURGE")
        return spark.createDataFrame(
            rows, "n BIGINT, cnt BIGINT, total DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "replace_into_upsert",
    """
    WITH t0 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             CAST(1 AS BIGINT) AS n
      FROM orders WHERE o_orderkey <= 1500
    ),
    incoming AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE) AS price,
             CAST(7 AS BIGINT) AS n
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2500
    ),
    merged AS (
      SELECT COALESCE(t.o_orderkey, i.o_orderkey) AS o_orderkey,
             CASE WHEN i.o_orderkey IS NOT NULL THEN i.price
                  ELSE t.price END AS price,
             CASE WHEN i.o_orderkey IS NOT NULL THEN i.n
                  ELSE t.n END AS n
      FROM t0 t FULL OUTER JOIN incoming i
        ON t.o_orderkey = i.o_orderkey
    )
    SELECT n, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM merged GROUP BY n ORDER BY n
    """,
)
def replace_into_upsert(spark, sf_dir):
    """REPLACE INTO end-to-end (gram.y:9552 DUPLICATE_REPLACE — the
    B-format whole-row upsert over the recorded PRIMARY KEY): matched
    keys take the ENTIRE incoming row, fresh keys insert; the oracle
    is the whole-row full-outer merge."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="repl_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE rp_t (o_orderkey bigint PRIMARY KEY,"
            " price double, n bigint)"
        )
        eng.sql(
            "INSERT INTO rp_t SELECT o_orderkey,"
            " CAST(o_totalprice AS DOUBLE), 1 FROM orders"
            " WHERE o_orderkey <= 1500"
        )
        eng.sql(
            "REPLACE INTO rp_t SELECT o_orderkey,"
            " CAST(o_totalprice AS DOUBLE) * CAST(3 AS DOUBLE), 7"
            " FROM orders WHERE o_orderkey > 1000 AND"
            " o_orderkey <= 2500"
        )
        out = eng.sql(
            "SELECT n, COUNT(*) AS cnt,"
            " CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE)"
            "   AS total"
            " FROM rp_t GROUP BY n ORDER BY n"
        )
        rows = [(r[0], r[1], float(r[2])) for r in out.collect()]
        eng.sql("DROP TABLE rp_t PURGE")
        return spark.createDataFrame(
            rows, "n BIGINT, cnt BIGINT, total DOUBLE"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
