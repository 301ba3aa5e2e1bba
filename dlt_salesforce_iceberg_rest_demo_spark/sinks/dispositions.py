"""Write dispositions (W1-W6) on a snapshot-versioned parquet lake.

The reference's heart is its dlt custom destination
(/root/reference/salesforce_pipeline.py:62-176): per-batch it loads or
creates an Iceberg table, aligns the batch to the table schema, and then

- append:  ``i_table.append(pa_table)``                        (:176)
- replace: ``delete(AlwaysTrue())`` then append - two commits,
  NOT atomic                                                   (:79-81)
- merge:   build a PK expression from the batch, ``delete(filter)``,
  then append = batch-local delete-then-insert upsert          (:83-130)
- fallback: merge without usable PKs warns and appends         (:131-138)
- auto-create with parquet/snappy table properties             (:140-151)

This module reproduces those semantics on plain parquet with an
Iceberg-style commit protocol so the tests (and any catalog-less
deployment) get real snapshot isolation:

- each table is a directory of immutable data dirs plus numbered
  manifest files; a manifest lists the data dirs visible in that
  snapshot;
- a commit = write data dir(s) + write manifest N+1 + atomically rename
  a pointer file. Readers resolve the pointer once - a crashed writer
  can never leave a half-visible table (STRICTLY better than the
  reference's two-commit replace, which has a visible-empty window);
- append never rewrites history (manifest N+1 = manifest N + new dir) -
  O(batch), not O(table);
- merge is copy-on-write like Iceberg's MERGE INTO default: rewrite of
  the surviving base + batch. The anti-join is broadcast when the batch
  is small (the reference's 1k-10k row dlt batches always are), so at
  100 TB the shuffle cost is one broadcast pass over the base, not a
  sort-merge of the table.

The real-Iceberg path (same dispositions through ``MERGE INTO`` /
``writeTo``) lives in ``sinks.iceberg`` and activates when the runtime
jar + catalog are configured.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..normalize import align_to_schema, nullable_everything, widen_types

logger = logging.getLogger(__name__)

# Table properties written at auto-create (salesforce_pipeline.py:146-149).
DEFAULT_TABLE_PROPERTIES = {
    "write.format.default": "parquet",
    "write.parquet.compression-codec": "snappy",
}

# Marker column for guard_stale tombstones: a delete that wins under the
# version guard persists as a row with this column True (payload NULL,
# last_version = the delete's version), hidden by `read` and retained
# until `compact_tombstones`. Kept rows carry False/NULL.
TOMBSTONE_COL = "_cdc_deleted"

# Column names merge_cdc generates or persists; a changelog whose key or
# payload uses one of these would collide (ambiguous/duplicate columns,
# or silent guard-state corruption), so merge_cdc rejects them up front.
_CDC_RESERVED = ("last_version", TOMBSTONE_COL, "__op", "__base_v")


@dataclass
class WriteReport:
    table: str
    disposition: str
    rows_written: int
    fallback_append: bool = False


class ParquetLake:
    """Snapshot-versioned parquet tables under one root directory."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike[str]) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- catalog surface (S4/S5 parity: check_tables.py:29-47) ------------

    def list_tables(self) -> list[str]:
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and (p / "_POINTER").exists()
        )

    def exists(self, table: str) -> bool:
        return (self.root / table / "_POINTER").exists()

    def table_location(self, table: str) -> str:
        return str(self.root / table)

    def table_properties(self, table: str) -> dict[str, str]:
        props = self.root / table / "_PROPERTIES.json"
        return json.loads(props.read_text()) if props.exists() else {}

    def read(
        self,
        table: str,
        version: int | str | None = None,
        *,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Scan a snapshot (S4): the current one, ``version`` for time
        travel (any manifest `vacuum` hasn't expired), or a named ref
        (tag) created with :meth:`set_ref` — the Iceberg
        ``VERSION AS OF 'tag'`` analog.

        Guard tombstones (see :meth:`merge_cdc` ``guard_stale``) are
        filtered out and the marker column dropped — readers see live
        rows only, exactly the pre-tombstone result set. Internal
        copy-on-write rewrites pass ``with_tombstones=True`` so guard
        state survives merges and compactions (an equality-delete-file
        read analog: the scan applies the deletes, maintenance carries
        them)."""
        if isinstance(version, str):
            named = {**self.branches(table), **self.refs(table)}
            if version not in named:
                raise ValueError(
                    f"ref or branch {version!r} does not exist on {table}"
                )
            version = named[version]
        if version is None:
            dirs = self._current_manifest(table)
        else:
            manifest = self.root / table / f"_MANIFEST.{version}.json"
            if not manifest.exists():
                raise ValueError(
                    f"snapshot {version} of {table} does not exist "
                    "(never written, or expired by vacuum)"
                )
            dirs = self._manifest_info(table, version)[0]
        schema = self.schema(table)
        if not dirs:
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [str(self.root / table / d) for d in dirs]
            df = self.spark.read.schema(schema).parquet(*paths)
        if not with_tombstones and TOMBSTONE_COL in df.columns:
            df = df.filter(
                ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            ).drop(TOMBSTONE_COL)
        return df

    def current_version(self, table: str) -> int:
        """Public snapshot id for time travel / diff."""
        return self._current_version(table)

    def diff(
        self, table: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed between two snapshots: the multiset difference in
        both directions, tagged ``insert`` / ``delete`` (an update under
        the merge disposition appears as a delete+insert pair, exactly
        the reference's delete-then-insert merge semantics,
        salesforce_pipeline.py:83-130).

        ``exceptAll`` keeps duplicate multiplicity, so batch-local
        duplicate PKs (which the reference preserves) diff correctly.
        At 100 TB both sides hash-shuffle once on the full row; for
        PK-keyed tables prefer diffing on (pk, row-hash) projections."""
        old = self.read(table, from_version)
        new = self.read(table, to_version)
        return new.exceptAll(old).withColumn(
            "change_type", F.lit("insert")
        ).unionByName(
            old.exceptAll(new).withColumn("change_type", F.lit("delete"))
        )

    def count(self, table: str) -> int:
        """A1 verification count - metadata-only on parquet footers."""
        return self.read(table).count()

    # -- named snapshot refs (Iceberg tag analog) -------------------------

    def refs(self, table: str) -> dict[str, int]:
        """Named snapshot refs: tag name -> pinned version."""
        p = self.root / table / "_REFS.json"
        return json.loads(p.read_text()) if p.exists() else {}

    def set_ref(self, table: str, name: str, version: int | None = None) -> int:
        """Pin a name to a snapshot (current one by default) — the
        Iceberg tag: reproducible reads (`read(table, 'ref')`) that
        survive later commits, and a retention root for `vacuum`
        (tagged snapshots never expire — same contract as Iceberg's
        expire_snapshots). Audit/eval pipelines tag the snapshot they
        ran on; retraining reads the tag, not 'whatever is current'."""
        v = self._current_version(table) if version is None else version
        if not (self.root / table / f"_MANIFEST.{v}.json").exists():
            raise ValueError(f"snapshot {v} of {table} does not exist")
        refs = self.refs(table)
        refs[name] = v
        tmp = self.root / table / f"_REFS.tmp.{name}"
        tmp.write_text(json.dumps(refs))
        os.replace(tmp, self.root / table / "_REFS.json")
        return v

    def drop_ref(self, table: str, name: str) -> None:
        refs = self.refs(table)
        refs.pop(name, None)
        tmp = self.root / table / f"_REFS.tmp.{name}"
        tmp.write_text(json.dumps(refs))
        os.replace(tmp, self.root / table / "_REFS.json")

    def schema(self, table: str) -> T.StructType:
        schema_file = self.root / table / "_SCHEMA.json"
        return T.StructType.fromJson(json.loads(schema_file.read_text()))

    # -- snapshot plumbing -------------------------------------------------

    def _pointer(self, table: str) -> Path:
        return self.root / table / "_POINTER"

    def _current_version(self, table: str) -> int:
        return int(self._pointer(table).read_text())

    def _manifest_info(self, table: str, v: int) -> tuple[list[str], int | None]:
        """Manifest payload: (data dirs, commit epoch-micros). Reads
        both formats — the original bare dir list (committed_at None)
        and the current {"dirs", "committed_at"} dict."""
        data = json.loads(
            (self.root / table / f"_MANIFEST.{v}.json").read_text()
        )
        if isinstance(data, list):
            return data, None
        return data["dirs"], data.get("committed_at")

    def _head(self, table: str, branch: str | None = None) -> int:
        """Head version of main (``branch`` None) or of a branch."""
        if branch is None:
            return self._current_version(table)
        return self._branch_version(table, branch)

    def _current_manifest(self, table: str, branch: str | None = None) -> list[str]:
        return self._manifest_info(table, self._head(table, branch))[0]

    def _commit(self, table: str, data_dirs: list[str], branch: str | None = None) -> None:
        """Write a new manifest then atomically swing a pointer — the
        main ``_POINTER`` or a branch head. Manifests record commit
        wall-clock (epoch micros, for AS-OF time travel) and their
        PARENT version (for fast-forward ancestry checks). Version
        numbers are allocated globally (1 + max existing manifest), so
        branch and main histories never collide."""
        import time

        tdir = self.root / table
        parent = self._head(table, branch)
        existing = [int(m.name.split(".")[1]) for m in tdir.glob("_MANIFEST.*.json")]
        v = (max(existing) if existing else -1) + 1
        (tdir / f"_MANIFEST.{v}.json").write_text(
            json.dumps(
                {
                    "dirs": data_dirs,
                    "committed_at": time.time_ns() // 1000,
                    "parent": parent,
                }
            )
        )
        if branch is not None:
            self._write_branches(table, {**self.branches(table), branch: v})
        else:
            tmp = tdir / f"_POINTER.tmp.{v}"
            tmp.write_text(str(v))
            os.replace(tmp, self._pointer(table))

    # -- branches (Iceberg branch / write-audit-publish analog) ----------

    def branches(self, table: str) -> dict[str, int]:
        """Named MUTABLE heads: branch name -> head version. Unlike tags
        (:meth:`set_ref`, pinned forever), a branch advances when
        written to via ``write(..., branch=name)``."""
        p = self.root / table / "_BRANCHES.json"
        return json.loads(p.read_text()) if p.exists() else {}

    def _write_branches(self, table: str, branches: dict[str, int]) -> None:
        tmp = self.root / table / "_BRANCHES.tmp"
        tmp.write_text(json.dumps(branches))
        os.replace(tmp, self.root / table / "_BRANCHES.json")

    def _branch_version(self, table: str, name: str) -> int:
        b = self.branches(table)
        if name not in b:
            raise ValueError(f"branch {name!r} does not exist on {table}")
        return b[name]

    def create_branch(self, table: str, name: str, version: int | None = None) -> int:
        """Fork a branch at a snapshot (current main by default) — the
        Iceberg branch, enabling WRITE-AUDIT-PUBLISH: load into the
        branch, validate it (`operators.expectations.check_report` over
        ``read(table, branch)``), then :meth:`fast_forward` main. A
        failed audit just drops the branch; main never saw bad data."""
        v = self._current_version(table) if version is None else version
        if not (self.root / table / f"_MANIFEST.{v}.json").exists():
            raise ValueError(f"snapshot {v} of {table} does not exist")
        self._write_branches(table, {**self.branches(table), name: v})
        return v

    def drop_branch(self, table: str, name: str) -> None:
        b = self.branches(table)
        b.pop(name, None)
        self._write_branches(table, b)

    def _manifest_parent(self, table: str, v: int) -> int | None:
        data = json.loads((self.root / table / f"_MANIFEST.{v}.json").read_text())
        return data.get("parent") if isinstance(data, dict) else None

    def _is_legacy_manifest(self, table: str, v: int) -> bool:
        """True iff manifest ``v`` predates lineage recording: a bare
        dir list, or a dict with no "parent" key at all. A dict whose
        parent is present (even if null for a root) is lineage-era and
        therefore reachable via parent chains if it was ever on main."""
        data = json.loads((self.root / table / f"_MANIFEST.{v}.json").read_text())
        return not isinstance(data, dict) or "parent" not in data

    def _main_ancestry(self, table: str, limit: int | None = None) -> list[int]:
        """Versions along MAIN's parent chain, newest first, starting at
        the current pointer. The chain is the published lineage — branch
        heads and orphaned WAP staging manifests are never on it (until
        a fast_forward publishes them). Stops cleanly at the root or at
        lineage `vacuum` already expired; ``limit`` caps the walk.

        LEGACY FALLBACK: if the chain breaks at a pre-lineage manifest
        (no recorded parent, but numerically older manifests still on
        disk), the walk extends with the descending numeric window and
        warns — expiring real pre-lineage history (or refusing AS-OF
        resolution past the break) would be a silent behavior change vs
        the old numeric-window retention. The window admits ONLY
        legacy-format manifests (no recorded parent): lineage-era
        commits always record their parent (:meth:`_commit`), so any
        parented manifest below the break is branch lineage or an
        orphaned WAP staging manifest that was never published on main —
        including those would let ``version_as_of`` resolve timestamp
        travel to a snapshot main never saw, and would break the
        monotone-commit-time ordering its early return relies on
        (pre-lineage manifests are numbered monotonically with commit
        time because branches did not exist pre-lineage)."""
        chain: list[int] = []
        v: int | None = self._current_version(table)
        expired = False
        while v is not None and (limit is None or len(chain) < limit):
            if not (self.root / table / f"_MANIFEST.{v}.json").exists():
                expired = True  # vacuumed lineage: genuine end of history
                break
            chain.append(v)
            v = self._manifest_parent(table, v)
        if (
            not expired
            and v is None
            and chain
            and (limit is None or len(chain) < limit)
        ):
            older = sorted(
                (
                    w
                    for w in (
                        int(m.name.split(".")[1])
                        for m in (self.root / table).glob("_MANIFEST.*.json")
                    )
                    if w < chain[-1]
                    and w not in chain
                    and self._is_legacy_manifest(table, w)
                ),
                reverse=True,
            )
            if older:
                logger.warning(
                    "lineage of %s breaks at legacy manifest v%d (no "
                    "recorded parent); falling back to the numeric "
                    "version window over %d older manifest(s)",
                    table,
                    chain[-1],
                    len(older),
                )
                for w in older:
                    if limit is not None and len(chain) >= limit:
                        break
                    chain.append(w)
        return chain

    def fast_forward(self, table: str, branch: str) -> int:
        """PUBLISH: advance main to the branch head — atomic and
        metadata-only (the data dirs were already written by the branch
        commits). Refuses unless main's current snapshot is an ANCESTOR
        of the branch head (walking the manifests' parent chain), i.e.
        nothing was committed to main since the fork — the Iceberg
        fast_forward contract; a diverged main must be resolved by
        re-branching, never silently overwritten."""
        head = self._branch_version(table, branch)
        current = self._current_version(table)
        v: int | None = head
        while v is not None and v > current:
            try:
                v = self._manifest_parent(table, v)
            except FileNotFoundError:
                # Interior branch lineage expired by vacuum: the walk can
                # no longer prove ancestry — same clean refusal as a
                # genuinely diverged main, never an unhandled IO error.
                v = None
        if v != current:
            raise ValueError(
                f"main of {table} (v{current}) is not an ancestor of "
                f"branch {branch!r} (v{head}); cannot fast-forward"
            )
        tdir = self.root / table
        tmp = tdir / f"_POINTER.tmp.ff{head}"
        tmp.write_text(str(head))
        os.replace(tmp, self._pointer(table))
        return head

    def version_as_of(self, table: str, as_of) -> int:
        """Resolve the snapshot current AS OF a wall-clock instant
        (Iceberg `TIMESTAMP AS OF` / `snapshot_id_as_of`): the newest
        MAIN-lineage ancestor whose commit time <= ``as_of`` (datetime
        or epoch micros). Resolution walks the current pointer's parent
        chain — branch commits and dropped (audit-failed) WAP staging
        manifests are invisible, matching Iceberg's contract that
        timestamp travel follows the main branch history only.
        Pre-timestamp legacy manifests (and the empty manifest 0,
        written by create_table without a timestamp) only resolve by
        explicit version number."""
        import datetime as _dt

        if isinstance(as_of, _dt.datetime):
            as_of = int(as_of.timestamp() * 1_000_000)
        # Commit times are monotone along the parent chain (child commits
        # after parent), so the first qualifying ancestor is the answer.
        for v in self._main_ancestry(table):
            _, ts = self._manifest_info(table, v)
            if ts is not None and ts <= as_of:
                return v
        raise ValueError(
            f"no snapshot of {table} committed at or before {as_of}"
        )

    def partition_columns(self, table: str) -> list[str]:
        spec = self.table_properties(table).get("partition-by", "")
        return [c for c in spec.split(",") if c]

    def _new_data_dir(self, table: str, df: DataFrame) -> tuple[str, int]:
        """Materialize df as an immutable data dir; returns (name, rows).

        The row count rides the write itself via ``observe()`` (one
        scan total) - the previous read-back count was a second full
        scan of just-written data per commit, which at 100 TB doubles
        every load's I/O."""
        tdir = self.root / table
        # Allocate past any existing dir, not main-version + 1: branch
        # commits write data dirs without advancing the main pointer,
        # so version-derived names would collide on the next write.
        existing = [
            int(p.name.split("_")[1])
            for p in tdir.glob("data_*")
            if p.name.split("_")[1].isdigit()
        ]
        v = max(existing, default=self._current_version(table)) + 1
        name = f"data_{v:06d}"
        obs = Observation(f"rows_{table}_{v}")
        writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("errorifexists")
        parts = self.partition_columns(table)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(str(tdir / name))
        return name, int(obs.get["n"])

    # -- W5: auto-create ---------------------------------------------------

    def create_table(
        self,
        table: str,
        schema: T.StructType,
        properties: dict[str, str] | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """First-contact table creation (salesforce_pipeline.py:140-151):
        widened, all-nullable schema + parquet/snappy properties.

        ``partition_by`` columns are recorded as a table property and
        applied on every data-dir write (hive-style directories), so
        filters on them prune at the file-listing level - the plain-
        parquet analog of Iceberg partition transforms. At 100 TB the
        cursor/date column of every append-heavy table should be here.
        """
        tdir = self.root / table
        tdir.mkdir(parents=True, exist_ok=True)
        final_schema = nullable_everything(widen_types(schema))
        (tdir / "_SCHEMA.json").write_text(json.dumps(final_schema.jsonValue()))
        props = dict(properties or DEFAULT_TABLE_PROPERTIES)
        if partition_by:
            props["partition-by"] = ",".join(partition_by)
        (tdir / "_PROPERTIES.json").write_text(json.dumps(props))
        (tdir / "_MANIFEST.0.json").write_text(json.dumps([]))
        tmp = tdir / "_POINTER.tmp.0"
        tmp.write_text("0")
        os.replace(tmp, self._pointer(table))

    def drop_table(self, table: str) -> None:
        shutil.rmtree(self.root / table, ignore_errors=True)

    def _prepare(
        self, table: str, df: DataFrame, evolve: bool = False
    ) -> DataFrame:
        """Auto-create if missing, then T3-align the batch to the table
        schema (add typed NULLs, drop extras, target order -
        salesforce_pipeline.py:153-176). With ``evolve=True`` new batch
        columns widen the table schema first instead of being dropped."""
        if not self.exists(table):
            self.create_table(table, df.schema)
        elif evolve:
            self.evolve_schema(table, df.schema)
        return align_to_schema(df, self.schema(table))

    def evolve_schema(self, table: str, batch_schema: T.StructType) -> list[str]:
        """Additive schema evolution (the opt-in extension SURVEY §7
        schedules next to reference-parity alignment, which silently
        DROPS unknown batch columns — salesforce_pipeline.py:166):
        append any batch column the table lacks, widened + nullable,
        Iceberg add-column style. METADATA-ONLY — existing data dirs
        are untouched; the explicit-schema parquet scan returns typed
        NULLs for files that predate a column (exactly how Iceberg
        reads pre-evolution files). Existing columns never change type
        or position, so field identity is positional-stable. Returns
        the added column names."""
        current = self.schema(table)
        have = {f.name for f in current.fields}
        added = [f for f in widen_types(batch_schema).fields if f.name not in have]
        if not added:
            return []
        new_schema = T.StructType(
            current.fields + [T.StructField(f.name, f.dataType, True) for f in added]
        )
        tdir = self.root / table
        tmp = tdir / "_SCHEMA.tmp.json"
        tmp.write_text(json.dumps(new_schema.jsonValue()))
        os.replace(tmp, tdir / "_SCHEMA.json")
        return [f.name for f in added]

    # -- W1/W2/W3 dispositions ----------------------------------------------

    def append(
        self,
        df: DataFrame,
        table: str,
        evolve: bool = False,
        *,
        branch: str | None = None,
    ) -> WriteReport:
        """W1: new snapshot = old manifest + one new data dir, on main or
        on ``branch`` (which must exist; :meth:`write` forks it).

        An empty batch is a no-op: no data dir, no commit. dlt never
        invokes the destination for a zero-item batch, so an idle
        incremental poll (cursor advanced past all rows) must not grow
        the snapshot chain - at scale that is one spurious manifest per
        table per tick.

        ``evolve=True`` adds unknown batch columns to the table schema
        first (see :meth:`evolve_schema`); the default keeps reference
        drop-extras parity."""
        df = self._prepare(table, df, evolve=evolve)
        name, rows = self._new_data_dir(table, df)
        if rows == 0:
            shutil.rmtree(self.root / table / name, ignore_errors=True)
            return WriteReport(table, "append", 0)
        self._commit(table, self._current_manifest(table, branch) + [name], branch=branch)
        return WriteReport(table, "append", rows)

    def replace(
        self, df: DataFrame, table: str, *, branch: str | None = None
    ) -> WriteReport:
        """W2: new snapshot = exactly the new data dir. One atomic commit
        (the reference needs two: delete(AlwaysTrue) + append)."""
        df = self._prepare(table, df)
        name, rows = self._new_data_dir(table, df)
        self._commit(table, [name], branch=branch)
        return WriteReport(table, "replace", rows)

    def merge(
        self,
        df: DataFrame,
        table: str,
        primary_key: tuple[str, ...] | list[str],
        *,
        branch: str | None = None,
    ) -> WriteReport:
        """W3 merge = batch-local delete-then-insert upsert
        (salesforce_pipeline.py:83-130):

        1. rows in the base whose PK appears in the batch are deleted
           (the reference builds an Or-of-And PyIceberg expression, P7;
           here it's a broadcast anti-join - same relation algebra);
        2. the whole batch is appended.

        Reference quirk preserved: duplicate PKs *within* one batch
        survive as duplicates (the delete runs before the insert, against
        the base only).

        First contact (no table yet) creates the table through
        :meth:`append`. W4 fallbacks: no declared PK, or PK columns
        absent from the table schema -> warn + append
        (salesforce_pipeline.py:131-138).
        """
        pk = list(primary_key)
        if not self.exists(table):
            rep = self.append(df, table, branch=branch)
            # Reference flags the no-PK fallback on every load, including
            # first contact (salesforce_pipeline.py:131-138).
            return WriteReport(table, "merge", rep.rows_written, fallback_append=not pk)
        # The aligned batch has exactly the schema's columns, so the key
        # check runs on the schema and the fallback aligns only once.
        missing = [k for k in pk if k not in self.schema(table).fieldNames()]
        if not pk or missing:
            logger.warning(
                "merge disposition for %s without usable primary key %s "
                "(missing %s): falling back to append",
                table,
                pk,
                missing,
            )
            rep = self.append(df, table, branch=branch)
            return WriteReport(table, "merge", rep.rows_written, fallback_append=True)

        df = self._prepare(table, df)
        # Empty incremental batch -> no-op. Without this, copy-on-write
        # would rewrite the whole table for an idle cursor poll - O(table)
        # for zero changes, catastrophic at scale.
        batch_rows = df.count()
        if batch_rows == 0:
            return WriteReport(table, "merge", 0)
        self._upsert(table, df.select(*pk).distinct(), df, branch)
        # rows_written = batch rows loaded (the reference's LoadInfo
        # semantics), not the copy-on-write rewrite size.
        return WriteReport(table, "merge", batch_rows)

    def _upsert(
        self,
        table: str,
        touched_keys: DataFrame,
        rows: DataFrame,
        branch: str | None = None,
    ) -> None:
        """Copy-on-write upsert, the one rewrite :meth:`merge` and
        :meth:`merge_cdc` share: commit a snapshot of the base rows whose
        key is not in ``touched_keys`` (a distinct key-column frame,
        broadcast - batch-sized) plus ``rows`` (already aligned to the
        table schema). The base is read with tombstones, so guard state
        of untouched keys survives; a touched key's tombstone falls to
        the anti-join (the unguarded-write contract in :meth:`merge_cdc`)."""
        base = self.read(table, branch, with_tombstones=True)
        kept = base.join(F.broadcast(touched_keys), touched_keys.columns, "left_anti")
        name, _total = self._new_data_dir(table, kept.unionByName(rows))
        self._commit(table, [name], branch=branch)

    def merge_cdc(
        self,
        log: DataFrame,
        table: str,
        key_col: str,
        version_col: str = "version",
        op_col: str = "op",
        guard_stale: bool = False,
    ) -> WriteReport:
        """CDC disposition: apply an I/U/D changelog to the table in ONE
        atomic commit — the upsert-with-deletes the reference's
        delete-then-insert merge (W3) cannot express (it has no delete
        op; rows can only be replaced, never removed). This is the lake
        half of `operators.incremental_agg.apply_changelog` /
        `cdc_apply_changelog`: the changelog compacts to last-writer-
        wins per key first (partial-aggregatable ARGMAX over (version,
        op, payload) structs, no window sort), then

        - keys whose final op is D disappear,
        - every other touched key is replaced by its final payload,
        - untouched base rows are carried (broadcast anti-join on the
          touched-key set — O(log) not O(table) shuffle, the same
          scale argument as :meth:`merge`),

        all visible in a single snapshot (Iceberg ``MERGE INTO ... WHEN
        MATCHED AND op='D' THEN DELETE`` semantics). An empty changelog
        is a no-op (no commit — the idle-poll rule from
        :meth:`append`). ``rows_written`` reports surviving upserts.

        Delivery contract (default, ``guard_stale=False``): versions
        order writers only WITHIN a changelog; ACROSS calls the last
        call wins regardless of version — correct when the upstream
        delivers each key in version order across batches (Kafka /
        Debezium per-key topic ordering), the standard streaming-CDC
        assumption. ``guard_stale=True`` drops that assumption
        entirely: the table retains each key's ``last_version`` (added
        by additive schema evolution, NULL — i.e. 'any version beats
        me' — for rows predating the guard) and an incoming final
        decision only applies when its version is strictly newer.
        Deletes persist as TOMBSTONES — marker rows (``_cdc_deleted``
        True, payload NULL) carrying the delete's version, hidden by
        :meth:`read` — so a stale update arriving AFTER the delete
        that superseded it is recognized and discarded instead of
        resurrecting the key; a delete for a never-seen key also
        tombstones (it may be outrunning its own insert). The final
        table is therefore independent of batch order for ARBITRARY
        changelogs, deletes included (the split-invariance law in
        tests/test_properties.py draws random batch permutations);
        the remaining requirement is unique (key, version) pairs —
        cross-batch version TIES resolve first-arrival-wins (strict
        ``>``), which no guard can order. Stale-only batches commit
        nothing. Tombstones accrete until
        :meth:`compact_tombstones` drops those older than the
        upstream's maximum lateness (Kafka retention reasoning);
        compacting one re-opens the resurrection window for versions
        older than it, which is the inherent retention trade.

        Guarded-state hygiene: ``last_version``/``_cdc_deleted``/
        ``__op``/``__base_v`` are reserved — a changelog whose key or
        payload uses one raises. ``version_col`` must convert to long
        losslessly and NULL-free in guarded mode (a silent NULL would
        mean 'any version beats me' and quietly disable the guard —
        raise instead); integral, numeric-string, whole-decimal, and
        TIMESTAMP versions (ordered as epoch microseconds) all
        qualify. Unguarded merges validate nothing up front, but
        ``apply_changelog``'s inline guard raises at execution time
        on any non-NULL version the cast cannot represent. An UNGUARDED merge_cdc onto a guarded table keeps
        writing ``last_version`` for the keys it touches (so a later
        guarded call still has state) but applies last-call-wins and
        REPLACES tombstones it upserts over — mixing modes on one
        table downgrades touched keys to the unguarded contract.
        """
        payload_cols = [
            c for c in log.columns if c not in (key_col, version_col, op_col)
        ]
        clash = [
            c for c in (key_col, *payload_cols) if c in _CDC_RESERVED
        ]
        if clash:
            raise ValueError(
                f"merge_cdc reserved column name(s) {clash} in changelog "
                f"for {table}: rename them (reserved: {_CDC_RESERVED})"
            )
        if log.isEmpty():
            return WriteReport(table, "merge_cdc", 0)
        table_guarded = self.exists(table) and "last_version" in {
            f.name for f in self.schema(table).fields
        }
        if guard_stale or table_guarded:
            self._check_version_castable(log, version_col, table)
        if guard_stale:
            return self._merge_cdc_guarded(
                log, table, key_col, version_col, op_col, payload_cols
            )
        from ..operators.incremental_agg import apply_changelog

        upserts = apply_changelog(
            log, key_col, version_col, op_col, payload_cols
        )
        if not table_guarded:
            upserts = upserts.drop("last_version")
        if not self.exists(table):
            rep = self.append(upserts, table)
            return WriteReport(table, "merge_cdc", rep.rows_written)
        n_upserts = upserts.count()
        self._upsert(
            table, log.select(key_col).distinct(), self._prepare(table, upserts)
        )
        return WriteReport(table, "merge_cdc", n_upserts)

    def _check_version_castable(
        self, log: DataFrame, version_col: str, table: str
    ) -> None:
        """Fail loudly when ``version_col`` cannot become a NULL-free,
        value-preserving long: a silent NULL ``last_version`` means
        'any version beats me' (the guard degrades to last-call-wins
        without telling anyone), and a fractional value truncates on
        cast (decimal 9.5 and 9.4 become the same long — false ties
        the strict-``>`` guard then drops as stale). Integral AND
        timestamp column types convert totally (timestamps become
        epoch micros via ``version_to_long`` — the reference's own
        cursor is a SystemModstamp datetime), so they pay only the
        NULL check; anything else (numeric strings, whole-valued
        decimals, doubles) additionally hits the shared
        ``version_unrepresentable`` predicate — non-numeric,
        fractional, and NaN/±Inf values alike (the latter two escape
        a decimal round-trip check alone: non-ANSI cast(NaN as long)
        = 0 and cast(Inf as long) = Long.MAX are non-NULL while the
        decimal cast NULLs, leaving the inequality NULL — ADVICE r9).
        One filter+isEmpty over the batch-sized log. The caller then
        canonicalizes the column to long BEFORE the per-key argmax —
        raw-typed comparison would order strings lexicographically
        ("9" > "10") and hand the win to the older event."""
        from ..operators.incremental_agg import version_unrepresentable

        dtype = dict(log.dtypes)[version_col]
        c = F.col(version_col)
        bad = log.filter(
            c.isNull() | version_unrepresentable(c, dtype)
        )
        if not bad.isEmpty():
            raise ValueError(
                f"guard_stale merge_cdc on {table}: version column "
                f"{version_col!r} (type {dtype}) has values that are "
                "NULL, non-numeric, fractional, or NaN/Inf; a NULL "
                "last_version silently disables the stale guard and a "
                "truncating cast creates false version ties, so this "
                "is an error. Provide a whole-valued NULL-free "
                "numeric, a timestamp column (ordered as epoch "
                "microseconds), or pre-convert (e.g. unix_micros) "
                "yourself."
            )

    def _merge_cdc_guarded(
        self,
        log: DataFrame,
        table: str,
        key_col: str,
        version_col: str,
        op_col: str,
        payload_cols: list[str],
    ) -> WriteReport:
        """The ``guard_stale=True`` body of :meth:`merge_cdc`: per-key
        final decision INCLUDING deletes (the delete's version must
        out-rank the stored row, unlike apply_changelog which drops
        deleted keys before their version is known), stale-filtered
        against the table's persisted ``last_version`` — tombstones
        included, which is what closes the resurrection boundary: a
        stale update probing a deleted key finds the tombstone's
        version and loses. Winning deletes write tombstones (marker
        row, payload NULL) whether or not the key exists — a delete
        for an absent key is guard state too (its insert may still be
        in flight), so the commit is never a no-change rewrite.

        The version column is canonicalized to long BEFORE the argmax
        (``version_to_long``: integral cast, timestamps -> epoch
        micros): comparing the raw type would order numeric strings
        lexicographically ("9" > "10" hands the win to the older
        event) and truncate decimals per-comparison. NULL-free,
        lossless conversion was already enforced by
        :meth:`_check_version_castable`."""
        from ..operators.incremental_agg import version_to_long

        dtype = dict(log.dtypes)[version_col]
        log = log.withColumn(
            version_col, version_to_long(F.col(version_col), dtype)
        )
        m = log.groupBy(key_col).agg(
            F.max(F.struct(version_col, op_col, *payload_cols)).alias("m")
        )
        final = m.select(
            key_col,
            F.col(f"m.{version_col}").alias("last_version"),
            F.col(f"m.{op_col}").alias("__op"),
            *[F.col(f"m.{c}").alias(c) for c in payload_cols],
        )

        def split(dec: DataFrame) -> DataFrame:
            """Decision rows -> storable rows: live upserts + tombstones
            (payload NULLed via the union's missing-column fill)."""
            ups = (
                dec.filter(F.col("__op") != "D")
                .drop("__op")
                .withColumn(TOMBSTONE_COL, F.lit(False))
            )
            tmb = dec.filter(F.col("__op") == "D").select(
                key_col, "last_version", F.lit(True).alias(TOMBSTONE_COL)
            )
            return ups.unionByName(tmb, allowMissingColumns=True)

        if not self.exists(table):
            incoming = split(final)
            n_upserts = incoming.filter(~F.col(TOMBSTONE_COL)).count()
            self.append(incoming, table)
            return WriteReport(table, "merge_cdc", n_upserts)
        base = self.read(table, with_tombstones=True)
        if "last_version" in base.columns:
            # per-key MAX guards against bases holding duplicate keys
            # (mixed appends); partial-aggregatable, key-width rows
            basev = base.groupBy(key_col).agg(
                F.max("last_version").alias("__base_v")
            )
        else:
            # pre-guard rows carry no version: any incoming version wins
            basev = base.select(
                key_col, F.lit(None).cast("long").alias("__base_v")
            ).distinct()
        dec = final.join(basev, key_col, "left").filter(
            F.col("__base_v").isNull()
            | (F.col("last_version") > F.col("__base_v"))
        )
        if dec.isEmpty():  # stale-only batch: no commit
            return WriteReport(table, "merge_cdc", 0)
        incoming = split(dec.drop("__base_v"))
        n_upserts = incoming.filter(~F.col(TOMBSTONE_COL)).count()
        # additive evolution: a previously-unguarded table gains
        # last_version + _cdc_deleted (typed NULLs for older files); the
        # upsert's base read then scans with the evolved schema
        incoming = self._prepare(table, incoming, evolve=True)
        self._upsert(table, dec.select(key_col), incoming)
        return WriteReport(table, "merge_cdc", n_upserts)

    def compact_tombstones(
        self, table: str, before_version: int
    ) -> "WriteReport":
        """Retention compaction for guard tombstones: rewrite the
        current snapshot dropping tombstone rows whose ``last_version``
        is < ``before_version``; live rows and newer tombstones are
        untouched (one atomic commit, `compact`-style). No-op (no
        commit) when nothing qualifies.

        Retention contract: a tombstone is the ONLY record that a key
        was deleted at that version, so dropping it re-opens the
        resurrection window for changelog events older than it. Call
        this with the oldest version the upstream can still deliver
        (e.g. the version horizon of the Kafka/Debezium topic's
        retention window) — the same reasoning that sizes any CDC
        consumer's dedup state. ``rows_written`` reports the number of
        tombstones dropped."""
        raw = self.read(table, with_tombstones=True)
        if TOMBSTONE_COL not in raw.columns:
            return WriteReport(table, "compact_tombstones", 0)
        doomed = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)) & (
            F.col("last_version") < F.lit(before_version)
        )
        n_doomed = raw.filter(doomed).count()
        if n_doomed == 0:
            return WriteReport(table, "compact_tombstones", 0)
        name, _rows = self._new_data_dir(table, raw.filter(~doomed))
        self._commit(table, [name])
        return WriteReport(table, "compact_tombstones", n_doomed)

    # -- lake maintenance (Iceberg rewrite_data_files / expire_snapshots
    #    analogs; the reference has no maintenance story - PyIceberg
    #    single-writer appends accrete files forever, README.md:269-281) --

    def compact(self, table: str, target_files: int = 1) -> "WriteReport":
        """Rewrite the CURRENT snapshot into one fresh data dir with
        ``target_files`` files and commit it as a new snapshot - the
        small-file compaction every append-heavy lake needs (at 100 TB
        the cursor-poll pipeline lands a file per poll per table; scan
        cost follows file count, not byte count, once files are small).
        Logically a no-op: readers before/after see identical rows;
        old snapshots still resolve until `vacuum`. Guard tombstones
        are carried through (they expire via `compact_tombstones`,
        never silently)."""
        df = self.read(table, with_tombstones=True).coalesce(target_files)
        name, rows = self._new_data_dir(table, df)
        self._commit(table, [name])
        return WriteReport(table, "compact", rows)

    def compact_zorder(
        self,
        table: str,
        zorder_cols: list[str],
        num_files: int = 8,
        bits: int = 16,
    ) -> "WriteReport":
        """Compaction + multi-dimensional clustering in one rewrite —
        Iceberg ``rewrite_data_files`` with a z-order sort order /
        Delta ``OPTIMIZE ... ZORDER BY``: the current snapshot is
        rewritten through `operators.layout.zorder_layout` (Morton-key
        range partitioning + local sort), so every output file covers
        a tight hyper-rectangle of ``zorder_cols`` and parquet min/max
        stats prune scans on ANY of those columns. Logically a no-op
        (same rows); one atomic commit. Continuous columns should be
        pre-bucketed (integer domains) per `zorder_key`'s contract."""
        from ..operators.layout import zorder_layout

        df = zorder_layout(
            self.read(table, with_tombstones=True),
            zorder_cols,
            num_files=num_files,
            bits=bits,
        )
        name, rows = self._new_data_dir(table, df)
        self._commit(table, [name])
        return WriteReport(table, "compact", rows)

    def compact_small(
        self, table: str, max_bytes: int = 128 * 1024 * 1024
    ) -> "WriteReport":
        """Size-aware compaction (Iceberg rewrite_data_files binpack
        semantics): rewrite ONLY the data dirs smaller than
        ``max_bytes`` into one merged dir; dirs already at target size
        join the new manifest untouched. `compact` rewrites the whole
        table — O(table) I/O per maintenance tick; this is O(small
        tail), which is what a cursor-poll pipeline (one small file
        per poll) needs nightly. No-op (no commit) when fewer than two
        small dirs exist."""
        tdir = self.root / table
        dirs = self._current_manifest(table)

        def dir_bytes(d: str) -> int:
            return sum(
                f.stat().st_size for f in (tdir / d).rglob("*") if f.is_file()
            )

        small = [d for d in dirs if dir_bytes(d) < max_bytes]
        if len(small) <= 1:
            return WriteReport(table, "compact_small", 0)
        keep = [d for d in dirs if d not in small]
        paths = [str(tdir / d) for d in small]
        df = self.spark.read.schema(self.schema(table)).parquet(*paths).coalesce(1)
        name, rows = self._new_data_dir(table, df)
        self._commit(table, keep + [name])
        return WriteReport(table, "compact_small", rows)

    def vacuum(self, table: str, keep_last: int = 1) -> list[str]:
        """Expire old snapshots: keep the last ``keep_last`` snapshots of
        MAIN's lineage (walking the current pointer's parent chain, not
        a numeric version range — versions are allocated globally across
        branches, so a numeric window would retain rejected WAP staging
        manifests while expiring real main history), delete older
        manifests and any data dir no kept manifest references. Orphaned
        branch manifests (dropped after a failed audit) are reclaimed
        here. Time travel shortens to the kept window; the current
        snapshot is never touched. Returns the deleted data dirs
        (relative names) for audit logging."""
        tdir = self.root / table
        keep = set(self._main_ancestry(table, limit=keep_last))
        # Tagged snapshots and branch HEADS are retention roots (Iceberg
        # expire_snapshots contract): their manifests and data dirs
        # never expire. (Interior branch lineage may expire — a later
        # fast_forward of a vacuumed-through branch then refuses, the
        # safe failure mode.)
        keep.update(self.refs(table).values())
        keep.update(self.branches(table).values())
        referenced: set[str] = set()
        for v in keep:
            manifest = tdir / f"_MANIFEST.{v}.json"
            if manifest.exists():
                referenced.update(self._manifest_info(table, v)[0])
        deleted = []
        for p in sorted(tdir.glob("data_*")):
            if p.name not in referenced:
                shutil.rmtree(p)
                deleted.append(p.name)
        for m in tdir.glob("_MANIFEST.*.json"):
            v = int(m.name.split(".")[1])
            if v not in keep:
                m.unlink()
        return deleted

    def write(
        self,
        df: DataFrame,
        table: str,
        disposition: str,
        primary_key: tuple[str, ...] | list[str] = (),
        *,
        branch: str | None = None,
    ) -> WriteReport:
        """Disposition dispatch, the destination entry point
        (salesforce_pipeline.py:62-176).

        With ``branch`` set the batch commits to that branch head
        instead of main - the write half of write-audit-publish. The
        table auto-creates and the branch forks at the current main
        snapshot on first contact; merge reads its base from the branch,
        so several staged batches compose before one audit +
        :meth:`fast_forward` publishes them all."""
        if branch is not None:
            if not self.exists(table):
                self.create_table(table, df.schema)
            if branch not in self.branches(table):
                self.create_branch(table, branch)
        if disposition == "append":
            return self.append(df, table, branch=branch)
        if disposition == "replace":
            return self.replace(df, table, branch=branch)
        if disposition == "merge":
            return self.merge(df, table, primary_key, branch=branch)
        raise ValueError(f"unknown write disposition: {disposition}")
