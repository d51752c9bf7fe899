"""Thin Iceberg-style table layer over plain parquet.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so this module
implements the minimal contract the pipeline needs — append-only
snapshots, read-by-snapshot, partition listing — as a warehouse
directory of parquet data dirs plus JSON snapshot manifests:

    warehouse/<table>/data/s<N>/...parquet     (files of append N)
    warehouse/<table>/snapshots/<N>.json       {id, parent, dirs}

Swapping in real Iceberg is a config change at the call sites
(`spark.sql.catalog.* = org.apache.iceberg.spark.SparkCatalog` and
`df.writeTo(table).append()`); nothing else in the pipeline knows
about this layout.

Appends are atomic-by-manifest: data is written to the new snapshot
dir first, the manifest JSON (renamed into place) commits it; readers
only ever see dirs listed by a committed manifest, so a killed writer
leaves garbage data but no torn table — the resume path
(`qfilter.pipeline`) relies on this.  ``append(table, df,
partition_by=None, txn_id=None)`` rebases and retries on a lost commit
race; with a ``txn_id`` a second call for the same id is a no-op that
returns the first call's snapshot (the streaming sink's exactly-once
contract).

Every commit goes through one manifest builder (``_next_manifest``),
which also decides the schema policy once: an append (plain, txn-keyed
or a published WAP stage) widens the table schema by the frame's new
columns and never narrows it; a rewrite (``compact``, copy-on-write
``merge``/``delete_where``) takes the rewritten frame's schema; a
``rollback`` restores the target snapshot's.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

__all__ = ["Catalog", "CommitConflict", "zorder_expr"]

# ------------------------------------------------- file-stats pruning
#
# Iceberg manifests carry per-file lower_bounds/upper_bounds so SCAN
# PLANNING — deciding which files a predicate can touch — happens on
# manifest metadata alone, before a single data file (or even footer)
# is opened.  At 100 TB that is the difference between a planning step
# that reads a few MB of manifest and one that stats millions of
# files.  We record the same bounds per file at commit time (the
# writer just produced the files, so their footers are hot) and prune
# in `plan_scan`/`scan`.  Bounds cover non-null values only — exactly
# parquet's stats contract — so pruning is valid for null-rejecting
# comparison predicates, which is all `scan` accepts.

_SCAN_TYPES = (bool, int, float, str)


def _keep_file(stats: dict | None, col: str, op: str, val) -> bool:
    """Can a file with these bounds contain a row matching the
    predicate?  Missing stats (unknown column, all-null file,
    non-orderable type) => True: pruning is only ever an
    optimization, never a correctness lever."""
    if not stats or col not in stats:
        return True
    mn, mx = stats[col]
    try:
        if op == "==":
            return mn <= val <= mx
        if op == "!=":
            return not (mn == val == mx)
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
    except TypeError:  # incomparable literal type — no pruning claim
        return True
    raise ValueError(f"unsupported scan op {op!r}")


# row-address helper columns for position deletes (Iceberg v2's
# (file_path, pos) delete files); double-underscore-prefixed so they
# can never collide with user data columns
_FILE_COL = "__qf_file"
_POS_COL = "__qf_pos"


def _parquet_files(d: str) -> list[str]:
    """Every parquet file under data dir ``d`` (hive subdirs included)."""
    return [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(d)
        for n in sorted(names)
        if n.endswith(".parquet")
    ]


def _merge_schema(base: dict | None, extra: dict | None) -> dict | None:
    """Union of two schema JSONs by field name, base order first —
    add-column evolution: an append widens the table schema by the
    frame's new columns and never drops one the table already has."""
    if not base:
        return extra
    if not extra:
        return base
    names = {f["name"] for f in base["fields"]}
    return {
        **base,
        "fields": base["fields"]
        + [f for f in extra["fields"] if f["name"] not in names],
    }


def _table_state(snap: dict | None) -> dict:
    """The table-state fields of a snapshot.  Every manifest carries
    all of them (``_next_manifest`` starts each one from its parent's);
    only a table's first snapshot (no parent, ``snap`` None) starts
    from empty ones."""
    if snap is None:
        return {
            "dirs": [], "partition_by": [], "schema": None,
            "stats": {}, "delete_specs": [], "dir_added": {},
        }
    return {
        "dirs": snap["dirs"],
        "partition_by": snap["partition_by"],
        # schema travels in the manifest so empty tables (zero
        # rows/files) still read back with the right columns
        "schema": snap["schema"],
        # per-file column bounds of every dir, for scan planning
        "stats": snap["stats"],
        # merge-on-read: pending delete specs, and the snapshot that
        # added each dir so a delete never masks data committed after it
        "delete_specs": snap["delete_specs"],
        "dir_added": snap["dir_added"],
    }


# operations whose snapshot replaces the table's rows with one
# rewritten frame (compaction, copy-on-write merge/delete)
_REWRITES = ("replace", "overwrite")


def _next_manifest(
    parent: dict | None,
    add: tuple[str, dict] | None = None,
    frame_schema: dict | None = None,
    delete_spec: dict | None = None,
    **changes,
) -> dict:
    """The manifest of the snapshot after ``parent`` (None: the table's
    first) — the one place a commit's metadata is decided.

    The table state (``_table_state``) is carried forward from
    ``parent``; a rewrite (``operation`` in ``_REWRITES``) keeps only
    the partition spec, starts the rest empty and records the dirs it
    replaces.  ``add`` is a freshly written ``(data_dir, dir_stats)``,
    appended to the dirs with its bounds and add id; ``delete_spec`` is
    a pending delete file, stamped with the new id.  Schema policy: a
    rewrite takes ``frame_schema`` (the rewritten frame's); anything
    else widens the parent's by it.  ``changes`` are set last: the
    operation's own keys, or a rollback's restored state."""
    sid = parent["id"] + 1 if parent else 0
    m = {"id": sid, "parent": parent["id"] if parent else None, **_table_state(parent)}
    if changes.get("operation") in _REWRITES:
        m.update(
            dirs=[], stats={}, delete_specs=[], dir_added={},
            schema=frame_schema, replaced_dirs=parent["dirs"],
        )
    else:
        m["schema"] = _merge_schema(m["schema"], frame_schema)
    if add is not None:
        data_dir, dir_stats = add
        m["dirs"] = m["dirs"] + [data_dir]
        m["stats"] = {**m["stats"], data_dir: dir_stats}
        m["dir_added"] = {**m["dir_added"], data_dir: sid}
    if delete_spec is not None:
        m["delete_specs"] = m["delete_specs"] + [{**delete_spec, "id": sid}]
    m.update(changes)
    return m


class CommitConflict(Exception):
    """Another writer committed the snapshot id first (optimistic
    concurrency, Iceberg's CommitFailedException).  ``append`` rebases
    and retries automatically — appends commute; ``compact``/``merge``/
    ``delete_where`` surface it, because their rewrite was computed
    against a snapshot that is no longer current and retrying blindly
    would silently drop the concurrent writer's rows."""


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "snapshots")

    # -------------------------------------------------------- snapshots
    def snapshots(self, table: str) -> list[dict]:
        sdir = self._snap_dir(table)
        if not os.path.isdir(sdir):
            return []
        out = []
        for name in sorted(os.listdir(sdir)):
            if name.endswith(".json"):
                with open(os.path.join(sdir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["id"])

    def current_snapshot(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def _snapshot(self, table: str, snapshot: int | None = None) -> dict:
        """Resolve a snapshot ONCE — every read-path entry point goes
        through this so a concurrent commit can never split one logical
        read across two different snapshots."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        if snapshot is None:
            return snaps[-1]
        for s in snaps:
            if s["id"] == snapshot:
                return s
        raise ValueError(f"snapshot {snapshot} of {table!r} does not exist")

    def _new_data_dir(self, table: str, hint: str) -> str:
        # unique name: two concurrent writers must never share a data
        # dir even before either has committed a manifest
        return os.path.join(
            self._tdir(table), "data", f"{hint}-{uuid.uuid4().hex[:8]}"
        )

    # -------------------------------------------------- file statistics
    @staticmethod
    def _collect_dir_stats(data_dir: str) -> dict[str, dict[str, list]]:
        """Per-file column bounds for every parquet file under
        ``data_dir``: ``{relpath: {col: [min, max]}}``.

        Physical columns come from the parquet footer (row-group stats
        folded to file level); hive-partition columns (``col=value``
        path segments) become ``min == max`` bounds, so partition
        pruning falls out of the same mechanism.  A column is recorded
        only when EVERY row group has usable min/max of a JSON-safe
        orderable type — anything else stays absent and the file is
        never pruned on it.

        Driver-side footer walk is the single-node analog of what real
        Iceberg writers do for free (each write task emits its file's
        bounds with the commit); it reads footers only, O(files)
        metadata, and runs once per commit — not per query.
        """
        from urllib.parse import unquote

        out: dict[str, dict[str, list]] = {}
        for root, _dirs, names in os.walk(data_dir):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(root, name)
                rel = os.path.relpath(path, data_dir)
                bounds: dict[str, list] = {}
                bad: set[str] = set()
                try:
                    md = pq.ParquetFile(path).metadata
                except Exception:
                    out[rel] = {}
                    continue
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for ci in range(rgm.num_columns):
                        cmeta = rgm.column(ci)
                        col = cmeta.path_in_schema
                        if col in bad:
                            continue
                        st = cmeta.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, _SCAN_TYPES)
                            or not isinstance(st.max, _SCAN_TYPES)
                        ):
                            bad.add(col)
                            bounds.pop(col, None)
                            continue
                        if col in bounds:
                            bounds[col][0] = min(bounds[col][0], st.min)
                            bounds[col][1] = max(bounds[col][1], st.max)
                        else:
                            bounds[col] = [st.min, st.max]
                # hive partition segments: constant per file
                for seg in os.path.dirname(rel).split(os.sep):
                    if "=" not in seg:
                        continue
                    col, _, raw = seg.partition("=")
                    if raw == "__HIVE_DEFAULT_PARTITION__":
                        continue  # null partition: no bounds, never pruned
                    val = unquote(raw)
                    for cast in (int, float):
                        try:
                            val = cast(val)
                            break
                        except ValueError:
                            pass
                    bounds[col] = [val, val]
                out[rel] = bounds
        return out

    def _write_dir(
        self,
        table: str,
        df: DataFrame | pa.Table,
        partition_by: list[str] | None,
        hint: str,
    ) -> tuple[str, dict]:
        """Write ``df`` to a fresh data dir and walk its footers once:
        ``(data_dir, dir_stats)``, ready for a manifest.  A
        ``pyarrow.Table`` (rows the driver already holds) is written
        without Spark, as one unpartitioned file."""
        data_dir = self._new_data_dir(table, hint)
        if isinstance(df, pa.Table):
            os.makedirs(data_dir)
            pq.write_table(
                df, os.path.join(data_dir, "part-00000.zstd.parquet"), compression="zstd"
            )
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(data_dir)
        return data_dir, self._collect_dir_stats(data_dir)

    # ----------------------------------------------------------- append
    def append(
        self,
        table: str,
        df: DataFrame | pa.Table,
        partition_by: list[str] | None = None,
        txn_id: str | None = None,
    ) -> int:
        """Append ``df`` as a new snapshot and return its id.

        ``df`` may be a ``pyarrow.Table``: a few rows held by the driver
        are then written without a Spark job, and the manifest schema
        (nullability included) comes from the Arrow schema.  Such an
        append takes no ``partition_by``.

        With a ``txn_id`` the append is idempotent: a second call with
        the same id is a no-op returning the original snapshot id.
        This is the sink contract Structured Streaming's foreachBatch
        needs for exactly-once output: after a failure the engine
        REPLAYS the last micro-batch with the same deterministic
        batchId, so the sink must deduplicate on it (the same pattern
        as Iceberg's commit-dedup on wap.id / Flink's checkpoint txn).
        """
        if isinstance(df, pa.Table):
            if partition_by:
                raise ValueError("a pyarrow.Table append takes no partition_by")
            schema = from_arrow_schema(df.schema).jsonValue()
        else:
            schema = df.schema.jsonValue()
        if txn_id is not None:
            # a replay is detected before any data is written
            existing = self._key_snapshot(table, txn_id, self.snapshots(table))
            if existing is not None:
                return existing
        data_dir, dir_stats = self._write_dir(table, df, partition_by, "a")
        tags = {} if txn_id is None else {"txn_id": txn_id}
        sid, fresh = self._append_commit(
            table, data_dir, dir_stats, schema, partition_by, **tags
        )
        if not fresh:
            # a replayed twin committed this txn while we were writing
            shutil.rmtree(data_dir, ignore_errors=True)
        return sid

    def _append_commit(
        self,
        table: str,
        data_dir: str,
        dir_stats: dict,
        schema: dict,
        partition_by: list[str] | None,
        **tags,
    ) -> tuple[int, bool]:
        """Commit an already-written data dir as an append snapshot:
        the optimistic-concurrency loop shared by every append.  Data
        is written once; only the manifest commit races.  Appends
        commute, so losing the CAS just means rebasing onto the
        winner's snapshot and retrying.

        ``tags`` go into the manifest; a ``txn_id`` or ``wap_id`` among
        them is the idempotence key, re-checked on every attempt.
        Returns ``(snapshot id, fresh)``; ``fresh`` is False when the
        key was already committed and that snapshot's id is returned."""
        key = tags.get("txn_id") or tags.get("wap_id")
        while True:
            snaps = self.snapshots(table)
            if key is not None:
                existing = self._key_snapshot(table, key, snaps)
                if existing is not None:
                    return existing, False
            manifest = _next_manifest(
                snaps[-1] if snaps else None,
                add=(data_dir, dir_stats),
                frame_schema=schema,
                partition_by=partition_by or [],
                **tags,
            )
            try:
                return self._commit_manifest(table, manifest), True
            except CommitConflict:
                continue

    # -------------------------------------------- write-audit-publish
    #
    # Iceberg's WAP flow (spark.wap.id): a writer STAGES a commit that
    # no reader sees, an audit job validates the staged rows (row
    # counts, null rates, distribution drift), and only then is the
    # commit PUBLISHED into the table — or aborted, leaving no trace.
    # The data files are written exactly once: publish is a metadata
    # CAS, not a rewrite, so the audit gate costs nothing at 100 TB.

    def _staged_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "staged")

    def append_staged(self, table: str, df: DataFrame) -> str:
        """Write an unpartitioned append WITHOUT committing it: data +
        per-file stats land on disk, a staged manifest records them, and
        a ``wap_id`` is returned for ``read_staged`` / ``publish_staged``
        / ``abort_staged``.  Readers of the table never see staged rows."""
        wap_id = uuid.uuid4().hex[:12]
        data_dir, dir_stats = self._write_dir(table, df, None, "s")
        staged = {
            "wap_id": wap_id,
            "dir": data_dir,
            "partition_by": [],
            "schema": df.schema.jsonValue(),
            "dir_stats": dir_stats,
        }
        os.makedirs(self._staged_dir(table), exist_ok=True)
        tmp = os.path.join(self._staged_dir(table), f".{wap_id}.tmp")
        with open(tmp, "w") as f:
            json.dump(staged, f)
        os.replace(tmp, os.path.join(self._staged_dir(table), f"{wap_id}.json"))
        return wap_id

    def _staged(self, table: str, wap_id: str) -> dict:
        path = os.path.join(self._staged_dir(table), f"{wap_id}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no staged commit {wap_id!r} on {table!r}")
        with open(path) as f:
            return json.load(f)

    def _staged_dir_of(self, table: str, wap_id: str) -> str | None:
        """Staged data dir, or None if the staged file vanished (a
        concurrent publish/abort) — for callers that must not fail."""
        try:
            return self._staged(table, wap_id)["dir"]
        except FileNotFoundError:
            return None

    def staged_ids(self, table: str) -> list[str]:
        sdir = self._staged_dir(table)
        if not os.path.isdir(sdir):
            return []
        return sorted(n[:-5] for n in os.listdir(sdir) if n.endswith(".json"))

    def read_staged(self, spark: SparkSession, table: str, wap_id: str) -> DataFrame:
        """The audit view: current table plus the staged rows — what
        the table WILL look like if the commit is published."""
        staged = self._staged(table, wap_id)
        part = self._assemble(
            spark, {"dirs": [staged["dir"]], "schema": staged["schema"]}, files_by_dir=None
        )
        if not self.exists(table):
            return part
        return self.read(spark, table).unionByName(part, allowMissingColumns=True)

    def publish_staged(self, table: str, wap_id: str) -> int:
        """Commit a staged append into the table — pure metadata CAS
        over the already-written data dir (Iceberg's cherry-pick):
        rebases over any appends (and their schema widenings) that
        landed since staging.  Idempotent on ``wap_id``: a retry after
        a crash between commit and staged-file cleanup finds the
        already-published snapshot instead of committing the dir twice
        (Iceberg dedups cherry-picks on wap.id for the same reason)."""
        staged = self._staged(table, wap_id)
        sid, _fresh = self._append_commit(
            table, staged["dir"], staged["dir_stats"], staged["schema"],
            staged["partition_by"], operation="append", wap_id=wap_id,
        )
        try:
            os.remove(os.path.join(self._staged_dir(table), f"{wap_id}.json"))
        except FileNotFoundError:
            pass
        return sid

    def abort_staged(self, table: str, wap_id: str) -> None:
        """Drop a staged commit: audit failed, nothing was ever
        visible, nothing remains."""
        staged = self._staged(table, wap_id)
        shutil.rmtree(staged["dir"], ignore_errors=True)
        os.remove(os.path.join(self._staged_dir(table), f"{wap_id}.json"))

    def _txn_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "txns.json")

    def _persisted_txns(self, table: str) -> set[str]:
        try:
            with open(self._txn_file(table)) as f:
                return set(json.load(f))
        except (FileNotFoundError, json.JSONDecodeError):
            return set()

    def _persist_txns(self, table: str, txns: set[str]) -> None:
        """Durably record txn ids whose carrier snapshots are being
        expired: ``expire_snapshots`` calls this BEFORE removing the
        manifests, so replayed txn appends still dedupe.  Atomic
        write (tmp + rename) merged with existing content."""
        merged = sorted(self._persisted_txns(table) | set(txns))
        tmp = f"{self._txn_file(table)}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self._txn_file(table))

    def committed(self, table: str, txn_id: str) -> bool:
        """Whether an append keyed ``txn_id`` is committed, i.e. whether
        ``append(..., txn_id=txn_id)`` would be a no-op that writes
        nothing."""
        return self._key_snapshot(table, txn_id, self.snapshots(table)) is not None

    def _key_snapshot(self, table: str, key: str, snaps: list[dict]) -> int | None:
        """Id of the snapshot that committed idempotence ``key`` (a txn
        id or a wap id), or None if it was never committed."""
        for s in snaps:
            if key in (s.get("txn_id"), s.get("wap_id")) or key in s.get("txn_ids", []):
                return s["id"]
        if key in self._persisted_txns(table):
            # carrier snapshot was expired; the ref file preserves the
            # exactly-once promise.  -1 = "committed, snapshot unknown"
            # (a txn append only needs a non-None sentinel to dedupe)
            return -1
        return None

    @staticmethod
    def _carried_txns(snaps: list[dict]) -> list[str]:
        """Txn ids a replace/overwrite snapshot must carry forward: if
        compaction expired the appends of the current chain, a replayed
        micro-batch must STILL see its txn as committed — otherwise the
        exactly-once guarantee of txn appends has a crash window
        between sink commit and checkpoint advance."""
        out: set[str] = set()
        for s in snaps:
            if s.get("txn_id"):
                out.add(s["txn_id"])
            out.update(s.get("txn_ids", []))
        return sorted(out)

    def _commit_manifest(self, table: str, manifest: dict) -> int:
        """Atomically commit snapshot ``manifest['id']`` — create-if-
        absent (hard link), never overwrite: the Iceberg CAS commit.
        Raises :class:`CommitConflict` if that id is already taken."""
        sid = manifest["id"]
        sdir = self._snap_dir(table)
        os.makedirs(sdir, exist_ok=True)
        tmp = os.path.join(sdir, f".{sid}.{uuid.uuid4().hex[:8]}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, os.path.join(sdir, f"{sid}.json"))  # commit point
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {sid} of {table!r} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)
        return sid

    def _commit_op(self, table: str, cur: dict, **changes) -> int:
        """Commit a non-append operation computed against ``cur``.  The
        new snapshot carries every txn id of the chain, so exactly-once
        dedup outlives the appends it supersedes.  A lost CAS surfaces
        as :class:`CommitConflict`: the operation's result was computed
        against a snapshot that is no longer current."""
        txn_ids = self._carried_txns(self.snapshots(table))
        return self._commit_manifest(
            table, _next_manifest(cur, txn_ids=txn_ids, **changes)
        )

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        return self._assemble(spark, self._snapshot(table, snapshot), files_by_dir=None)

    def _assemble(
        self,
        spark: SparkSession,
        snap: dict,
        files_by_dir: dict[str, list[str]] | None,
        positions: bool = False,
    ) -> DataFrame:
        """Materialize a snapshot: per-dir reads + unionByName (keeps
        partition-column discovery working per dir regardless of
        layout), schema alignment, then any pending merge-on-read
        equality deletes.  ``files_by_dir`` narrows each dir to a
        pruned file list (scan path); None reads whole dirs.

        Equality deletes are scoped by commit order: a delete spec
        masks only dirs ADDED before it committed (Iceberg's sequence
        numbers), so rows re-inserted after the delete survive.  Dirs
        are grouped by their applicable spec set, each group gets one
        left-anti join per spec — with a small delete file Spark
        broadcasts it and the mask costs one shuffle-free scan.

        Position deletes (Iceberg v2's other delete flavor) address
        exact (file, row-ordinal) pairs via the parquet ``_metadata``
        columns; they are scoped by construction (a later-added file
        has a different path) and are masked with ONE broadcast
        anti-join over the union of pending position-delete files.

        ``positions`` is the producer side of position deletes: the raw
        rows, no delete masks applied (re-deleting an already-masked
        row is a no-op, and a row's address never changes while its
        file exists), plus each row's address in ``_FILE_COL``/``_POS_COL``.
        """
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(snap["schema"])
        specs = [] if positions else (snap.get("delete_specs") or [])
        # "kind" absent = equality (equality specs are written without it)
        eq_idx = [
            i for i, sp in enumerate(specs)
            if sp.get("kind", "equality") == "equality"
        ]
        pos_specs = [sp for sp in specs if sp.get("kind") == "position"]
        dir_added = snap.get("dir_added") or {}
        address = positions or bool(pos_specs)

        def null_address(df):
            return df.withColumns({
                _FILE_COL: F.lit(None).cast("string"),
                _POS_COL: F.lit(None).cast("long"),
            })

        def align(df):
            cols = [
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            if address and _FILE_COL in df.columns:
                cols += [F.col(_FILE_COL), F.col(_POS_COL)]
            return df.select(*cols)

        # group dirs by which equality delete specs apply to them
        groups: dict[tuple[int, ...], list[str]] = {}
        for d in snap["dirs"]:
            if files_by_dir is not None and not files_by_dir.get(d):
                continue  # every file of this dir was pruned
            # every committed dir has an add id; the partial snapshots
            # of staged and change reads carry no specs to compare it to
            key = tuple(i for i in eq_idx if dir_added[d] < specs[i]["id"])
            groups.setdefault(key, []).append(d)

        def reader():
            # the manifest schema spares every dir read its
            # schema-inference job.  A fresh reader per dir: options
            # mutate it.
            return spark.read.schema(schema)

        # one keys frame per spec, shared across dir groups
        spec_keys: dict[int, DataFrame] = {}
        out = None
        for key, dirs in groups.items():
            df = None
            for d in dirs:
                try:
                    if files_by_dir is None:
                        part = reader().parquet(d)
                    else:
                        # basePath keeps hive-partition columns visible
                        # even though we hand Spark leaf files
                        part = reader().option("basePath", d).parquet(*files_by_dir[d])
                except AnalysisException as e:
                    # ONLY a missing path reads as empty (a dir holding
                    # zero parquet files already does: the schema is
                    # given).  Corrupt files (they surface at scan
                    # time), permission errors, and wrongly-GC'd dirs
                    # must surface, not read as silently empty.
                    cond = getattr(e, "getErrorClass", lambda: None)() or ""
                    missing = cond == "PATH_NOT_FOUND" or any(
                        t in str(e) for t in ("PATH_NOT_FOUND", "Path does not exist")
                    )
                    if not missing:
                        raise
                    part = spark.createDataFrame([], schema)
                    if address:
                        part = null_address(part)
                else:
                    if address:
                        # materialize the file/ordinal address per row
                        # BEFORE any union — _metadata is per-scan
                        part = part.withColumns({
                            _FILE_COL: F.col("_metadata.file_path"),
                            _POS_COL: F.col("_metadata.row_index"),
                        })
                # allowMissingColumns = add-column schema evolution:
                # dirs written before a column existed read as null
                df = part if df is None else df.unionByName(part, allowMissingColumns=True)
            df = align(df)
            for i in key:
                sp = specs[i]
                if i not in spec_keys:
                    spec_keys[i] = (
                        spark.read.parquet(sp["dir"]).select(*sp["cols"]).distinct()
                    )
                df = df.join(spec_keys[i], on=sp["cols"], how="left_anti")
            out = df if out is None else out.unionByName(df)
        if out is None:  # empty table or fully pruned scan
            empty = spark.createDataFrame([], schema)
            return align(null_address(empty) if positions else empty)
        if pos_specs and _FILE_COL in out.columns:
            dels = None
            for sp in pos_specs:
                k = spark.read.parquet(sp["dir"]).select("file_path", "pos")
                dels = k if dels is None else dels.unionByName(k)
            dels = dels.select(
                F.col("file_path").alias("__qf_del_file"),
                F.col("pos").alias("__qf_del_pos"),
            ).distinct()
            # delete files are KB-scale by design: broadcast, one
            # shuffle-free masked scan at any table size
            out = out.join(
                F.broadcast(dels),
                (F.col(_FILE_COL) == F.col("__qf_del_file"))
                & (F.col(_POS_COL) == F.col("__qf_del_pos")),
                "left_anti",
            ).drop(_FILE_COL, _POS_COL)
        return out

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    def files(self, spark: SparkSession, table: str) -> DataFrame:
        """File-inventory metadata table (Iceberg's ``table.files``):
        one row per data file of the current snapshot — path, dir, size,
        and the manifest-recorded column bounds as JSON — so layout
        health (small-file count, clustering quality, skew) is auditable
        with plain SQL instead of a filesystem walk."""
        snap = self._snapshot(table)
        rows = []
        for d in snap["dirs"]:
            for rel, bounds in snap["stats"][d].items():
                path = os.path.join(d, rel)
                try:
                    size = os.path.getsize(path)
                except OSError:
                    size = None
                rows.append((path, d, size, len(bounds), json.dumps(bounds, sort_keys=True)))
        return spark.createDataFrame(
            rows,
            "file string, dir string, bytes long, n_bounded_cols int, bounds_json string",
        )

    # ---------------------------------------------------- scan planning
    def plan_scan(
        self, table: str, where: list[tuple[str, str, object]] | None = None
    ) -> tuple[dict[str, list[str]], int, int]:
        """Iceberg scan planning: decide from the current snapshot's
        manifest alone which data files a conjunctive predicate can
        touch.

        ``where`` is a list of ``(column, op, literal)`` with op one of
        ``== != < <= > >=`` — null-rejecting comparisons, the class of
        predicate min/max bounds can prune.  Returns
        ``({dir: [kept absolute file paths]}, n_kept, n_total)``; dirs
        whose every file is pruned are absent.  No data file or footer
        is opened — this runs entirely on the committed manifest.
        """
        return self._plan_scan_snap(self._snapshot(table), where)

    def _plan_scan_snap(
        self, snap: dict, where: list[tuple[str, str, object]] | None
    ) -> tuple[dict[str, list[str]], int, int]:
        plan: dict[str, list[str]] = {}
        n_kept = n_total = 0
        for d in snap["dirs"]:
            dir_stats = snap["stats"][d]
            n_total += len(dir_stats)
            kept = [
                os.path.join(d, rel)
                for rel, bounds in dir_stats.items()
                if all(
                    _keep_file(bounds, col, op, val)
                    for col, op, val in (where or [])
                )
            ]
            if kept:
                plan[d] = kept
                n_kept += len(kept)
        return plan, n_kept, n_total

    def scan(
        self,
        spark: SparkSession,
        table: str,
        where: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Predicate-pruned read: like ``read`` but only the files
        ``plan_scan`` keeps are ever handed to Spark, and the full
        predicate is re-applied as a residual filter — stats bound
        which files CAN match; the filter decides which rows DO.
        Equivalent to ``read(...).filter(...)`` row-for-row; on a
        sort/Z-order-compacted table it reads O(matching) files.
        """
        # one snapshot resolution for both planning and assembly: a
        # concurrent commit can't split this read across two states
        snap = self._snapshot(table)
        plan, _kept, _total = self._plan_scan_snap(snap, where)
        df = self._assemble(spark, snap, files_by_dir=plan)
        for col, op, val in where or []:
            lit = F.lit(val)
            c = F.col(col)
            df = df.filter(
                {
                    "==": c == lit,
                    "!=": c != lit,
                    "<": c < lit,
                    "<=": c <= lit,
                    ">": c > lit,
                    ">=": c >= lit,
                }[op]
            )
        return df

    def history(self, spark: SparkSession, table: str) -> DataFrame:
        """Snapshot-history metadata table (Iceberg's ``table.snapshots``):
        one row per committed snapshot — id, parent, operation, commit
        txn id, and how many data dirs it references.  Lets operators
        audit a table's lifecycle with plain SQL."""
        rows = [
            (
                s["id"],
                s["parent"],
                s.get("operation", "append"),
                s.get("txn_id"),
                len(s["dirs"]),
                ",".join(s["partition_by"]),
            )
            for s in self.snapshots(table)
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent long, operation string, "
            "txn_id string, n_dirs int, partition_by string",
        )

    # ----------------------------------------------------- maintenance
    #
    # The three Iceberg table-maintenance operations a 100 TB deployment
    # cannot live without, expressed over the same manifest layout:
    #
    #   compact()           = Iceberg rewrite_data_files (bin-pack).
    #                         Wave-writes and streaming sinks append one
    #                         dir per micro-commit; after thousands of
    #                         commits the table is millions of small
    #                         files and scan throughput dies on open()
    #                         overhead.  Compaction rewrites the CURRENT
    #                         snapshot into ceil(bytes/target) files and
    #                         commits it as a "replace" snapshot; the
    #                         old snapshots stay readable (time travel)
    #                         until expired.
    #   expire_snapshots()  = Iceberg expireSnapshots + orphan-file GC.
    #   read_incremental()  = Iceberg incremental append scan: only the
    #                         rows added after a known snapshot, so a
    #                         downstream consumer never rescans the
    #                         table.  "replace" snapshots are skipped —
    #                         they rewrite existing rows, adding none —
    #                         exactly Iceberg's semantics.
    #
    # All three keep the manifest-commit-last invariant: a killed
    # compactor leaves garbage data files but no torn table.

    def table_data_files(self, table: str, snapshot: int | None = None) -> list[str]:
        """All parquet data files of a snapshot (default: current)."""
        snap = self._snapshot(table, snapshot)
        return [f for d in snap["dirs"] for f in _parquet_files(d)]

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Bin-pack the current snapshot into ~target-sized files.

        With ``sort_by``, files are RANGE-partitioned and sorted on
        those columns (Iceberg's sort-order rewrite): each output
        file's parquet min/max footer stats then cover a narrow,
        non-overlapping slice of the key domain, so a predicate on the
        sort key skips whole files/row-groups at scan time — THE
        data-skipping lever for a 100 TB table queried by key range.
        With ``zorder_by`` (2+ columns), rows are clustered on an
        interleaved-bit Z-value so files cover small multi-dimensional
        bounding boxes and predicates on ANY of the columns skip.

        Returns the new snapshot id.  Old snapshots remain readable via
        ``read(snapshot=...)`` until ``expire_snapshots`` drops them.
        Raises :class:`CommitConflict` if another writer commits while
        the rewrite runs (the rewrite would drop their rows) — re-run
        on the new current snapshot.
        """
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        cur = self._snapshot(table)
        total = sum(
            os.path.getsize(f) for d in cur["dirs"] for f in _parquet_files(d)
        )
        n_files = max(1, -(-total // target_file_bytes))
        df = self._assemble(spark, cur, files_by_dir=None)
        part_by = cur["partition_by"]
        if zorder_by:
            zcol = f"__z_{uuid.uuid4().hex[:6]}"
            df = df.withColumn(zcol, zorder_expr(spark, df, zorder_by))
            out = (
                df.repartitionByRange(int(n_files), zcol)
                .sortWithinPartitions(*part_by, zcol)
                .drop(zcol)
            )
        elif sort_by:
            out = df.repartitionByRange(int(n_files), *sort_by).sortWithinPartitions(
                *part_by, *sort_by
            )
        else:
            # repartition bounds files-per-task at 1; with partition
            # columns in the hash the rows of one partition land in few
            # tasks, so a partitioned table compacts to <= n_files files
            # per partition value rather than n_files * n_partitions.
            out = (
                df.repartition(int(n_files), *part_by)
                if part_by
                else df.repartition(int(n_files))
            )
        return self._commit_rewrite(
            table, cur, out, "c",
            operation="replace", sort_by=sort_by or [], zorder_by=zorder_by or [],
        )

    # --------------------------------------------------- row-level ops
    #
    # Copy-on-write MERGE / DELETE (Iceberg's copy-on-write row-level
    # operation mode): the rewrite is computed as one distributed plan
    # (anti-join / filter), written to a fresh dir, and committed as an
    # "overwrite" snapshot.  Readers never see a half-applied change;
    # time travel to the pre-merge snapshot still works until expiry.

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, on: list[str]
    ) -> int:
        """Upsert ``source`` into ``table`` keyed on ``on``: target rows
        whose key appears in source are replaced by the source row, all
        other target rows are kept, unmatched source rows are inserted
        (MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT).

        The anti-join side is key-only, so with a small source Spark
        broadcasts it and the rewrite is one shuffle-free scan at any
        table size.

        Source must be unique on ``on`` (SQL MERGE raises when a target
        row matches multiple source rows — we enforce the equivalent
        up front with one agg job over the small side) and must not
        carry columns absent from the target (they would otherwise be
        silently dropped by the target-schema projection)."""
        cur = self._snapshot(table)
        target = self._assemble(spark, cur, files_by_dir=None)
        self._validate_merge_source(source, target.columns, on, table)
        merged = target.join(source.select(*on).distinct(), on=on, how="left_anti")
        merged = merged.unionByName(source.select(*target.columns))
        return self._commit_rewrite(table, cur, merged, "w", operation="overwrite")

    @staticmethod
    def _validate_merge_source(
        source: DataFrame, target_cols: list[str], on: list[str], table: str
    ) -> None:
        """Shared MERGE preconditions: unique source keys (SQL MERGE
        raises on multiple matches per target row) and no schema drift
        (extra source columns would be silently dropped by the
        target-schema projection)."""
        extra = set(source.columns) - set(target_cols)
        if extra:
            raise ValueError(
                f"merge source has columns absent from target {table!r}: "
                f"{sorted(extra)} — add them via schema evolution first"
            )
        missing = set(target_cols) - set(source.columns)
        if missing:
            raise ValueError(
                f"merge source is missing target columns: {sorted(missing)}"
            )
        dup = (
            source.groupBy(*on).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                f"merge source has duplicate rows on key {on} — SQL MERGE "
                "semantics forbid multiple matches per target row"
            )

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        predicate: str,
        mode: str = "copy-on-write",
        equality_cols: list[str] | None = None,
    ) -> int:
        """Row-level DELETE of rows matching the SQL ``predicate``.

        ``copy-on-write`` (default) rewrites the table minus the
        matching rows — read-optimal, but the write costs a full
        rewrite even for a 0.001% delete.  ``merge-on-read`` is
        Iceberg v2's equality-delete path: write only the DISTINCT
        ``equality_cols`` key tuples of the matching rows as a small
        delete file and commit a "delete" snapshot; readers anti-join
        it until the next ``compact`` materializes the delete.  On a
        100 TB table a targeted delete (GDPR erasure, bad-batch
        retraction) then costs KB of writes, not a table rewrite.
        The delete masks only data committed before it — later
        re-inserts of the same keys survive (sequence-number scoping).
        Null equality keys never match, per SQL join semantics.
        """
        cur = self._snapshot(table)
        if mode == "copy-on-write":
            kept = self._assemble(spark, cur, files_by_dir=None).filter(~F.expr(predicate))
            return self._commit_rewrite(table, cur, kept, "w", operation="overwrite")
        if mode == "merge-on-read-position":
            # Iceberg v2 position deletes: record the exact (file,
            # row-ordinal) pairs of the matching rows.  Unlike
            # equality deletes this can delete ONE of two identical
            # rows, and the mask is scoped by construction — files
            # added later have different paths.
            rows = (
                self._assemble(spark, cur, files_by_dir=None, positions=True)
                .filter(F.expr(predicate))
                .select(
                    F.col(_FILE_COL).alias("file_path"),
                    F.col(_POS_COL).alias("pos"),
                )
            )
            spec, hint = {"kind": "position"}, "posdel"
        elif mode == "merge-on-read":
            if not equality_cols:
                raise ValueError("merge-on-read delete requires equality_cols")
            rows = (
                self._assemble(spark, cur, files_by_dir=None)
                .filter(F.expr(predicate))
                .select(*equality_cols)
                .distinct()
            )
            spec, hint = {"cols": list(equality_cols)}, "del"
        else:
            raise ValueError(f"unknown delete mode {mode!r}")
        ddir = self._new_data_dir(table, hint)
        rows.write.mode("overwrite").parquet(ddir)
        # like compact: computed against `cur` — a concurrent commit
        # invalidates the delete set, so surface the conflict
        return self._commit_op(
            table, cur, delete_spec={"dir": ddir, **spec}, operation="delete"
        )

    def merge_mor(
        self, spark: SparkSession, table: str, source: DataFrame, on: list[str]
    ) -> int:
        """MERGE in merge-on-read mode: position-delete the matched
        target rows (only files that actually contain a match appear
        in the delete file) and append the source rows as a new data
        dir — ONE atomic snapshot, no table rewrite.  The read-side
        cost until the next ``compact`` is one broadcast anti-join;
        the write cost is O(source + matches), not O(table) — the
        upsert shape a 100 TB table needs for small high-frequency
        MERGEs where copy-on-write would rewrite everything.

        Same source validation as :meth:`merge` (unique on ``on``, no
        schema drift)."""
        from pyspark.sql.types import StructType

        cur = self._snapshot(table)
        target_cols = StructType.fromJson(cur["schema"]).fieldNames()
        self._validate_merge_source(source, target_cols, on, table)
        tgt = self._assemble(spark, cur, files_by_dir=None, positions=True)
        matched = tgt.join(
            F.broadcast(source.select(*on).distinct()), on=on, how="left_semi"
        ).select(
            F.col(_FILE_COL).alias("file_path"), F.col(_POS_COL).alias("pos")
        )
        ddir = self._new_data_dir(table, "posdel")
        matched.write.mode("overwrite").parquet(ddir)
        added = self._write_dir(
            table, source.select(*target_cols), cur["partition_by"], "m"
        )
        # computed against `cur`: surface a concurrent commit
        return self._commit_op(
            table, cur,
            add=added,
            delete_spec={"dir": ddir, "kind": "position"},
            operation="merge",
        )

    def _commit_rewrite(
        self, table: str, cur: dict, df: DataFrame, hint: str, **changes
    ) -> int:
        """Replace ``cur``'s rows with ``df``, written under its partition
        spec: any pending deletes are materialized by the rewrite."""
        return self._commit_op(
            table, cur,
            add=self._write_dir(table, df, cur["partition_by"], hint),
            frame_schema=df.schema.jsonValue(),
            **changes,
        )

    # -------------------------------------------------------------- tags
    #
    # Iceberg tags: immutable named refs pinning a snapshot.  The
    # training-reproducibility primitive — "model X trained on
    # documents@v1" must stay resolvable and readable for as long as
    # the tag exists, so snapshot expiry retains tagged snapshots (and
    # their dirs) regardless of keep_last.

    def _refs_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "refs")

    def tag(self, table: str, name: str, snapshot: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: current).  Tags are
        immutable — re-tagging an existing name raises; drop first."""
        sid = self._snapshot(table, snapshot)["id"]
        rdir = self._refs_dir(table)
        os.makedirs(rdir, exist_ok=True)
        tmp = os.path.join(rdir, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": sid}, f)
        try:
            os.link(tmp, os.path.join(rdir, f"{name}.json"))  # CAS create
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists on {table!r}") from None
        finally:
            os.unlink(tmp)
        return sid

    def tags(self, table: str) -> dict[str, int]:
        rdir = self._refs_dir(table)
        if not os.path.isdir(rdir):
            return {}
        out = {}
        for n in sorted(os.listdir(rdir)):
            if n.endswith(".json"):
                with open(os.path.join(rdir, n)) as f:
                    out[n[:-5]] = json.load(f)["snapshot_id"]
        return out

    def drop_tag(self, table: str, name: str) -> None:
        try:
            os.remove(os.path.join(self._refs_dir(table), f"{name}.json"))
        except FileNotFoundError:
            raise ValueError(f"no tag {name!r} on {table!r}") from None

    def read_tag(self, spark: SparkSession, table: str, name: str) -> DataFrame:
        """Read the exact table state a tag pins, forever (until the
        tag is dropped) — later appends/deletes/compactions invisible."""
        tags = self.tags(table)
        if name not in tags:
            raise ValueError(f"no tag {name!r} on {table!r}")
        return self.read(spark, table, snapshot=tags[name])

    def rollback(self, table: str, snapshot: int) -> int:
        """Roll the table back to an earlier snapshot (Iceberg's
        ``rollback_to_snapshot``): commits a NEW snapshot that
        re-references the old state's dirs/stats/deletes verbatim —
        pure metadata, no data movement, and the bad snapshots stay
        readable for forensics until expiry."""
        cur = self._snapshot(table)
        target = self._snapshot(table, snapshot)
        # exactly-once txns committed since the target stay committed
        # (``_commit_op`` carries them): a rollback is not permission
        # to replay them
        return self._commit_op(
            table, cur, **_table_state(target),
            operation="rollback", rolled_back_to=snapshot,
        )

    def expire_snapshots(
        self, table: str, keep_last: int = 1, orphan_grace_s: float = 86400.0
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete the
        data dirs they exclusively referenced, plus orphan dirs a killed
        writer left behind (written but never committed) — but an orphan
        is only GC'd once it is older than ``orphan_grace_s`` seconds,
        because data is written BEFORE the manifest CAS: a young
        unreferenced dir may belong to an in-flight concurrent
        append/compact that is about to commit (same reasoning as
        Iceberg's ``remove_orphan_files`` ``older_than`` threshold).
        Dirs referenced by an *expired* snapshot carry provenance and
        are deleted immediately regardless of age.

        The snapshot list is re-read after the keep-set is built, so a
        commit that landed concurrently with this call never has its
        dirs deleted.  Txn ids carried only by expired snapshots are
        persisted to a ref file (consulted by txn appends) so
        exactly-once dedup survives expiry.

        Returns the deleted dirs.  Never touches a dir any retained
        snapshot references.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots(table)
        # tagged snapshots are pinned: a tag is a promise that this
        # exact dataset version stays readable (Iceberg retains any
        # snapshot a ref points at, regardless of age)
        tagged = set(self.tags(table).values())
        retained = [
            s for i, s in enumerate(snaps)
            if i >= len(snaps) - keep_last or s["id"] in tagged
        ]
        expired = [s for s in snaps if s not in retained]
        # exactly-once bookkeeping: txn ids that would vanish with the
        # expired manifests are persisted to the table's txn ref file
        # BEFORE any manifest is removed, so a replayed foreachBatch
        # micro-batch still dedupes after an expire with no compaction
        # in between
        kept_txns = set(self._carried_txns(retained))
        lost_txns = set(self._carried_txns(expired)) - kept_txns
        if lost_txns:
            self._persist_txns(table, lost_txns)

        def _snap_dirs(ss: list[dict]) -> set[str]:
            return {os.path.normpath(d) for s in ss for d in s["dirs"]} | {
                os.path.normpath(sp["dir"])
                for s in ss
                for sp in s["delete_specs"]
            }

        keep_dirs = _snap_dirs(retained) | {
            # staged-but-unpublished WAP commits are live, not orphans;
            # one vanishing mid-scan (concurrent publish/abort) is fine
            os.path.normpath(d)
            for d in (self._staged_dir_of(table, w) for w in self.staged_ids(table))
            if d is not None
        }
        # re-read AFTER building the keep set: a snapshot committed
        # since the first read (concurrent append/compact that won its
        # CAS while we were planning) keeps every dir it references
        seen_ids = {s["id"] for s in snaps}
        keep_dirs |= _snap_dirs(
            [s for s in self.snapshots(table) if s["id"] not in seen_ids]
        )
        expired_dirs = _snap_dirs(expired)
        now = time.time()
        deleted: list[str] = []
        data_root = os.path.join(self._tdir(table), "data")
        if os.path.isdir(data_root):
            for name in sorted(os.listdir(data_root)):
                path = os.path.normpath(os.path.join(data_root, name))
                if path in keep_dirs:
                    continue
                if path not in expired_dirs:
                    # true orphan — no snapshot we ever saw references
                    # it; respect the grace window for in-flight writers
                    try:
                        age = now - os.path.getmtime(path)
                    except OSError:
                        continue  # vanished (concurrent GC / commit race)
                    if age < orphan_grace_s:
                        continue
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(path)
        for s in expired:
            try:
                os.remove(os.path.join(self._snap_dir(table), f"{s['id']}.json"))
            except FileNotFoundError:
                pass
        return deleted

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        since_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Rows appended AFTER ``since_snapshot`` up to ``to_snapshot``
        (default: current).  Skips "replace" (compaction) snapshots —
        they add no rows.  Merge-on-read "delete" snapshots are also
        skipped: this is Iceberg's incremental APPEND scan, which by
        contract surfaces appended rows only and never retracts.
        Raises if the chain has been expired, because then the appended
        set can no longer be reconstructed.
        """
        to = self._snapshot(table, to_snapshot)
        snaps = {s["id"]: s for s in self.snapshots(table)}
        added: list[str] = []
        if since_snapshot < 0:  # "everything since before the first append"
            prev_dirs: set[str] | None = set()
        elif since_snapshot in snaps:
            prev_dirs = set(snaps[since_snapshot]["dirs"])
        else:
            prev_dirs = None
        for sid in range(since_snapshot + 1, to["id"] + 1):
            snap = snaps.get(sid)
            if snap is None:
                raise ValueError(
                    f"snapshot {sid} of {table!r} has been expired; "
                    "incremental read impossible — run a full read"
                )
            if prev_dirs is None:
                raise ValueError(
                    f"since_snapshot {since_snapshot} of {table!r} has been "
                    "expired; incremental read impossible — run a full read"
                )
            op = snap.get("operation", "append")
            if op in ("overwrite", "rollback", "merge"):
                # merge/delete rewrote existing rows, rollback removed
                # some — the append-only delta across either is
                # undefined (Iceberg's incremental append scan throws
                # on overwrite snapshots too)
                raise ValueError(
                    f"snapshot {sid} of {table!r} is an {op}; "
                    "incremental append read impossible across it — "
                    "run a full read"
                )
            if op == "append":
                added.extend(d for d in snap["dirs"] if d not in prev_dirs)
            prev_dirs = set(snap["dirs"])
        # the appended dirs read like a table of their own: aligned to
        # the `to` snapshot's schema, no delete masks (an append scan
        # never retracts)
        return self._assemble(
            spark, {"dirs": added, "schema": to["schema"]}, files_by_dir=None
        )


def zorder_expr(spark, df: DataFrame, cols: list[str], bits: int = 12):
    """Column expression for the Z-order (Morton) value of ``cols``.

    Each column is normalized to a ``bits``-bit integer over its
    observed [min, max] (one tiny driver-side agg — two scalars per
    column), then the bits are interleaved entirely with Catalyst
    shift/and/or arithmetic: no UDF, stays inside whole-stage codegen.
    Rows close in Z-value are close in EVERY listed dimension, so
    range-partitioning files by this value gives each file a small
    multi-dimensional bounding box — Delta/Iceberg OPTIMIZE ZORDER.
    """
    if not cols:
        raise ValueError("zorder needs at least one column")
    n = len(cols)
    if n * bits > 62:
        raise ValueError("n_cols * bits must fit a signed long")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
    r = df.agg(*aggs).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn = float(r[f"__mn_{c}"] if r[f"__mn_{c}"] is not None else 0.0)
        mx = float(r[f"__mx_{c}"] if r[f"__mx_{c}"] is not None else 0.0)
        span = (mx - mn) or 1.0
        scaled = (
            (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
            / F.lit(span)
            * F.lit(float(top))
        ).cast("long")
        q = F.least(F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), scaled))
        for b in range(bits):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


# ------------------------------------------------------- bucketed layout

def write_bucketed(df, table: str, bucket_cols: list[str], n_buckets: int) -> None:
    """Persist a DataFrame as a BUCKETED managed table (Spark/Hive
    bucketing): rows are hash-partitioned into ``n_buckets`` files per
    partition by ``bucket_cols`` at WRITE time, so joins and
    aggregations keyed on those columns read co-located data and skip
    the shuffle entirely — the 100 TB technique for repeated joins on
    the same key (e.g. image_id label joins, doc_id dedup joins).

    `tests/test_plans.py::test_bucketed_join_no_shuffle` proves the
    plan: two tables bucketed on the same key join with ZERO Exchange
    nodes.  On a real deployment the same layout comes from Iceberg's
    bucket partition transform."""
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).format(
        "parquet"
    ).saveAsTable(table)
