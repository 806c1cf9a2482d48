"""Manifest-based atomic table commits (Iceberg-style, jar-free).

The sandbox image carries no Iceberg runtime jars, so the engine ships a
minimal snapshot/manifest layer with the same commit semantics the north
rule needs: a table is a directory of immutable parquet data files plus a
chain of JSON manifests; readers resolve the single ``_current`` pointer
(updated via atomic ``os.replace``) so a half-written job is invisible
until its one commit lands. This upgrades the reference's staging-dir +
rename protocol (eel-hive/src/main/scala/io/eels/component/hive/
HiveSinkWriter.scala:78-101) to real snapshot isolation; swap-in of a real
Iceberg catalog is a one-module change since all access goes through here.

Layout:
    <root>/<name>/data/<job-uuid>/part-*.parquet   (written by Spark)
    <root>/<name>/manifests/m-<n>.json             (immutable)
    <root>/<name>/_current                          (atomic pointer)
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    files: list[str]
    schema_ddl: str
    properties: dict
    # per-file hive-style partition values, parallel to ``files``
    # ({} for unpartitioned files) — the manifest-resident partition
    # "metastore" that pruning and partition-only queries read
    partitions: list[dict] = field(default_factory=list)

    def file_stats(self) -> dict[str, list[int]]:
        """``[rows, raw_bytes, enc_bytes]`` per data-file basename, as
        the manifest records them: the run records' ``file_stats`` and
        the compaction rewrites' ``file_stats_extra``. Files written
        before per-file stats existed are absent."""
        props = self.properties or {}
        out: dict[str, list[int]] = {}
        for r in props.get("runs", []):
            out.update(r.get("file_stats") or {})
        out.update(props.get("file_stats_extra", {}))
        return out

    def file_sizes(self, files: list[str]) -> list[int]:
        """Encoded bytes of each of ``files``: the manifest's
        ``enc_bytes`` (:meth:`file_stats`), else the file's size on the
        local filesystem for files written before per-file stats, else
        0 for a file that is gone."""
        stats = self.file_stats()
        out = []
        for f in files:
            st = stats.get(os.path.basename(f))
            if st and st[2]:
                out.append(int(st[2]))
            else:
                try:
                    out.append(os.path.getsize(f))
                except OSError:
                    out.append(0)
        return out


class CommitConflict(Exception):
    """An ``expect_properties`` commit guard failed: another committer
    changed the guarded property between this committer's read and its
    commit. Nothing was published; re-read and retry (or stand down)."""


_PART_SEG = re.compile(r"^([^=/]+)=([^/]*)$")


def ddl_of(df) -> str:
    """The DataFrame's row schema as a decode DDL string — what encode
    paths persist in the manifest (``row_schema_ddl``) so reads don't
    need the caller to restate the schema."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields)


def fold_renames(entries: list[dict]) -> dict[str, str]:
    """Collapse a rename history into {historical_name: current_name}.
    Applied in commit order, so a→b then b→c folds to {a: c, b: c}."""
    alias: dict[str, str] = {}
    for e in entries:
        frm, to = e["from"], e["to"]
        for k, v in list(alias.items()):
            if v == frm:
                alias[k] = to
        alias[frm] = to
    return alias


def partition_values_of(path: str) -> dict:
    """Parse hive-style key=value segments out of a file path."""
    out: dict = {}
    for seg in path.split(os.sep):
        m = _PART_SEG.match(seg)
        if m:
            out[m.group(1)] = m.group(2)
    return out


def _spark_footer_schema(path: str):
    """The Spark schema a Spark writer stored in ``path``'s parquet
    footer, or None."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    stored = (pq.read_metadata(path).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(stored)) if stored else None


class ManifestTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_dir = os.path.join(self.dir, "manifests")
        self.pointer = os.path.join(self.dir, "_current")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- write side -------------------------------------------------------
    def new_data_path(self) -> str:
        """A fresh staging directory for one Spark write job."""
        return os.path.join(self.data_dir, uuid.uuid4().hex)

    def commit(self, new_files: list[str], schema_ddl: str,
               properties: dict | None = None, mode: str = "append",
               expect_properties: dict | None = None,
               stage: str | None = None) -> Snapshot:
        """Publish ``new_files`` atomically. mode: append | overwrite.

        ``stage`` names a REF instead of moving the main pointer — the
        write half of write-audit-publish: the snapshot is durably
        written and readable by ``resolve_ref``/``read_decoded(
        snapshot_id=)``, but invisible to main-table readers until
        :meth:`publish` fast-forwards the pointer onto it. Staged
        commits chain on the ref's own head (repeat stagings extend the
        audit line); the first one forks from current main. Snapshot
        ids are globally monotonic across lines (max over all
        manifests), so a staged line and main can never collide.

        ``expect_properties`` is an optional compare-and-swap guard:
        each (key, value) must match the CURRENT snapshot's property —
        re-read inside the commit lock — or the commit raises
        :class:`CommitConflict` and publishes nothing. ``None`` means
        "key must be absent". This is how optimistic committers (e.g.
        two incremental followers sharing a consumer id) detect that a
        rival advanced the cursor first, exactly like Iceberg's
        requirement-based commit validation.

        Commits are SERIALIZED under an advisory file lock (the
        single-host stand-in for a real catalog's compare-and-swap —
        Iceberg commits by atomically swapping the metadata pointer the
        same way). Without it, two concurrent committers (two streams,
        a stream + a compactor) could read the same parent, both write
        ``m-<id>.json`` (POSIX rename silently overwrites), and move the
        pointer backwards — losing one commit's files entirely. The
        parent snapshot is re-read INSIDE the lock, so each commit builds
        on the true latest state (this is also what makes the per-stream
        epoch property merge race-free). Exclusive manifest creation
        backs the lock as a belt-and-suspenders invariant."""
        import fcntl

        with open(os.path.join(self.dir, ".commit_lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            cur = self.head(stage)
            if expect_properties:
                have = cur.properties if cur else {}
                for k, want in expect_properties.items():
                    got = have.get(k)
                    if got != want:
                        raise CommitConflict(
                            f"commit to {self.dir}: expected property "
                            f"{k!r} == {want!r} but current snapshot has "
                            f"{got!r} — a rival committer advanced it")
            parent = cur.snapshot_id if cur else None
            base_files = cur.files if (cur and mode == "append") else []
            base_parts = (cur.partitions if (cur and mode == "append"
                                             and cur.partitions) else
                          [{} for _ in base_files])
            new_sorted = sorted(new_files)
            snap = Snapshot(
                snapshot_id=max((parent or 0), self._max_manifest_id()) + 1,
                parent_id=parent,
                files=base_files + new_sorted,
                schema_ddl=schema_ddl or (cur.schema_ddl if cur else ""),
                properties={**(cur.properties if cur and mode == "append"
                               else {}),
                            **(properties or {}),
                            "committed_at": time.time()},
                partitions=base_parts + [partition_values_of(f)
                                         for f in new_sorted],
            )
            mpath = os.path.join(self.manifest_dir,
                                 f"m-{snap.snapshot_id}.json")
            try:
                fd = os.open(mpath + ".tmp",
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                # a crashed commit's leftover — safe to clear: the lock
                # guarantees no LIVE committer owns it
                os.unlink(mpath + ".tmp")
                fd = os.open(mpath + ".tmp",
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump(snap.__dict__, f)
            os.replace(mpath + ".tmp", mpath)
            target = (self._ref_path(stage) if stage is not None
                      else self.pointer)
            with open(target + ".tmp", "w") as f:
                f.write(os.path.basename(mpath))
            os.replace(target + ".tmp", target)  # atomic commit
        return snap

    def _max_manifest_id(self) -> int:
        mx = 0
        for name in os.listdir(self.manifest_dir):
            m = re.fullmatch(r"m-(\d+)\.json", name)
            if m is not None:
                mx = max(mx, int(m.group(1)))
        return mx

    # -- refs: tags + staged write-audit-publish lines ---------------------
    _REF_NAME = re.compile(r"^[A-Za-z0-9._-]{1,64}$")

    def _ref_path(self, name: str) -> str:
        if not self._REF_NAME.fullmatch(name):
            raise ValueError(f"invalid ref name {name!r} (allowed: "
                             f"letters, digits, . _ -, max 64)")
        return os.path.join(self.manifest_dir, f"ref-{name}")

    def refs(self) -> dict[str, int]:
        """All named refs (tags + staged lines) → snapshot id."""
        out: dict[str, int] = {}
        for name in os.listdir(self.manifest_dir):
            if name.startswith("ref-") and not name.endswith(".tmp"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    m = re.fullmatch(r"m-(\d+)\.json", f.read().strip())
                if m is not None:
                    out[name[4:]] = int(m.group(1))
        return out

    def resolve_ref(self, name: str) -> int:
        path = self._ref_path(name)
        if not os.path.exists(path):
            raise FileNotFoundError(f"no ref {name!r} on {self.dir}")
        with open(path) as f:
            return int(re.fullmatch(r"m-(\d+)\.json",
                                    f.read().strip()).group(1))

    def ref_snapshot(self, name: str) -> Snapshot:
        return self.snapshot(self.resolve_ref(name))

    def head(self, stage: str | None = None) -> Snapshot | None:
        """The snapshot a commit on ``stage`` chains from: the ref's
        head when it exists, else current main (first staged commit
        forks from main; ``stage=None`` is just main)."""
        if stage is not None:
            try:
                return self.ref_snapshot(stage)
            except FileNotFoundError:
                pass
        return self.current()

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under an immutable name (audit points,
        reproducible-training-set versions). Write-once; the tagged
        snapshot and its files survive ``expire_snapshots``."""
        path = self._ref_path(name)
        sid = snapshot_id
        if sid is None:
            cur = self.current()
            if cur is None:
                raise FileNotFoundError(f"table {self.dir} has no snapshot")
            sid = cur.snapshot_id
        self.snapshot(sid)  # must exist
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ValueError(f"ref {name!r} already exists (refs are "
                             f"write-once; drop_ref first)") from None
        with os.fdopen(fd, "w") as f:
            f.write(f"m-{sid}.json")
        return sid

    def drop_ref(self, name: str) -> None:
        """Abandon a ref. An unpublished staged line loses its liveness
        protection: the next ``expire_snapshots`` deletes its snapshots
        and any files only they reference."""
        os.unlink(self._ref_path(name))

    def publish(self, name: str, drop: bool = True) -> Snapshot:
        """The publish half of write-audit-publish: atomically
        fast-forward the main pointer onto the staged ref's head. The
        current main head must be an ANCESTOR of the staged head
        (re-checked inside the commit lock) — if a rival published or
        committed to main after this line forked, :class:`CommitConflict`
        is raised and nothing moves (re-stage on top of the new main and
        re-audit, exactly Iceberg's WAP cherry-pick validation)."""
        import fcntl

        with open(os.path.join(self.dir, ".commit_lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            staged = self.ref_snapshot(name)
            cur = self.current()
            if cur is not None and cur.snapshot_id != staged.snapshot_id:
                s = staged
                while s.parent_id is not None \
                        and s.parent_id != cur.snapshot_id:
                    try:
                        s = self.snapshot(s.parent_id)
                    except FileNotFoundError:
                        s = Snapshot(-1, None, [], "", {})
                        break
                if s.parent_id != cur.snapshot_id:
                    raise CommitConflict(
                        f"publish {name!r}: main head "
                        f"{cur.snapshot_id} is not an ancestor of staged "
                        f"head {staged.snapshot_id} — main advanced "
                        f"after the stage forked; re-stage and re-audit")
            with open(self.pointer + ".tmp", "w") as f:
                f.write(f"m-{staged.snapshot_id}.json")
            os.replace(self.pointer + ".tmp", self.pointer)
            if drop:
                os.unlink(self._ref_path(name))
        return staged

    # -- read side --------------------------------------------------------
    def current(self) -> Snapshot | None:
        if not os.path.exists(self.pointer):
            return None
        with open(self.pointer) as f:
            mname = f.read().strip()
        with open(os.path.join(self.manifest_dir, mname)) as f:
            return Snapshot(**json.load(f))

    def snapshot(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.manifest_dir, f"m-{snapshot_id}.json")) as f:
            return Snapshot(**json.load(f))

    def snapshot_as_of(self, ts, stage: str | None = None) -> Snapshot:
        """The newest snapshot on this line whose ``committed_at`` is
        at or before ``ts`` — Iceberg's as-of-timestamp read. ``ts`` is
        epoch seconds or an ISO-8601 string (a naive string is taken as
        UTC, matching the epoch stamps ``commit`` writes). Walks the
        parent chain, so staged/branch commits never leak into main's
        timeline; raises if the table is younger than ``ts`` or the
        window crossed expire_snapshots."""
        if isinstance(ts, str):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        s = self.head(stage)
        if s is None:
            raise FileNotFoundError(f"table {self.dir} has no snapshot")
        while s is not None:
            if s.properties.get("committed_at", 0) <= ts:
                return s
            if s.parent_id is None:
                raise FileNotFoundError(
                    f"as-of {ts}: table {self.dir} is younger — its "
                    f"first snapshot committed at "
                    f"{s.properties.get('committed_at')}")
            try:
                s = self.snapshot(s.parent_id)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"as-of {ts}: snapshot {s.parent_id} expired "
                    f"(expire_snapshots ran past it) — keep more "
                    f"history for reads this old") from None
        raise AssertionError("unreachable")

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Move main back to an ANCESTOR snapshot's exact state (files,
        schema, properties — tombstones and lineage revert with it), as
        a NEW commit: history stays append-only, the bad commits remain
        time-travel-readable until expiry, and a concurrent committer
        is detected by the CAS. Iceberg's rollback-to-snapshot. Refuses
        non-ancestors (staged refs publish through ``publish``)."""
        cur = self.current()
        if cur is None:
            raise FileNotFoundError(f"table {self.dir} has no snapshot")
        if cur.snapshot_id == snapshot_id:
            return cur
        s = cur
        while s.parent_id is not None:
            s = self.snapshot(s.parent_id)
            if s.snapshot_id == snapshot_id:
                break
        else:
            raise ValueError(
                f"rollback: snapshot {snapshot_id} is not an ancestor "
                f"of main head {cur.snapshot_id} (staged lines publish "
                f"via publish(), not rollback)")
        target = self.snapshot(snapshot_id)
        props = dict(target.properties)
        props["rollback_of"] = cur.snapshot_id
        return self.commit(target.files, target.schema_ddl, props,
                           mode="overwrite",
                           expect_properties={
                               "committed_at":
                               cur.properties.get("committed_at")})

    def read(self, spark, snapshot_id: int | None = None,
             constraints: list | None = None):
        """Read the snapshot; ``constraints`` (PartitionConstraint list)
        prune files against manifest partition values BEFORE listing/
        scanning — the reference's metastore-side partition pruning
        (eel-schema/.../PartitionConstraint.scala:8-42,
        HiveSource.scala:104-133)."""
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current()
        if snap is None or not snap.files:
            raise FileNotFoundError(f"table {self.dir} has no committed snapshot")
        files = snap.files
        if constraints:
            parts = snap.partitions or [{} for _ in files]
            files = [f for f, pv in zip(files, parts)
                     if all(c.eval(pv) for c in constraints)]
            if not files:
                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromDDL(snap.schema_ddl))
        return self._read_files(spark, files)

    def _read_files(self, spark, files: list[str]):
        """The raw rows of ``files`` as one DataFrame, with no Spark job
        before an action: each staging group is read with the schema its
        first file's Spark footer stores, the one Spark's inference would
        use (a file written outside Spark is still inferred). Partition
        columns are still found from the paths. The snapshot's
        ``schema_ddl`` cannot type the files: callers record what they
        choose there, e.g. a block table's row schema."""
        # basePath keeps hive-style partition columns discoverable when
        # reading explicit leaf files (partition values live in the path,
        # not the files — the re-injection HiveFilePublisher.scala:23-61
        # does by hand, Spark does from the layout). Files are grouped by
        # their STAGING dir and unioned: each append lands under its own
        # data/<uuid>/ root, and Spark's partition discovery over one
        # basePath spanning several such roots raises
        # CONFLICTING_DIRECTORY_STRUCTURES for partitioned layouts.
        # allowMissingColumns keeps add-column schema evolution readable.
        from functools import reduce

        groups: dict[str, list[str]] = {}
        for f in files:
            rel = os.path.relpath(f, self.data_dir)
            base = (os.path.join(self.data_dir, rel.split(os.sep)[0])
                    if not rel.startswith("..") else self.data_dir)
            groups.setdefault(base, []).append(f)
        dfs = []
        for b, fs in groups.items():
            reader = spark.read.option("basePath", b)
            schema = _spark_footer_schema(fs[0])
            dfs.append((reader.schema(schema) if schema else reader)
                       .parquet(*fs))
        return reduce(lambda a, b: a.unionByName(
            b, allowMissingColumns=True), dfs)

    def rename_column(self, old: str, new: str,
                      stage: str | None = None) -> Snapshot:
        """Rename a column with a properties-only commit — no data moves
        (Iceberg renames by field id; block files key columns by NAME,
        so the manifest records the mapping and the decode paths accept
        the historical name and relabel on the fly). Readers pass the
        NEW name in their decode DDL from this snapshot on; time-travel
        reads use each snapshot's own mapping, so pre-rename snapshots
        still decode under the old name. Renaming the lineage KEY keeps
        reads correct but degrades manifest key-range pruning for files
        recorded under the old name until a compact/realign re-records
        them (lookups keep those files conservatively)."""
        if old == new:
            raise ValueError("rename_column: old and new names are equal")
        # read-modify-write on the rename history: CAS + retry so two
        # concurrent renames can't erase each other's entry (r8 audit)
        for _ in range(5):
            snap = self.head(stage)
            if snap is None:
                raise FileNotFoundError(f"table {self.dir} has no snapshot")
            entries = list(snap.properties.get("column_renames", []))
            entries.append({"from": old, "to": new})
            props: dict = {"column_renames": entries}
            stored = snap.properties.get("row_schema_ddl")
            if stored:
                # string-level rewrite (no SparkContext needed — the rename
                # CLI is metadata-only): ddl_of joins fields with ", " and
                # simpleString never puts a space after inner commas
                # (struct<a:int,b:string>, decimal(10,2)), so the split is
                # unambiguous for stored schemas
                parts = []
                for fld in stored.split(", "):
                    name, _, typ = fld.partition(" ")
                    parts.append(f"{new if name == old else name} {typ}")
                props["row_schema_ddl"] = ", ".join(parts)
            try:
                return self.commit(
                    [], "", props, mode="append", stage=stage,
                    expect_properties={
                        "column_renames":
                        snap.properties.get("column_renames"),
                        # a rival WIDEN also rewrites the stored schema
                        "row_schema_ddl": stored})
            except CommitConflict:
                continue
        raise CommitConflict(
            f"rename_column: rename history of {self.dir} kept changing "
            f"under 5 retries")

    #: widenings a stored column type may take without data loss — the
    #: Iceberg type-promotion matrix (int->long, float->double, decimal
    #: precision up handled separately)
    _WIDENINGS = {("tinyint", "smallint"), ("tinyint", "int"),
                  ("tinyint", "bigint"), ("smallint", "int"),
                  ("smallint", "bigint"), ("int", "bigint"),
                  ("float", "double")}

    def widen_column(self, col: str, to_type: str,
                     stage: str | None = None) -> Snapshot:
        """Type-WIDENING schema evolution with a properties-only commit
        — no data moves (Iceberg's type promotion: int->long,
        float->double, decimal precision up at equal scale). Blocks keep
        their encode-time type; the decode kernels safe-cast each
        decoded array up to the stored schema's current type
        (encode._widened), so mixed-generation reads return ONE widened
        type and later appends encode natively wide. Chained like
        ``rename_column``: the history rides ``column_widenings`` and
        lookups probe the part hash with every historical width (the
        JVM xxhash64 hashes int32 and int64 differently, so a widened
        KEY column's old generations live in parts derived from the
        narrow type)."""
        import re as _re

        # read-modify-write on widening history + stored schema: CAS on
        # BOTH (a rival rename also rewrites row_schema_ddl — guarding
        # only our own history would clobber its rewrite) and recompute
        # everything from a fresh head per retry
        for _ in range(5):
            snap = self.head(stage)
            if snap is None:
                raise FileNotFoundError(
                    f"table {self.dir} has no snapshot")
            stored = snap.properties.get("row_schema_ddl")
            if not stored:
                raise ValueError(
                    "widen_column needs the stored row schema "
                    "(row_schema_ddl) to validate the promotion — this "
                    "table predates it")
            frm = None
            parts = []
            for fld in stored.split(", "):
                name, _, typ = fld.partition(" ")
                if name == col:
                    frm = typ
                    typ = to_type
                parts.append(f"{name} {typ}")
            if frm is None:
                raise ValueError(f"widen_column: no column {col!r} in "
                                 f"stored schema {stored!r}")
            dec = (_re.fullmatch(r"decimal\((\d+),(\d+)\)", frm),
                   _re.fullmatch(r"decimal\((\d+),(\d+)\)", to_type))
            ok = (frm, to_type) in self._WIDENINGS or (
                dec[0] and dec[1]
                and int(dec[1].group(1)) >= int(dec[0].group(1))
                and dec[1].group(2) == dec[0].group(2))
            if frm == to_type:
                raise ValueError(f"widen_column: {col!r} is already "
                                 f"{frm}")
            if not ok:
                raise ValueError(
                    f"widen_column: {frm} -> {to_type} is not a lossless "
                    f"promotion (allowed: int family up, float->double, "
                    f"decimal precision up at equal scale)")
            entries = list(snap.properties.get("column_widenings", []))
            entries.append({"col": col, "from": frm, "to": to_type})
            try:
                return self.commit(
                    [], "", {"column_widenings": entries,
                             "row_schema_ddl": ", ".join(parts)},
                    mode="append", stage=stage,
                    expect_properties={
                        "column_widenings":
                        snap.properties.get("column_widenings"),
                        "row_schema_ddl": stored})
            except CommitConflict:
                continue
        raise CommitConflict(
            f"widen_column: widening history of {self.dir} kept "
            f"changing under 5 retries")

    def row_schema(self, snap=None) -> str:
        """The stored logical row schema (persisted by the encode paths
        since r7); raises with guidance for tables that predate it."""
        snap = snap or self.current()
        ddl = (snap.properties if snap else {}).get("row_schema_ddl")
        if not ddl:
            raise ValueError(
                f"table {self.dir} carries no stored row schema "
                f"(written before row_schema_ddl, or committed bare) — "
                f"pass schema_ddl explicitly")
        return ddl

    def read_decoded(self, spark, schema_ddl: str | None = None,
                     columns: list[str] | None = None,
                     constraints: list | None = None,
                     snapshot_id: int | None = None,
                     verify: bool = True,
                     with_deletes: bool = True,
                     ref: str | None = None,
                     as_of=None):
        """Decode an encoded-blocks table straight from its snapshot file
        list with no Exchange and no join: whole files per task, binned
        by the manifest's raw bytes (``encode.decode_files_df`` — block
        groups are file-adjacent by construction). With ``with_deletes``
        the decode kernel drops the snapshot's tombstoned rows, also
        when ``columns`` leaves the key columns out.
        ``constraints`` prune files manifest-side first; ``snapshot_id``
        time-travels to an older snapshot (within the expiry horizon).
        ``schema_ddl=None`` uses the schema the encode run persisted in
        the manifest (``row_schema_ddl`` — renames keep it current).
        ``ref`` reads a named ref (a tag's pinned version, or a staged
        line under audit) — the reproducible-training-set read;
        ``as_of`` time-travels by TIMESTAMP (epoch seconds or ISO-8601,
        via :meth:`snapshot_as_of`). Pass at most one of
        snapshot_id / ref / as_of."""
        from .encode import decode_files_df

        if sum(x is not None for x in (snapshot_id, ref, as_of)) > 1:
            raise ValueError("pass ONE of snapshot_id / ref / as_of")
        if ref is not None:
            snapshot_id = self.resolve_ref(ref)
        if as_of is not None:
            snapshot_id = self.snapshot_as_of(as_of).snapshot_id
        snap = (self.snapshot(snapshot_id) if snapshot_id is not None
                else self.current())
        if snap is None or not snap.files:
            raise FileNotFoundError(f"table {self.dir} has no committed snapshot")
        if schema_ddl is None:
            schema_ddl = self.row_schema(snap)
        files = snap.files
        if constraints:
            parts = snap.partitions or [{} for _ in files]
            files = [f for f, pv in zip(files, parts)
                     if all(c.eval(pv) for c in constraints)]
        return decode_files_df(spark, files, schema_ddl, columns=columns,
                               verify=verify, snap=snap,
                               with_deletes=with_deletes)

    def changes_between(self, from_snapshot_id: int,
                        to_snapshot_id: int | None = None) -> dict:
        """Manifest-only snapshot diff — the CDC surface. Appended files
        are classified by run lineage into NEW-DATA files (rows that did
        not exist at ``from``: fresh encode runs, upsert incoming) vs
        REWRITE files (old rows in new clothes: purge/upsert rewrites,
        compaction output — the latter has no run record at all), so an
        incremental consumer can process exactly the rows added since its
        last run without re-emitting rows a maintenance pass merely
        moved. Tombstone entries added in the window surface the deletes.
        Zero data reads."""
        try:
            frm = self.snapshot(from_snapshot_id)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"changes_between: cursor snapshot {from_snapshot_id} "
                f"expired (expire_snapshots ran past it) — re-bootstrap "
                f"the consumer from a full read, or keep more history"
            ) from None
        to = (self.snapshot(to_snapshot_id) if to_snapshot_id is not None
              else self.current())
        if to is None:
            raise FileNotFoundError(f"table {self.dir} has no snapshot")
        new_data: list[str] = []
        rewrites: list[str] = []
        unclassified: list[str] = []
        tomb_added: list[dict] = []
        purged = False
        # walk the PARENT chain from ``to`` back to the cursor (snapshot
        # ids are globally monotonic but NOT contiguous on one line of
        # history once staged/branch commits exist — an integer-range
        # walk would fold a staged snapshot's files into the window)
        chain: list[Snapshot] = []
        s = to
        while s.snapshot_id != frm.snapshot_id:
            chain.append(s)
            if s.parent_id is None:
                raise ValueError(
                    f"changes_between: snapshot {frm.snapshot_id} is not "
                    f"an ancestor of {to.snapshot_id} — the cursor points "
                    f"off this line of history (a staged/tagged ref, or "
                    f"a published line that replaced it)")
            try:
                s = self.snapshot(s.parent_id)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"changes_between: snapshot {s.parent_id} expired — "
                    f"the window [{frm.snapshot_id}, {to.snapshot_id}] "
                    f"crosses expire_snapshots; poll with smaller "
                    f"windows or keep more history") from None
        prev = frm
        for s in reversed(chain):
            prev_files = set(prev.files)
            added = [f for f in s.files if f not in prev_files]
            run_of: dict[str, str] = {}
            for r in s.properties.get("runs", []):
                for b in (r.get("file_stats") or r.get("file_parts")
                          or {}):
                    run_of[b] = r.get("run_id", "")
            compacted = (set(s.properties.get("file_stats_extra", {}))
                         | set(s.properties.get("file_parts_extra", {})))
            for f in added:
                base = os.path.basename(f)
                rid = run_of.get(base)
                if rid is not None:
                    if rid.startswith("purge-"):
                        purged = True
                    (rewrites if rid.startswith(("upsert-rewrite-",
                                                 "purge-"))
                     else new_data).append(f)
                elif base in compacted:
                    rewrites.append(f)
                else:
                    # off-lineage append (bare commit, no run record):
                    # reported separately; consumers treat it as new
                    # data — re-emitting a row is recoverable
                    # downstream, silently dropping one is not
                    unclassified.append(f)
            prev_sidecars = {f for e in (prev.properties or {}).get(
                "tombstones", []) for f in e["files"]}
            prev_entries = (prev.properties or {}).get("tombstones", [])
            entries = (s.properties or {}).get("tombstones", [])
            tomb_added += [e for e in entries
                           if any(f not in prev_sidecars
                                  for f in e["files"])]
            if prev_entries and not entries and set(s.files) != prev_files:
                purged = True
            prev = s
        return {"from_snapshot": frm.snapshot_id,
                "to_snapshot": to.snapshot_id,
                "new_data_files": new_data,
                "rewritten_files": rewrites,
                "unclassified_files": unclassified,
                "removed_files": sorted(set(frm.files) - set(to.files)),
                "tombstones_added": tomb_added,
                # a purge inside the window physically dropped rows the
                # chain may still attribute as added — see read_appended
                "purged_in_window": purged}

    def read_appended(self, spark, schema_ddl: str | None,
                      since_snapshot_id: int,
                      columns: list[str] | None = None,
                      verify: bool = True, with_deletes: bool = True,
                      include_rewrites: bool = False):
        """Incremental decode: only the rows ADDED after
        ``since_snapshot_id`` — what a downstream incremental pipeline
        (e.g. dedup.incremental_dup_ids against a signature store)
        consumes per run. Rewrite files (purge/upsert/compact output,
        which hold pre-existing rows) are excluded by default so
        maintenance between reads never re-emits old rows — stronger
        than Iceberg's incremental append scan, which refuses the window
        outright on a replace. Adds are attributed at the snapshot where
        they landed, so even files a LATER in-window compaction absorbed
        are read from their original (time-travel-retained) location.
        Current tombstones still apply (dropped in the decode kernel,
        like ``read_decoded``), so a row appended then deleted
        inside the window is not emitted — EXCEPT when the delete was
        also purged in-window (the keys left with the tombstones;
        ``purged_in_window`` flags it — snapshot the cursor before
        maintenance runs, as with Iceberg)."""
        from .encode import decode_files_df

        if schema_ddl is None:
            schema_ddl = self.row_schema()
        ch = self.changes_between(since_snapshot_id)
        files = ch["new_data_files"] + ch["unclassified_files"] \
            + (ch["rewritten_files"] if include_rewrites else [])
        gone = [f for f in files if not os.path.exists(f)]
        if gone:
            raise FileNotFoundError(
                f"read_appended: {len(gone)} in-window data file(s) were "
                f"expired (expire_snapshots ran past the cursor) — e.g. "
                f"{gone[0]}; advance the cursor or keep more history")
        if not files:
            df = spark.createDataFrame([], schema_ddl)
            return df.select(*columns) if columns else df
        return decode_files_df(spark, files, schema_ddl, columns=columns,
                               verify=verify, snap=self.current(),
                               with_deletes=with_deletes)

    def partition_values(self, keys: list[str] | None = None,
                         constraints: list | None = None) -> list[dict]:
        """Partition-only query answered purely from the manifest — zero
        data reads (the reference answers these from the metastore alone,
        HivePartitionPublisher.scala)."""
        snap = self.current()
        if snap is None:
            return []
        parts = snap.partitions or []
        if constraints:
            parts = [pv for pv in parts if all(c.eval(pv) for c in constraints)]
        if keys:
            parts = [{k: pv.get(k) for k in keys} for pv in parts]
        seen, out = set(), []
        for pv in parts:
            key = tuple(sorted(pv.items()))
            if key not in seen:
                seen.add(key)
                out.append(pv)
        return out

    @staticmethod
    def list_written_files(job_dir: str) -> list[str]:
        out = []
        for dirpath, _, names in os.walk(job_dir):
            out.extend(os.path.join(dirpath, n) for n in names
                       if n.endswith(".parquet"))
        return sorted(out)

    def write_df(self, df, schema_ddl: str = "", properties: dict | None = None,
                 mode: str = "append",
                 partition_by: list[str] | None = None) -> Snapshot:
        """Write a DataFrame as a new snapshot (stage -> commit).

        ``partition_by`` produces a hive layout whose key=value values are
        recorded in the manifest — the dynamic-partition sink of the
        reference (HiveSink.scala:23-80) with a snapshot commit instead of
        per-file renames."""
        job_dir = self.new_data_path()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(job_dir)
        return self.commit(self.list_written_files(job_dir), schema_ddl,
                           properties, mode)

    def compact(self, spark, n_files: int,
                stage: str | None = None) -> Snapshot:
        """Small-file compaction: rewrite every file of the head of
        ``stage`` (main by default) into ``n_files`` files in one new
        snapshot, fewer when a hash partition gets no block group
        (reference: Compactor.compactTo,
        eel-hive/src/main/scala/io/eels/component/hive/Compactor.scala:16-21;
        Iceberg's rewrite_data_files). Old files stay on disk for time
        travel. One rewrite routine serves this and :meth:`binpack`
        (:meth:`_rewrite`: layout, manifest entries, CAS retries).

        As every file is replaced, a registered bloom index is rebuilt
        after the commit, so lookups keep consulting it instead of
        scanning each rewritten file — except on a ``stage`` (write,
        audit, then ``publish``), since the index registration is a
        main-line commit."""
        return self._rewrite(spark, stage,
                             lambda snap: (snap.files, n_files))[0]

    def binpack(self, spark, target_bytes: int = 128 << 20,
                stage: str | None = None) -> dict:
        """INCREMENTAL small-file compaction (Iceberg's binpack
        rewrite_data_files strategy): rewrite ONLY the files under
        ``target_bytes`` of encoded bytes (``Snapshot.file_sizes``) into
        ``ceil(small bytes / target_bytes)`` outputs; every larger file
        — and its manifest coverage, stats, key ranges and summary
        blooms — survives byte-identical. Cost is O(small-file bytes),
        never O(table): the nightly binpack of a follower sink touches
        the day's small tail while ``compact()`` would rewrite it all.

        Same rewrite routine as :meth:`compact` (:meth:`_rewrite`); the
        manifest's extra maps are merged, so survivors keep their
        entries and the packed outputs get theirs. A registered bloom
        index is rebuilt only when every file was small; otherwise it
        keeps answering for survivors and packed files fall back to the
        per-file scan until the next index build. Returns a summary
        dict; a no-op (no commit) when fewer than 2 files qualify."""
        import math

        def pick(snap):
            sizes = dict(zip(snap.files, snap.file_sizes(snap.files)))
            small = [f for f in snap.files if sizes[f] < target_bytes]
            if len(small) < 2:
                return [], 0
            return small, max(1, math.ceil(sum(sizes[f] for f in small)
                                           / target_bytes))

        out, replaced, new_files = self._rewrite(spark, stage, pick)
        return {"rewritten_files": len(replaced),
                "new_files": len(new_files),
                "surviving_files": len(out.files) - len(new_files),
                "snapshot_id": out.snapshot_id}

    def _rewrite(self, spark, stage: str | None, select):
        """Replace some files of the head of ``stage`` by a fresh write
        of their rows, in one overwrite commit: ``select(snap)`` returns
        the files to replace and the number of output files (no files
        is a no-op). Returns ``(snapshot, replaced, new_files)``.

        Encoded-blocks tables keep every decode block group whole in
        one output file, which the zero-shuffle ``read_decoded`` path
        relies on: part-aligned tables hash on ``part_id``, banded ones
        on the full group key. Other tables are round-robin. The new
        files' part coverage, stats and key ranges are folded in the
        driver from their narrow block rows (``checkpoint._file_entries``,
        as a run record's are) and merged into the ``*_extra`` maps:
        entries of files that did not survive are dropped. Key ranges
        cover the lineage key's primary component. Their pruning power
        depends on the layout: the banded 3-key hash scatters key
        clustering, so rewritten ranges typically widen (they can only
        over-keep, never wrongly drop a file).

        The commit is CAS-guarded on ``committed_at``: a rival commit
        landing mid-rewrite (a ``delete_rows``, whose tombstones the
        property overwrite would erase) makes the rewrite re-read the
        head, re-select and retry, up to 3 times."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from .checkpoint import (_file_block_stats, _file_entries,
                                 _read_block_rows, build_bloom_index)
        from .encode import SUMMARY_COL_PREFIX

        last_err = None
        for _ in range(3):
            snap = self.head(stage)
            if snap is None or not snap.files:
                raise FileNotFoundError(f"table {self.dir} has no snapshot")
            files, n_out = select(snap)
            if not files:
                return snap, [], []
            blocks = {"part_id", "block_seq", "col"} <= set(
                pq.read_schema(files[0]).names)
            if blocks:
                # one read under the merged schema (block files live in
                # unpartitioned staging dirs); tier-0 summary sentinels
                # describe the REPLACED files: a rewritten file mixes
                # many sources, so it has no summary (lookups keep it)
                # until the next fresh encode
                df = (spark.read.option("mergeSchema", "true")
                      .parquet(*files)
                      .filter(~F.col("col").startswith(SUMMARY_COL_PREFIX)))
                # BANDED blocks (no-exchange 'local' layout): every
                # task's anchor is its smallest part — typically part 0
                # for ALL of them, so hashing on part_id alone would
                # funnel the whole table through one writer. Files are
                # read 16 at a time and the test stops at the first
                # banded one
                banded = any(
                    t.filter(pc.not_equal(t["part_id"],
                                          t["part_hi"])).num_rows
                    for i in range(0, len(files), 16)
                    for t in _read_block_rows(files[i:i + 16],
                                              ("part_id", "part_hi"))
                    if "part_hi" in t.column_names)
                by = (["part_id", "block_seq", "writer_uid"] if banded
                      else ["part_id"])
                df = df.repartition(n_out, *by).sortWithinPartitions(*by)
            else:
                df = self._read_files(spark, files).repartition(n_out)
            job_dir = self.new_data_path()
            df.write.mode("overwrite").parquet(job_dir)
            new_files = self.list_written_files(job_dir)
            replaced = set(files)
            survivors = [f for f in snap.files if f not in replaced]
            props = dict(snap.properties)
            if blocks:
                runs = props.get("runs") or []
                key = runs[-1].get("key") if runs else None
                if key is not None and not isinstance(key, str):
                    key = key[0]  # composite key: its primary component
                parts, stats, ranges = _file_entries(
                    new_files, _file_block_stats(new_files)[0], {key})
                live = {os.path.basename(f) for f in survivors}

                def merged(old: dict, new: dict) -> dict:
                    return {**{b: v for b, v in old.items() if b in live},
                            **new}

                props["file_parts_extra"] = merged(
                    props.get("file_parts_extra", {}), parts)
                props["file_stats_extra"] = merged(
                    props.get("file_stats_extra", {}), stats)
                if key is not None:
                    kr = props.get("file_key_ranges_extra") or {}
                    props["file_key_ranges_extra"] = {
                        "key": key,
                        "files": merged(kr.get("files", {})
                                        if kr.get("key") == key else {},
                                        ranges.get(key, {}))}
            try:
                out = self.commit(survivors + new_files, snap.schema_ddl,
                                  props, mode="overwrite", stage=stage,
                                  expect_properties={
                                      "committed_at":
                                      snap.properties.get("committed_at")})
            except CommitConflict as e:
                last_err = e
                continue
            if not survivors and stage is None and props.get("bloom_index"):
                build_bloom_index(spark, self,
                                  key=props["bloom_index"]["key"])
                out = self.current()
            return out, files, new_files
        raise last_err

    # -- maintenance (Iceberg expireSnapshots / deleteOrphanFiles parity) --
    def expire_snapshots(self, keep_last: int = 1,
                         delete_files: bool = True,
                         older_than_s: float | None = None) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files referenced ONLY by expired ones (Iceberg's expire_snapshots;
        the reference has no snapshot layer at all). At 100 TB every
        compaction/overwrite strands a full copy of the table for time
        travel — without expiry the footprint only grows. Runs under the
        commit lock so a concurrent committer can't publish a snapshot
        that references a file being deleted."""
        import fcntl

        with open(os.path.join(self.dir, ".commit_lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            cur = self.current()
            if cur is None:
                # same shape as the full path — callers diff gc output
                return {"expired_snapshots": 0, "deleted_files": 0,
                        "deleted_index_files": 0,
                        "deleted_tombstone_files": 0}
            keep_ids = []
            s = cur
            # age-based retention (Iceberg's expire_snapshots default):
            # with older_than_s, every snapshot younger than the cutoff
            # survives too — keep_last stays the floor
            cutoff = (time.time() - older_than_s
                      if older_than_s is not None else None)
            while s is not None and (
                    len(keep_ids) < keep_last
                    or (cutoff is not None
                        and s.properties.get("committed_at", 0) >= cutoff)):
                keep_ids.append(s.snapshot_id)
                try:
                    s = (self.snapshot(s.parent_id)
                         if s.parent_id is not None else None)
                except FileNotFoundError:  # parent beyond a prior expiry
                    s = None
            # named refs (tags, staged write-audit-publish lines) pin
            # their whole line: the head AND its ancestors down to a
            # main-kept snapshot survive until drop_ref (publish's
            # fast-forward walk needs the intermediate manifests) —
            # Iceberg's ref-retention rule
            for sid in self.refs().values():
                while sid is not None and sid not in keep_ids:
                    try:
                        s = self.snapshot(sid)
                    except FileNotFoundError:
                        break
                    keep_ids.append(sid)
                    sid = s.parent_id
            live: set[str] = set()
            for sid in keep_ids:
                live.update(self.snapshot(sid).files)
            expired, deleted = 0, 0
            for name in os.listdir(self.manifest_dir):
                m = re.fullmatch(r"m-(\d+)\.json", name)
                if m is None:
                    continue  # stale .tmp etc.
                sid = int(m.group(1))
                if sid in keep_ids:
                    continue
                old = self.snapshot(sid)
                for f in old.files:
                    if f not in live and delete_files and os.path.exists(f):
                        os.unlink(f)
                        deleted += 1
                        live.add(f)  # count once
                os.unlink(os.path.join(self.manifest_dir, name))
                expired += 1
            # bloom INDEX sidecars follow the same liveness rule: a
            # build_bloom_index re-run registers a new file set, but the
            # superseded one stays referenced by older snapshots' props
            # (time-travel lookups still consult it) — it becomes
            # deletable only when those snapshots expire, exactly like
            # data files. Liveness is judged from the SURVIVING
            # snapshots' bloom_index properties.
            deleted_idx = 0
            idx_root = os.path.join(self.dir, "bloom_index")
            if delete_files and os.path.isdir(idx_root):
                live_idx: set[str] = set()
                for sid in keep_ids:
                    prop = (self.snapshot(sid).properties
                            .get("bloom_index") or {})
                    live_idx.update(map(os.path.abspath,
                                        prop.get("files", [])))
                for dirpath, _, names in os.walk(idx_root, topdown=False):
                    for n in names:
                        path = os.path.abspath(os.path.join(dirpath, n))
                        if path not in live_idx:
                            os.unlink(path)
                            deleted_idx += 1
                    if not os.listdir(dirpath):
                        os.rmdir(dirpath)
            # tombstone sidecars (deletes.delete_rows): a purge clears
            # the tombstones property, but older snapshots keep
            # referencing the key files (time-travel reads still apply
            # them) — deletable only once those snapshots expire, same
            # liveness rule as the bloom index
            deleted_tomb = 0
            tomb_root = os.path.join(self.dir, "tombstones")
            if delete_files and os.path.isdir(tomb_root):
                live_tomb: set[str] = set()
                for sid in keep_ids:
                    for e in (self.snapshot(sid).properties
                              .get("tombstones") or []):
                        live_tomb.update(map(os.path.abspath,
                                             e.get("files", [])))
                for dirpath, _, names in os.walk(tomb_root, topdown=False):
                    for n in names:
                        path = os.path.abspath(os.path.join(dirpath, n))
                        if path not in live_tomb:
                            os.unlink(path)
                            deleted_tomb += 1
                    if not os.listdir(dirpath):
                        os.rmdir(dirpath)
        return {"expired_snapshots": expired, "deleted_files": deleted,
                "deleted_index_files": deleted_idx,
                "deleted_tombstone_files": deleted_tomb}

    def remove_orphan_files(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO snapshot (crashed writes:
        the job wrote its staging dir but died before commit — invisible
        to readers but real bytes; Iceberg's remove_orphan_files). The
        age guard keeps in-flight staging dirs safe: a writer that has
        not committed within ``older_than_s`` of its last file touch is
        presumed dead (same contract as Iceberg's default 3-day cutoff,
        scaled for tests)."""
        import fcntl

        with open(os.path.join(self.dir, ".commit_lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            referenced: set[str] = set()
            for name in os.listdir(self.manifest_dir):
                m = re.fullmatch(r"m-(\d+)\.json", name)
                if m is not None:
                    referenced.update(self.snapshot(int(m.group(1))).files)
            cutoff = time.time() - older_than_s
            removed = []
            for dirpath, _, names in os.walk(self.data_dir):
                for n in names:
                    path = os.path.join(dirpath, n)
                    if path in referenced:
                        continue
                    if os.path.getmtime(path) <= cutoff:
                        os.unlink(path)
                        removed.append(path)
        return removed
