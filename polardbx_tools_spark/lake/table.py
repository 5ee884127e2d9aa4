"""Atomic-snapshot, bucket-partitioned parquet lake table.

This is the engine's target-store abstraction: Iceberg-style semantics
(atomic snapshot commits, source offsets stored *in* the commit, additive
schema evolution, bucket partition pruning, time travel) implemented over
plain parquet, because no Iceberg/Delta runtime jar ships in this sandbox.
The public surface mirrors what the CDC pipeline needs from
``MERGE INTO iceberg`` + a transactional offsets table.

Reference analogs:
* checkpoint/history file ``{context, nextFileIndex, nextBlockIndex}`` —
  ``batch-tool model/ProducerExecutionContext.java:200-247`` → per-source
  offsets committed atomically inside each snapshot (stronger: the
  reference needs ``INSERT IGNORE`` to paper over replays; here the
  snapshot pointer flip is the transaction).
* client-side shard routing ``hash(value) % partitionSize`` —
  ``batch-tool util/DbUtil.java:386-396`` → ``pmod(xxhash64(key), B)``
  bucket layout, so MERGE only rewrites touched buckets.
* DDL import with "already exists" tolerance / additive evolution —
  ``batch-tool worker/ddl/DdlImportWorker.java:88-215`` → ``evolve_schema``.

Layout::

    <root>/
      _meta/
        v<NNNNNNNN>.json   # immutable snapshot manifests
        _current           # pointer file, flipped via os.replace (atomic)
      data/
        v<NNNNNNNN>-<id>/b=<bucket>/*.parquet  # one bucket's files: a base
                                               # rewrite, or the delta of a
                                               # merge that folds buckets
        v<NNNNNNNN>-<id>/*.parquet  # SHARED merge-on-read delta files of a
                                    # merge that folds no bucket: each holds
                                    # the rows of several buckets, sorted by
                                    # (bucket, key, seq desc)
        v<NNNNNNNN>-<id>/p=<bucket>/*.parquet  # SHARED base files of a
                                               # compaction: a run of small
                                               # adjacent buckets from
                                               # <bucket> on
      _lineage/*.parquet   # per-microbatch metrics (append-only)

The manifest says which files are base and which are deltas, and lists a
shared file under every bucket it holds. A file stays live while any
bucket lists it, so a shared file can also hold rows of buckets that no
longer list it (folded or compacted since): every scan of a shared file
keeps only the rows of the buckets that list it, ``bucket_sql IN
(...)``. A bucket's delta pressure is counted in delta COMMITS (distinct
staging directories), not files.

Crash-safety: data files are staged under the *next* version's directory
before the pointer flips; a crash between staging and commit leaves
orphans that no manifest references — the table still reads as the old
snapshot and a restarted pipeline replays from the old offsets.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

META_DIR = "_meta"
DATA_DIR = "data"
LINEAGE_DIR = "_lineage"
CURRENT_PTR = "_current"

# bookkeeping columns persisted in data files; never exposed by read()
SEQ_TS = "_seq_ts"        # event-time of the winning change (dedup order major)
SEQ_LSN = "_seq_lsn"      # LSN of the winning change (dedup order minor)
SEQ_PART = "_seq_part"    # source partition of the winning change (final tiebreak)
DELETED = "_deleted"      # tombstone flag: row was deleted; kept so a late,
                          # older (ts,lsn) insert cannot resurrect it
BOOKKEEPING_COLS = (SEQ_TS, SEQ_LSN, SEQ_PART, DELETED)

# committed LSN of a source partition that has no offset yet: below every
# real LSN, so none of that partition's events counts as applied
LSN_FLOOR = -(1 << 62)


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: the engine builds its
    plans from SQL text, and payload columns need not be bare identifiers
    (``tool-id``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# the last-writer-wins total order (newest first), as ORDER BY text
SEQ_DESC = f"{ident(SEQ_TS)} DESC, {ident(SEQ_LSN)} DESC, {ident(SEQ_PART)} DESC"


def committed_lsn(offsets: dict[int, int], part_col: str) -> str:
    """SQL text: per-row committed LSN of the row's source partition.

    Offsets are tiny (one per source partition), so they ride the plan as
    a literal map — pushed into the scan filter, no join or shuffle.
    Partitions without an offset get :data:`LSN_FLOOR`."""
    floor = f"CAST({LSN_FLOOR} AS BIGINT)"
    if not offsets:
        return floor
    pairs = ", ".join(f"{int(p)}, {int(lsn)}" for p, lsn in offsets.items())
    return f"coalesce(map({pairs})[{ident(part_col)}], {floor})"


def _with_bookkeeping(schema: StructType) -> StructType:
    """Physical read schema: logical schema + bookkeeping columns."""
    from pyspark.sql.types import BooleanType, IntegerType, LongType, TimestampType

    extra = [
        StructField(SEQ_TS, TimestampType(), True),
        StructField(SEQ_LSN, LongType(), True),
        StructField(SEQ_PART, IntegerType(), True),
        StructField(DELETED, BooleanType(), True),
    ]
    names = {f.name for f in schema.fields}
    return StructType(list(schema.fields) + [f for f in extra if f.name not in names])


@dataclass
class Snapshot:
    version: int
    schema_json: str
    bucket_key: str
    bucket_count: int
    # bucket id (as str, JSON keys) -> list of data file paths relative to root
    files: dict[str, list[str]]
    # source_partition (as str) -> last committed LSN
    offsets: dict[str, int]
    parent: int | None = None
    committed_at: float = 0.0
    properties: dict[str, str] = field(default_factory=dict)
    # merge-on-read DELTA files per bucket (upserts + tombstones appended
    # by MOR commits, merged with the base at read time, folded into the
    # base by compaction / the next COW rewrite of the bucket). Absent in
    # pre-MOR manifests -> default {} keeps them readable.
    deltas: dict[str, list[str]] = field(default_factory=dict)
    # full row key for read-time last-writer-wins (bucket_key is only its
    # leading column); None in pre-MOR manifests (no deltas to merge)
    key_cols: list[str] | None = None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def all_files(self) -> list[str]:
        """Every referenced data file (base + deltas), each once —
        liveness for vacuum and file-diff for incremental reads."""
        return list(dict.fromkeys(self.base_files() + self.delta_files()))

    @staticmethod
    def _listed(lists: dict[str, list[str]], buckets: list[int] | None) -> list[str]:
        want = None if buckets is None else {str(b) for b in buckets}
        return list(dict.fromkeys(
            f for b, fl in lists.items() if want is None or b in want for f in fl
        ))

    def base_files(self, buckets: list[int] | None = None) -> list[str]:
        """The base files of ``buckets`` (all when None), each once: a
        shared file is listed under every bucket it holds."""
        return self._listed(self.files, buckets)

    def delta_files(self, buckets: list[int] | None = None) -> list[str]:
        """The delta files of ``buckets`` (all when None), each once."""
        return self._listed(self.deltas, buckets)

    def listing_buckets(self, buckets: list[int] | None = None) -> dict[str, list[int]]:
        """File path -> the buckets (of ``buckets``, all when None) whose
        base or delta list names it."""
        want = None if buckets is None else {int(b) for b in buckets}
        out: dict[str, list[int]] = {}
        for lists in (self.files, self.deltas):
            for b, fl in lists.items():
                if want is None or int(b) in want:
                    for f in fl:
                        out.setdefault(f, []).append(int(b))
        return out

    def delta_commits(self) -> dict[str, int]:
        """Delta commits per bucket: the distinct staging directories of
        its delta files. A commit adds one file to a bucket, or shared
        files that hold it, so files would overcount commits."""
        return {b: len({os.path.dirname(f) for f in fl}) for b, fl in self.deltas.items()}


def suggest_bucket_count(
    expected_rows: int, target_rows_per_bucket: int = 2_000_000
) -> int:
    """Size the bucket layout for an expected table cardinality.

    Copy-on-write rewrites every TOUCHED bucket per microbatch, so write
    amplification per batch is bounded by
    ``touched_buckets * (table_rows / bucket_count)`` — the bucket count
    must grow with the table or each commit rewrites ever-bigger files.
    Rule: one bucket per ~2M rows (a few hundred MB of parquet), rounded
    up to a power of two (stable pmod distribution), clamped to
    [8, 65536]. At 10^10 rows that yields 8192 buckets; a batch touching
    1% of conversations then rewrites ~1% of the data, not all of it.
    (Merge-on-read delta files — ``merge_into(mode="mor")`` — are the
    path beyond that: write cost per batch drops to ~batch size and the
    bucket count then mainly controls read/compaction parallelism.)
    """
    n = max(1, (expected_rows + target_rows_per_bucket - 1) // target_rows_per_bucket)
    b = 1
    while b < n:
        b <<= 1
    return max(8, min(65536, b))


class LakeTable:
    """Handle to one lake table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = os.path.abspath(path)

    # ---------------------------------------------------------------- meta

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.path, META_DIR, name)

    def exists(self) -> bool:
        return os.path.exists(self._meta_path(CURRENT_PTR))

    def current_version(self) -> int:
        with open(self._meta_path(CURRENT_PTR), encoding="utf-8") as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
        with open(self._meta_path(f"v{version:08d}.json"), encoding="utf-8") as f:
            return Snapshot(**json.loads(f.read()))

    def snapshots(self) -> list[int]:
        meta = os.path.join(self.path, META_DIR)
        return sorted(
            int(n[1:-5]) for n in os.listdir(meta)
            if n.startswith("v") and n.endswith(".json")
        )

    @property
    def schema(self) -> StructType:
        return self.snapshot().schema

    def offsets(self) -> dict[int, int]:
        """Committed source offsets: source_partition -> last applied LSN."""
        return {int(k): int(v) for k, v in self.snapshot().offsets.items()}

    # -------------------------------------------------------------- create

    @classmethod
    def create(
        cls,
        path: str,
        schema: StructType,
        bucket_key: str = "conv_id",
        bucket_count: int = 16,
        key_cols: tuple[str, ...] | None = None,
    ) -> "LakeTable":
        """Create an empty table (version 0, no files, empty offsets).

        ``key_cols`` is the full row key (read-time last-writer-wins for
        merge-on-read deltas needs it; ``bucket_key`` must be its leading
        column). Defaults to ``(bucket_key,)``."""
        t = cls(path)
        if t.exists():
            raise FileExistsError(f"lake table already exists at {path}")
        os.makedirs(os.path.join(t.path, META_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, DATA_DIR), exist_ok=True)
        snap = Snapshot(
            version=0,
            schema_json=json.dumps(schema.jsonValue()),
            bucket_key=bucket_key,
            bucket_count=bucket_count,
            files={},
            offsets={},
            parent=None,
            committed_at=time.time(),
            key_cols=list(key_cols) if key_cols else [bucket_key],
        )
        t._write_snapshot(snap)
        t._flip_pointer(0)
        return t

    def _write_snapshot(self, snap: Snapshot) -> None:
        p = self._meta_path(f"v{snap.version:08d}.json")
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(json.dumps(snap.__dict__))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)

    def _flip_pointer(self, version: int) -> None:
        p = self._meta_path(CURRENT_PTR)
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)  # POSIX-atomic: this IS the transaction commit

    # ---------------------------------------------------------------- read

    def bucket_sql(
        self, key_col: str | None = None, snapshot: "Snapshot | None" = None
    ) -> str:
        """SQL text of the deterministic bucket id of a key column
        (client-side routing, same role as ``DbUtil.java:386-396``'s
        ``hash % n``).

        The SINGLE source of truth for bucket routing — every write path
        (merge, compaction) derives its bucket column here, so the
        hash/modulus can never silently diverge between paths (divergent
        copies would scatter rows into buckets the manifests
        misattribute, breaking bucket pruning). Pass ``snapshot`` to pin
        an already-read snapshot instead of re-reading the pointer."""
        snap = snapshot or self.snapshot()
        key = ident(key_col or snap.bucket_key)
        return f"CAST(pmod(xxhash64({key}), {int(snap.bucket_count)}) AS INT)"

    def scan(
        self, spark: SparkSession, snap: Snapshot, files: list[str],
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """The raw rows of ``files`` (paths relative to the root) under
        ``snap``'s schema, bookkeeping columns included: no tombstone
        filter and no read-time merge of deltas — the merge's fold
        resolves those in its own window. Old files missing newly-added
        columns read as NULL.

        A shared file (one not under a ``b=<bucket>`` dir) keeps only the
        rows of the buckets that list it in ``snap`` — of ``buckets``,
        when given. It also holds rows of buckets that do not list it:
        other buckets' rows, or rows a fold or compaction has since
        superseded (and whose tombstones it may have dropped). Files are
        scanned in groups of the same listing buckets, one filter each."""
        schema = _with_bookkeeping(snap.schema)
        listed = snap.listing_buckets(buckets)
        groups: dict[tuple[int, ...] | None, list[str]] = {}
        for f in files:
            if os.path.basename(os.path.dirname(f)).startswith("b="):
                groups.setdefault(None, []).append(f)
            elif listed.get(f):
                groups.setdefault(tuple(sorted(listed[f])), []).append(f)
        if not groups:
            return spark.createDataFrame([], schema)
        bucket = self.bucket_sql(snapshot=snap)
        out = None
        for only, fl in groups.items():
            df = spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in fl]
            )
            if only is not None:
                df = df.filter(f"{bucket} IN ({', '.join(map(str, only))})")
            out = df if out is None else out.unionByName(df)
        return out

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        include_bookkeeping: bool = False,
        include_deleted: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot; prune to ``buckets`` when given.

        Old files missing newly-added columns read as NULL (parquet scan
        with an explicit, evolved schema) — additive evolution without a
        rewrite, same effect as Iceberg schema merge.

        MERGE-ON-READ: when the selected buckets carry delta files
        (appended by MOR commits), the scan unions base + deltas and
        keeps the last writer per key by the same total order the COW
        merge uses — ``(SEQ_TS, SEQ_LSN, SEQ_PART) desc``, base winning
        exact ties (a replayed event folded into the base and still
        present as a delta is a no-op). A pure-COW snapshot (no deltas)
        adds NO merge window: the plan is the plain pruned scan. A shared
        file is scanned only for the buckets that list it (see
        :meth:`scan`).
        """
        snap = self.snapshot(version)
        base_files = snap.base_files(buckets)
        delta_files = snap.delta_files(buckets)
        if not delta_files:
            df = self.scan(spark, snap, base_files, buckets)
        else:
            keys = ", ".join(ident(k) for k in snap.key_cols or [snap.bucket_key])
            unioned = (
                self.scan(spark, snap, base_files, buckets)
                .selectExpr("*", "0 AS _is_delta")
                .unionByName(
                    self.scan(spark, snap, delta_files, buckets)
                    .selectExpr("*", "1 AS _is_delta")
                )
            )
            df = (
                unioned.selectExpr("*", f"row_number() OVER (PARTITION BY {keys} "
                                   f"ORDER BY {SEQ_DESC}, _is_delta) AS _rn")
                .filter("_rn = 1")
                .drop("_rn", "_is_delta")
            )
        if not include_deleted:
            df = df.filter(f"NOT coalesce({ident(DELETED)}, false)")
        if not include_bookkeeping:
            df = df.drop(*BOOKKEEPING_COLS)
        return df

    # -------------------------------------------------------------- commit

    def evolved_schema(
        self, incoming_payload: StructType,
        snapshot: "Snapshot | None" = None,
    ) -> StructType:
        """Current schema + any new payload fields appended (nullable).

        Additive-only: type changes / drops are rejected, mirroring the
        reference's create-only DDL path (``DdlImportWorker.java:188-210``
        tolerates "already exists" but never alters types). Pass
        ``snapshot`` to pin an already-read snapshot (same contract as
        :meth:`bucket_sql`): the merge compares field names against the
        snapshot it staged under, so evolving against a concurrently
        flipped pointer would check one schema and commit another.
        """
        cur = (snapshot or self.snapshot()).schema
        cur_types = {f.name: f.dataType for f in cur.fields}
        out = list(cur.fields)
        for f in incoming_payload.fields:
            if f.name in cur_types:
                # enforce, don't just document: a same-name column with a
                # DIFFERENT type must fail here, before anything commits —
                # silently accepting it writes files whose physical type
                # contradicts the manifest schema and the table becomes
                # unreadable later (at scan time in COW, at merge-on-read
                # time in MOR), long after the bad batch "succeeded"
                if f.dataType != cur_types[f.name]:
                    raise ValueError(
                        f"schema evolution is additive-only: column "
                        f"{f.name!r} arrives as {f.dataType.simpleString()} "
                        f"but the table has "
                        f"{cur_types[f.name].simpleString()}"
                    )
                continue
            out.append(StructField(f.name, f.dataType, nullable=True))
        return StructType(out)

    def staging_dir(self, next_version: int) -> str:
        """A UNIQUE staging directory per write attempt.

        The version prefix keeps dirs humanly attributable, but the
        random suffix is load-bearing: two writers racing toward the
        same next version (merge vs compact, or a writer after a
        rollback re-using version numbers) must never share a staging
        path — an ``overwrite`` into a shared ``data/v<next>`` would
        physically delete the OTHER writer's already-committed files
        before the commit-time ``expected_version`` guard could reject
        the manifest. Losers of the commit race leave orphan dirs;
        ``maintenance.vacuum`` removes them (manifests reference files
        by path, so unique dir names are invisible to readers)."""
        return os.path.join(
            self.path, DATA_DIR,
            f"v{next_version:08d}-{uuid.uuid4().hex[:8]}",
        )

    def staged_files(
        self, staging: str, buckets: list[int], runs: dict[int, int] | None = None,
    ) -> dict[int, list[str]]:
        """Data files a writer staged under ``staging``, per bucket, as
        paths relative to the table root: a ``b=<bucket>`` partition
        dir's files under its bucket, the files of a ``p=<first>`` dir (a
        compaction's run of small buckets) under every bucket ``b`` with
        ``runs[b] == first``, and the shared files directly under
        ``staging`` under every bucket of ``buckets``. Every bucket of
        ``buckets`` is present; one the write left no rows in maps to
        ``[]``."""
        def parquet(d: str) -> list[str]:
            return sorted(os.path.join(rel, d, fn)
                          for fn in os.listdir(os.path.join(staging, d))
                          if fn.endswith(".parquet"))

        rel = os.path.relpath(staging, self.path)
        shared = parquet("") if os.path.isdir(staging) else []
        staged: dict[int, list[str]] = {b: list(shared) for b in buckets}
        if os.path.isdir(staging):
            for d in os.listdir(staging):
                if d.startswith("b="):
                    staged[int(d.split("=", 1)[1])] = parquet(d)
                elif d.startswith("p="):
                    first = int(d.split("=", 1)[1])
                    for b, f in (runs or {}).items():
                        if f == first:
                            staged[b] = parquet(d)
        return staged

    def commit(
        self,
        replaced_buckets: dict[int, list[str]],
        offsets_updates: dict[int, int],
        schema: StructType | None = None,
        properties: dict[str, str] | None = None,
        expected_version: int | None = None,
        appended_deltas: dict[int, list[str]] | None = None,
    ) -> Snapshot:
        """Commit a new snapshot: swap in new file lists for the replaced
        buckets, carry every other bucket over, advance offsets, flip the
        pointer atomically. Offsets move monotonically (max with current),
        so re-applying an already-committed batch is a no-op.

        ``appended_deltas`` ADDS merge-on-read delta files to buckets
        (write cost ∝ batch, not bucket). REPLACING a bucket clears its
        deltas: a COW rewrite / compaction reads base+deltas merged, so
        the new base supersedes them.

        Concurrency: the read-check-write below runs under an exclusive
        ``flock`` on ``meta/commit.lock``, so two same-host writers (a
        merge racing a maintenance compact) serialize and the loser gets
        the ``expected_version`` rejection — without the lock both could
        pass the check, write the same ``v{N+1}.json`` (the second
        clobbering the first), and silently LOSE the first commit's
        files+offsets. The lock is kernel-released on process death (no
        stale-lock recovery needed) and guards only the tiny
        read→validate→write window, never Spark jobs. Cross-HOST writers
        on a shared filesystem are out of scope for this sandbox lake
        layer (a real deployment's catalog provides that CAS)."""
        import fcntl

        with open(self._meta_path("commit.lock"), "w") as _lk:
            fcntl.flock(_lk, fcntl.LOCK_EX)
            return self._commit_locked(
                replaced_buckets, offsets_updates, schema, properties,
                expected_version, appended_deltas,
            )

    def _commit_locked(
        self,
        replaced_buckets: dict[int, list[str]],
        offsets_updates: dict[int, int],
        schema: StructType | None,
        properties: dict[str, str] | None,
        expected_version: int | None,
        appended_deltas: dict[int, list[str]] | None,
    ) -> Snapshot:
        cur = self.snapshot()
        if expected_version is not None and cur.version != expected_version:
            raise RuntimeError(
                f"concurrent commit detected: expected v{expected_version}, "
                f"found v{cur.version}"
            )
        files = dict(cur.files)
        deltas = {k: list(v) for k, v in cur.deltas.items()}
        for b, fl in replaced_buckets.items():
            files[str(b)] = fl
            deltas.pop(str(b), None)  # folded into the new base
        for b, fl in (appended_deltas or {}).items():
            if str(b) in replaced_buckets or b in replaced_buckets:
                raise ValueError(f"bucket {b} both replaced and delta-appended")
            deltas.setdefault(str(b), []).extend(fl)
        offsets = {k: int(v) for k, v in cur.offsets.items()}
        for p, lsn in offsets_updates.items():
            k = str(p)
            offsets[k] = max(int(lsn), offsets.get(k, LSN_FLOOR))
        snap = Snapshot(
            version=cur.version + 1,
            schema_json=json.dumps((schema or cur.schema).jsonValue()),
            bucket_key=cur.bucket_key,
            bucket_count=cur.bucket_count,
            files=files,
            offsets=offsets,
            parent=cur.version,
            committed_at=time.time(),
            properties=properties or {},
            deltas={k: v for k, v in deltas.items() if v},
            key_cols=cur.key_cols,
        )
        self._write_snapshot(snap)
        self._flip_pointer(snap.version)
        return snap

    def rollback(self, version: int) -> Snapshot:
        """Restore the table to an earlier snapshot (Iceberg
        ``rollback_to_snapshot`` parity; reference analog: the TPC-H
        rollback generators that invert a refresh round,
        ``worker/tpch/generator/*Rollback*``). Offsets regress with the
        snapshot, so a subsequent run re-applies the rolled-back events
        idempotently — rollback + replay converges.

        Descendant manifests (versions ABOVE the rollback target) are
        retired to ``v*.json.abandoned-*``: leaving them in place would
        expose a forked history — ``snapshots()`` would still list the
        undone versions, time travel would serve their state as valid,
        ``expire_snapshots`` would never reap them (it only looks below
        current), and the next commits would silently overwrite them in
        place under a concurrent reader. Their data files become
        unreferenced and ``maintenance.vacuum`` reclaims them; the
        renamed manifests stay on disk for forensics."""
        import fcntl

        with open(self._meta_path("commit.lock"), "w") as _lk:
            fcntl.flock(_lk, fcntl.LOCK_EX)
            if version not in self.snapshots():
                raise ValueError(f"unknown snapshot v{version}")
            # flip FIRST (the pointer is the transaction), then retire:
            # a crash in between leaves abandoned-but-named descendants,
            # which the next rollback/commit cycle can retire again
            self._flip_pointer(version)
            for v in self.snapshots():
                if v > version:
                    p = self._meta_path(f"v{v:08d}.json")
                    os.replace(p, f"{p}.abandoned-{uuid.uuid4().hex[:8]}")
            return self.snapshot(version)

    def incremental_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Rows changed between two snapshots — the table AS a changelog
        source (CDC read side; Iceberg incremental read parity).

        Scans ONLY data files added after ``from_version`` (file-level
        diff per bucket) and filters to sequence numbers above the old
        snapshot's offsets, so cost ∝ change volume, not table size.
        Returns current-schema rows plus ``_change_type``
        ('upsert' | 'delete').

        NET change per key: when the range spans several commits that
        touched the same key (two COW rewrites of its bucket, or an
        upsert delta then a delete delta in MOR), the new files carry
        several generations of that key — only the LAST writer by the
        merge total order ``(ts, lsn, partition) desc`` is emitted.
        Without this a consumer that folds the rows in arbitrary order
        (the sequencing columns are dropped from the output) could
        resurrect a deleted key or regress an update. The dedup window
        shuffles change volume only, never the table."""
        old = self.snapshot(from_version)
        new = self.snapshot(to_version)
        old_files = set(old.all_files())
        new_files = [f for f in new.all_files() if f not in old_files]
        committed = committed_lsn(
            {int(k): int(v) for k, v in old.offsets.items()}, SEQ_PART
        )
        keys = ", ".join(ident(k) for k in new.key_cols or [new.bucket_key])
        return (
            self.scan(spark, new, new_files)
            .filter(f"{ident(SEQ_LSN)} > {committed}")
            .selectExpr("*", f"row_number() OVER (PARTITION BY {keys} "
                        f"ORDER BY {SEQ_DESC}) AS _rn")
            .filter("_rn = 1")
            .drop("_rn")
            .selectExpr("*", f"CASE WHEN coalesce({ident(DELETED)}, false) "
                        "THEN 'delete' ELSE 'upsert' END AS _change_type")
            .drop(*BOOKKEEPING_COLS)
        )

    # ------------------------------------------------------------- lineage

    def lineage_dir(self) -> str:
        return os.path.join(self.path, LINEAGE_DIR)

    LINEAGE_SCHEMA = (
        "batch_id long, source_partition int, offsets_applied long, "
        "rows_merged long, conflicts_resolved long, events_per_sec double, "
        "wall_ms long"
    )

    def append_lineage(self, spark: SparkSession, rows: list[dict]) -> None:
        """Append per-microbatch, per-source-partition metrics.

        Schema (FIXTURES.md §4): batch_id, source_partition,
        offsets_applied, rows_merged, conflicts_resolved, events_per_sec,
        wall_ms. Reference analog: CountStat/SqlStat/MonitorThread
        (SURVEY.md §2.5 A1-A6).

        Emitted as a driver-side JSONL append — metrics are tiny
        (#partitions rows per batch) and must not cost a Spark job per
        microbatch (the reference's monitor is likewise a side thread,
        ``thread/MonitorThread.java:35-114``)."""
        if not rows:
            return
        os.makedirs(self.lineage_dir(), exist_ok=True)
        with open(
            os.path.join(self.lineage_dir(), "lineage.jsonl"), "a", encoding="utf-8"
        ) as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        return (
            spark.read.schema(self.LINEAGE_SCHEMA)
            .option("mode", "DROPMALFORMED")
            .json(os.path.join(self.lineage_dir(), "lineage.jsonl"))
        )
