"""Lake table maintenance: compaction, snapshot expiry, orphan vacuum.

Copy-on-write merges accumulate files (one set per touched bucket per
microbatch) and superseded versions keep their data dirs on disk. These
are the standard lake-housekeeping ops (Iceberg: rewrite_data_files /
expire_snapshots / remove_orphan_files) rebuilt for :class:`LakeTable`.

Reference analog: the reference rotates/limits export files
(``worker/export/DirectExportWorker.java:250-332``) and its ring-buffer
sizing bounds in-flight state; a lake loader's equivalent steady-state
concern is file-count growth, handled here.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from polardbx_tools_spark.lake.table import BOOKKEEPING_COLS, DELETED, LakeTable


def compact(
    spark: SparkSession,
    table: LakeTable,
    target_file_rows: int = 1_000_000,
    buckets: list[int] | None = None,
    drop_tombstones: bool = False,
) -> dict:
    """Rewrite the (selected) buckets' files into files of about
    ``target_file_rows`` rows, key-sorted: a bucket at least that big
    gets its own files, and adjacent smaller buckets share one, so
    compacting a table of small buckets or of shared delta files never
    writes one small file per bucket.

    Merge-on-read DELTA files fold into the new base here: the read
    below applies the key-level merge, and committing the rewrite as
    ``replaced_buckets`` clears the bucket's delta list — this is the
    MOR counterpart of Iceberg's rewrite_data_files compacting delete
    files away.

    ``drop_tombstones=True`` physically removes delete markers — only
    safe once no source can still deliver events older than the
    tombstones (the reference's analog: a finished replay). Committed as
    a normal atomic snapshot; readers never see a half-compacted table.
    """
    snap = table.snapshot()
    if buckets is None:
        todo = sorted({int(b) for b in snap.files} | {int(b) for b in snap.deltas})
    else:
        todo = sorted(buckets)
    # a bucket with ONLY merge-on-read deltas still needs compaction —
    # folding them into a base file is exactly this op's job
    todo = [b for b in todo
            if snap.files.get(str(b)) or snap.deltas.get(str(b))]
    if not todo:
        return {"buckets": 0, "files_before": 0, "files_after": 0}

    files_before = len(set(snap.base_files(todo) + snap.delta_files(todo)))
    # a shared file also holds other buckets' rows: read() keeps only
    # todo's, and the file stays listed under the other buckets
    df = table.read(
        spark, buckets=todo, include_bookkeeping=True, include_deleted=True
    )
    if drop_tombstones:
        df = df.filter(~F.coalesce(F.col(DELETED), F.lit(False)))

    bucket = F.expr(table.bucket_sql(snapshot=snap))
    next_version = snap.version + 1
    staging = table.staging_dir(next_version)
    n_rows = df.count()
    out_cols = [f.name for f in snap.schema.fields] + list(BOOKKEEPING_COLS)
    n_files = max(1, -(-n_rows // target_file_rows))
    runs = None
    if n_files < len(todo):
        # buckets smaller than a target-size file SHARE files: runs of
        # adjacent buckets of about target_file_rows rows, one file per
        # run under p=<its first bucket>, listed under each of its buckets
        first: dict[int, int] = {}
        runs = {b: first.setdefault(i * n_files // len(todo), b)
                for i, b in enumerate(todo)}
        run_of = F.create_map(*[F.lit(x) for b, f in runs.items() for x in (b, f)])
        (
            df.withColumn("b", bucket)
            .withColumn("p", run_of[F.col("b")])
            .repartition(F.col("p"))
            .sortWithinPartitions("b", snap.bucket_key)
            .select(*out_cols, "p")
            .write.partitionBy("p")
            .mode("overwrite")
            .parquet(staging)
        )
    else:
        per_bucket_files = n_rows // len(todo) // target_file_rows + 1
        salt = F.pmod(F.xxhash64(F.col(snap.bucket_key)), F.lit(per_bucket_files))
        (
            df.withColumn("b", bucket)
            .repartition(F.col("b"), salt)
            .sortWithinPartitions(snap.bucket_key)
            .select(*out_cols, "b")
            .write.partitionBy("b")
            .mode("overwrite")
            .parquet(staging)
        )

    replaced = table.staged_files(staging, todo, runs)
    # expected_version guards the MANIFEST against a merge committing
    # between compact's snapshot read and this commit (the compacted
    # file lists would silently revert the merge's buckets while its
    # offsets stayed advanced). The merge's DATA files are safe
    # regardless: staging dirs are unique per write attempt (see
    # LakeTable.staging_dir), so this overwrite can never touch another
    # writer's files. On conflict the caller just retries compaction.
    table.commit(replaced_buckets=replaced, offsets_updates={},
                 properties={"op": "compact"},
                 expected_version=snap.version)
    files_after = len({f for fl in replaced.values() for f in fl})
    return {"buckets": len(todo), "files_before": files_before,
            "files_after": files_after, "rows": n_rows}


def expire_snapshots(table: LakeTable, keep_last: int = 2) -> list[int]:
    """Drop old snapshot manifests (time travel horizon). Data files are
    NOT touched here — vacuum() reclaims unreferenced ones."""
    versions = table.snapshots()
    current = table.current_version()
    expire = [v for v in versions if v < current][:-max(0, keep_last - 1) or None]
    expire = [v for v in expire if v != current]
    for v in expire:
        os.remove(table._meta_path(f"v{v:08d}.json"))
    return expire


def vacuum(table: LakeTable, grace_seconds: float = 300.0) -> list[str]:
    """Delete data files referenced by NO remaining snapshot (orphans
    from crashed commits + files of expired versions).

    ``grace_seconds`` protects in-flight commits: files younger than the
    grace window are skipped even if unreferenced, because a concurrent
    merge stages its files under ``data/v<next>`` BEFORE the pointer flip
    (the same reason Iceberg's ``remove_orphan_files`` uses an age
    cutoff). Pass 0 only when no writer can be running."""
    import time as _time

    from polardbx_tools_spark.lake.table import DATA_DIR

    live: set[str] = set()
    for v in table.snapshots():
        live.update(table.snapshot(v).all_files())
    removed: list[str] = []
    cutoff = _time.time() - grace_seconds
    data_root = os.path.join(table.path, DATA_DIR)
    for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table.path)
            if rel not in live and fn.endswith(".parquet"):
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # possibly staged by an in-flight commit
                except OSError:
                    continue
                os.remove(full)
                removed.append(rel)
        # the grace window must protect DIRECTORIES too: a concurrent
        # merge creates its staging dir moments before the part files
        # land, and an age-blind rmtree of the empty dir would fail that
        # writer; data_root itself is never removed
        if dirpath != data_root and not os.listdir(dirpath):
            try:
                if os.path.getmtime(dirpath) <= cutoff:
                    shutil.rmtree(dirpath, ignore_errors=True)
            except OSError:
                pass
    return removed
