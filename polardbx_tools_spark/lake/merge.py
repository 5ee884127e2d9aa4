"""Copy-on-write MERGE INTO for :class:`LakeTable` — the engine's core.

Semantics (SURVEY.md §2.2 K1/K3/K4/K6 collapsed into one relational op):

* ``op='I'|'U'`` → full-row upsert keyed by ``(conv_id, turn_idx)`` —
  reference REPLACE INTO (``worker/update/ReplaceConsumer.java:28-52``) /
  INSERT IGNORE (``worker/util/ImportUtil.java:31-69``);
* ``op='D'``     → delete by key — reference DELETE-by-PK
  (``worker/delete/DeleteInConsumer.java:29-62``); persisted as a
  *tombstone* so a late insert with an older ``(ts, lsn)`` cannot
  resurrect the row across microbatches (SURVEY.md §7 "hard parts");
* within a batch, last-writer-wins per key by
  ``(ts, source_lsn, source_partition)`` descending — window
  ``row_number`` (north_star dedup rule);
* across batches, the same total order is enforced by the merge
  condition ``source_seq > target_seq``;
* re-applying an already-applied event compares equal, loses, and is a
  no-op → the merge is **idempotent**, which is what makes checkpoint
  replay exactly-once (reference couples resume to INSERT IGNORE for the
  same reason: ``cmd/FlagOption.java:47-48``).

Scale posture: ONE shuffle per microbatch — union(source, target rows of
the affected buckets) is hash-partitioned by ``(bucket, salt(key))`` and
sorted by ``(key, seq desc)``; the first row of each key run is the
merged row, and the same sort clusters the write (no second payload
shuffle, key-sorted files out). Bucket pruning keeps reads proportional
to touched data; the deterministic per-key salt spreads a hot
conversation across its turns (north_rule explicit-skew handling); AQE
stays on as the backstop. No driver-side data movement: only tiny
aggregates (per-source-partition counts/max-LSN, ≤ #partitions rows plus
Observation metrics) are collected.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from polardbx_tools_spark.lake.table import (
    BOOKKEEPING_COLS,
    DELETED,
    LSN_FLOOR,
    SEQ_LSN,
    SEQ_PART,
    SEQ_TS,
    LakeTable,
)

KEY_COLS = ("conv_id", "turn_idx")
OP_COL = "op"
TS_COL = "ts"
LSN_COL = "source_lsn"
PART_COL = "source_partition"
CDC_META_COLS = (OP_COL, LSN_COL, PART_COL)


@dataclass
class MergeStats:
    batch_events: int = 0
    invalid_events: int = 0
    rows_written: int = 0
    upserts: int = 0
    deletes: int = 0
    # events that lost last-writer-wins (dup/late): within the batch, and
    # against the table's rows in the buckets the merge rewrote (every
    # touched bucket in COW, the delta-pressure folded ones in MOR)
    conflicts_resolved: int = 0
    affected_buckets: list[int] = field(default_factory=list)
    min_ts: object = None  # event-time bounds of the batch (rate-factor replay)
    max_ts: object = None
    wall_ms: int = 0
    committed_version: int | None = None
    # source_partition -> {"events": n, "winners": n, "conflicts": n, "max_lsn": n}
    per_partition: dict[int, dict[str, int]] = field(default_factory=dict)


def dedup_last_writer(
    source: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    ts_col: str = TS_COL,
    lsn_col: str = LSN_COL,
    part_col: str = PART_COL,
) -> DataFrame:
    """One net change per key: last writer by (ts, lsn, partition) desc.

    north_star: "deduplicated per key by (ts, LSN) via window row_number".
    Window partitions by the *full* key (conv_id, turn_idx) — fine-grained,
    so hot conversations do not create a hot window partition.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(ts_col).desc(), F.col(lsn_col).desc(), F.col(part_col).desc()
    )
    return (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _align_source_payload(source: DataFrame, schema) -> DataFrame:
    """Add any table-schema payload columns the batch lacks (as NULL).

    Full-row REPLACE semantics (reference K3): an update event missing a
    payload column sets it to NULL. Pre-evolution batches merged into an
    evolved table therefore write NULL ``tool`` — same as the reference
    replaying old statements against an ALTERed table.
    """
    have = set(source.columns)
    out = source
    for f in schema.fields:
        if f.name not in have and f.name not in BOOKKEEPING_COLS:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    batch_id: int = 0,
    key_cols: tuple[str, ...] = KEY_COLS,
    expected_version: int | None = None,
    invalid_cond: F.Column | None = None,
    mode: str = "cow",
    extra_offsets: dict[int, int] | None = None,
    compact_deltas_over: int | None = None,
) -> MergeStats:
    """Apply one changelog microbatch to the table, committing new data
    files + advanced offsets in a single atomic snapshot.

    ``batch`` columns: op, <key cols>, <payload cols...>, ts, source_lsn,
    source_partition. Payload columns not yet in the table schema trigger
    additive evolution (committed with the same snapshot).

    ``mode``:

    * ``"cow"`` (copy-on-write) — union the batch with the CURRENT rows
      of the touched buckets and rewrite those buckets: write cost ∝
      touched-bucket size, read cost zero extra. Right for read-heavy
      tables and batch sizes comparable to bucket sizes.
    * ``"mor"`` (merge-on-read) — dedup the batch per key and APPEND it
      as per-bucket delta files (upserts + tombstones, same bookkeeping
      columns): write cost ∝ BATCH size — a hot-bucket workload no
      longer rewrites the whole bucket every microbatch (the reference's
      point-write sinks, ``worker/update/ReplaceConsumer.java:28-52``,
      ``worker/delete/DeleteInConsumer.java:29-62``, touch only affected
      rows for the same reason). Reads merge base+deltas by the SAME
      total order (see ``LakeTable.read``); compaction folds deltas back
      into the base. Cross-batch conflicts resolve at read time, so
      ``conflicts_resolved`` here counts only within-batch losers of the
      buckets it does not fold (below).

    ``compact_deltas_over=K`` (MOR only) is the delta-pressure bound: a
    touched bucket already holding K delta files is FOLDED — its
    current rows join the union and the bucket is rewritten as in COW —
    and every other touched bucket gets ONE delta file, all in the
    commit that advances the offsets. So no committed snapshot holds
    more than K delta files in any bucket. Visible differences from a
    separate compaction: no ``op=compact`` snapshot is written; a
    bucket folds the next time a batch touches it (an untouched bucket
    gains no deltas, so the bound still holds); a fold writes
    ``salt_n`` files per bucket, the layout a COW merge of the batch
    writes; ``conflicts_resolved`` also counts the folded buckets'
    cross-batch losers, as COW does. A falsy K (None or 0) never folds
    and leaves the appends salted.

    Both modes share one physical shape: shuffle ONCE by
    ``(bucket, salt(key))``, sort by ``(key, seq desc)``, first row of
    each key run wins, the same sort clusters the write. The only
    difference is which buckets' target rows join the union (all touched
    ones in COW, the folded ones in MOR) and whether the commit replaces
    their file lists or appends to their deltas.

    ``extra_offsets`` (source_partition -> lsn) are max-merged into the
    committed offsets — the multi-table router passes the GLOBAL mixed-
    batch offsets here so every routed table records the full consumed
    window even for partitions whose events all went to other tables
    (see :mod:`polardbx_tools_spark.lake.multi`).
    """
    t0 = time.time()
    stats = MergeStats()
    snap = table.snapshot()
    if expected_version is None:
        expected_version = snap.version

    # -- 1. per-source-partition batch facts + affected buckets, ONE pass
    # (tiny collect: ≤ #source-partitions rows, each with ≤ bucket_count
    # bucket ids — the only data that ever reaches the driver)
    bucket = table.bucket_expr(snapshot=snap)
    valid = ~invalid_cond if invalid_cond is not None else F.lit(True)
    part_rows = (
        batch.withColumn("_b", F.when(valid, bucket))
        .groupBy(PART_COL)
        .agg(
            F.sum(valid.cast("long")).alias("events"),
            F.sum((~valid).cast("long")).alias("invalid"),
            # offsets advance over quarantined events too: a skipped bad
            # line is consumed (ref -maxError skip semantics)
            F.max(LSN_COL).alias("max_lsn"),
            # event-time bounds ride the same pass (rate-factor replay
            # pacing + monitor delay gauge; ref MonitorThread.java:92-95).
            # VALID rows only: a quarantined event's corrupt timestamp
            # must not hijack pacing (one year-3000 ts would make a
            # rate-factor run sleep forever on a row that was
            # consumed-and-skipped)
            F.min(F.when(valid, F.col(TS_COL))).alias("min_ts"),
            F.max(F.when(valid, F.col(TS_COL))).alias("max_ts"),
            F.collect_set("_b").alias("buckets"),  # nulls (invalid) excluded
        )
        .collect()
    )
    ts_los = [r["min_ts"] for r in part_rows if r["min_ts"] is not None]
    ts_his = [r["max_ts"] for r in part_rows if r["max_ts"] is not None]
    stats.min_ts = min(ts_los) if ts_los else None
    stats.max_ts = max(ts_his) if ts_his else None
    stats.batch_events = sum(int(r["events"] or 0) for r in part_rows)
    stats.invalid_events = sum(int(r["invalid"] or 0) for r in part_rows)
    # max_lsn is None only when EVERY event of that source partition has a
    # NULL LSN — those rows are all invalid (quarantine flags null LSNs),
    # there is no offset to advance to, so the partition is skipped rather
    # than crashing on int(None).
    stats.per_partition = {
        int(r[PART_COL]): {"events": int(r["events"] or 0),
                           "max_lsn": int(r["max_lsn"]),
                           "winners": 0, "conflicts": 0}
        for r in part_rows
        if r[PART_COL] is not None and r["max_lsn"] is not None
    }
    # offsets advance for EVERY partition with a known max_lsn — including
    # partitions whose events were all quarantined (invariant: quarantined
    # events are consumed; filtering to v["events"] here would re-read and
    # re-quarantine them on every resume) — and over partitions whose
    # events all routed to OTHER tables (extra_offsets)
    offsets_updates = {p: v["max_lsn"] for p, v in stats.per_partition.items()}
    for p, lsn in (extra_offsets or {}).items():
        offsets_updates[p] = max(int(lsn), offsets_updates.get(p, LSN_FLOOR))
    if stats.batch_events == 0:
        if offsets_updates:
            committed = table.commit(
                replaced_buckets={},
                offsets_updates=offsets_updates,
                expected_version=expected_version,
            )
            stats.committed_version = committed.version
        stats.wall_ms = int((time.time() - t0) * 1000)
        return stats
    if invalid_cond is not None:
        batch = batch.filter(valid)
    affected = sorted({b for r in part_rows for b in r["buckets"]})
    stats.affected_buckets = affected

    # -- 2. additive schema evolution (Iceberg-style ADD COLUMN)
    payload_schema = batch.drop(*CDC_META_COLS).schema
    new_schema = table.evolved_schema(payload_schema, snapshot=snap)
    evolved = new_schema.fieldNames() != snap.schema.fieldNames()
    schema = new_schema if evolved else snap.schema
    payload_cols = [f.name for f in schema.fields if f.name not in BOOKKEEPING_COLS]

    # -- 3/4/5. SINGLE-SHUFFLE MERGE: union(source events, target rows of
    # the affected buckets), shuffle ONCE by (bucket, salt(key)) and sort
    # within each partition by (key, seq desc). The first row of each key
    # run is the merged row — last-writer-wins across source-vs-target,
    # source-vs-source (within-batch duplicates) and target survivorship
    # in one total order. The same sort gives write clustering: data is
    # already partitioned by bucket when it hits the writer, so no second
    # payload shuffle and files come out key-sorted per bucket.
    #
    # Salt is deterministic per key — all copies of a key land in the
    # same partition (correctness) while a hot conversation spreads over
    # its turns (skew, north_rule). On an exact (ts,lsn,part) tie — an
    # already-applied event replayed after a crash — the TARGET copy
    # sorts first (_is_src asc), so replays are observable no-ops: the
    # idempotence the reference gets from INSERT IGNORE
    # (``cmd/FlagOption.java:47-48``).
    from pyspark.sql.window import Window

    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r}")
    if mode == "mor" and list(snap.key_cols or []) != list(key_cols):
        # the read-side merge dedups by the manifest's key_cols; a table
        # created without the full key would silently collapse rows that
        # differ in the missing key columns — fail loudly instead
        raise ValueError(
            f"mor merge needs the table manifest to carry the full row key "
            f"{list(key_cols)} (found {snap.key_cols}); create the table "
            f"with LakeTable.create(..., key_cols=...)"
        )
    src = _align_source_payload(batch, schema).select(
        *[F.col(c) for c in payload_cols],
        F.col(TS_COL).alias(SEQ_TS),
        F.col(LSN_COL).alias(SEQ_LSN),
        F.col(PART_COL).alias(SEQ_PART),
        (F.col(OP_COL) == F.lit("D")).alias(DELETED),
        F.lit(1).alias("_is_src"),
    )
    # adaptive salt: enough sub-splits per bucket to keep every core busy
    # without exploding the file count (files/batch ≈ shuffle partitions)
    cores = spark.sparkContext.defaultParallelism
    salt_n = max(1, (2 * cores) // max(1, len(affected)))
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(salt_n))
    folded = affected if mode == "cow" else []
    if mode == "mor" and compact_deltas_over:
        # fold the buckets already holding K deltas; every other bucket
        # gets ONE unsalted delta file, so it stays within K
        folded = [b for b in affected
                  if len(snap.deltas.get(str(b), [])) >= compact_deltas_over]
        salt = F.when(F.col("b").isin(*folded), salt).otherwise(F.lit(0))
    if folded:
        tgt = table.read(
            spark, buckets=folded, include_bookkeeping=True, include_deleted=True
        )
        for f in schema.fields:  # evolved columns read as NULL from old files
            if f.name not in tgt.columns:
                tgt = tgt.withColumn(f.name, F.lit(None).cast(f.dataType))
        tgt = tgt.select(
            *[F.col(c) for c in payload_cols],
            F.col(SEQ_TS),
            F.col(SEQ_LSN),
            F.col(SEQ_PART),
            F.coalesce(F.col(DELETED), F.lit(False)).alias(DELETED),
            F.lit(0).alias("_is_src"),
        )
        src = src.unionByName(tgt)
    # an unfolded MOR bucket's target never joins the union — within-batch
    # dedup only, its delta files resolve against the base at read time
    unioned = src.withColumn("b", bucket).withColumn("_salt", salt)
    w = Window.partitionBy(F.col("b"), F.col("_salt")).orderBy(
        *[F.col(k) for k in key_cols],
        F.col(SEQ_TS).desc(),
        F.col(SEQ_LSN).desc(),
        F.col(SEQ_PART).desc(),
        F.col("_is_src").asc(),
    )
    # first-row detection must be its own marker (lag of a constant):
    # inferring it from prev_key NULLness conflates "first row of the
    # partition" with "previous row's key value was NULL". Key
    # comparisons are NULL-SAFE: with plain `!=`, a NULL-keyed row after
    # a non-NULL key makes the whole OR-chain NULL → rank 2 → the row
    # silently vanishes from the write; two consecutive NULL-keyed rows
    # would BOTH rank 1 and both be written. (CdcPipeline quarantines
    # NULL keys before this point, but merge_into is exported API.)
    first_row = F.lag(F.lit(1)).over(w).isNull()
    prev_key = [F.lag(F.col(k)).over(w) for k in key_cols]
    key_change = first_row
    for k, pk in zip(key_cols, prev_key):
        key_change = key_change | ~pk.eqNullSafe(F.col(k))
    ranked = unioned.withColumn(
        "_rn", F.when(key_change, F.lit(1)).otherwise(F.lit(2))
    )

    # -- 6/7. salted rewrite + metrics in the SAME job: outcome counters
    # ride the write as Observation metrics (no persist, no second pass).
    # Conflicts are not observed: every valid source event either wins
    # (_rn=1) or loses (_rn=2) the merge window, so conflicts ==
    # events - winners, globally and per source partition (events come
    # from the stats pass above).
    # Observed metrics are evaluated per row OUTSIDE whole-stage codegen
    # (CollectMetrics aggregates), so each expression's depth is paid
    # interpreted at full row rate: precompute ONE codegen'd column
    # `_swp` (= source partition of a winning source row, else NULL) and
    # reduce every metric to a single comparison against it.
    parts = sorted(stats.per_partition)
    staging = table.staging_dir(snap.version + 1)
    out_cols = payload_cols + list(BOOKKEEPING_COLS)
    is_win = F.col("_rn") == 1

    def one(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    ranked = ranked.withColumn(
        "_swp", F.when(is_win & (F.col("_is_src") == 1), F.col(SEQ_PART))
    )
    src_win = F.col("_swp").isNotNull()
    obs = Observation()
    ranked = ranked.observe(
        obs,
        one(src_win & ~F.col(DELETED)).alias("upserts"),
        one(src_win & F.col(DELETED)).alias("deletes"),
        one(is_win).alias("rows_written_total"),
        *[one(F.col("_swp") == p).alias(f"w{p}") for p in parts],
    )

    # no second shuffle: rows are already partitioned by (b, salt) and
    # key-sorted from the merge window — the writer fans out to the few
    # bucket dirs present in each partition, emitting key-sorted files
    writable = ranked.filter(is_win).select(*out_cols, "b")
    writable.write.partitionBy("b").mode("overwrite").parquet(staging)
    m = obs.get
    stats.upserts = int(m["upserts"])
    stats.deletes = int(m["deletes"])
    stats.rows_written = int(m["rows_written_total"])
    stats.conflicts_resolved = stats.batch_events - stats.upserts - stats.deletes
    for p in parts:
        v = stats.per_partition[p]
        v["winners"] = int(m[f"w{p}"])
        v["conflicts"] = v["events"] - v["winners"]

    # -- 8. commit the staged file lists and the offsets atomically
    staged = table.staged_files(staging, affected)
    committed = table.commit(
        replaced_buckets={b: staged[b] for b in folded},
        appended_deltas={b: f for b, f in staged.items() if b not in folded},
        offsets_updates=offsets_updates,
        schema=schema if evolved else None,
        properties={"batch_id": str(batch_id), "mode": mode},
        expected_version=expected_version,
    )
    stats.committed_version = committed.version
    stats.wall_ms = int((time.time() - t0) * 1000)
    return stats
