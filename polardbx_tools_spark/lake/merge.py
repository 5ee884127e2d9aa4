"""MERGE INTO for :class:`LakeTable` (copy-on-write and merge-on-read) —
the engine's core.

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
Observation metrics) are collected. A MOR fold unions the folded
buckets' raw base and delta rows into the same shuffle: the merge window
resolves them in the read-time merge's order, so the fold adds no merge
window of its own.

A merge-on-read merge of a small batch that the manifest shows will fold
no bucket joins no target rows, so it is ONE Spark job with no pre-pass
and no shuffle, writing one shared delta file (``_write_unfolded``).

Plan construction: on a small microbatch, building the plans on the
driver costs as much as running them, and each Column object is several
py4j round trips. So every stage is one ``selectExpr``, ``F.expr`` or
string ``filter`` of SQL text, every column name quoted by
:func:`~polardbx_tools_spark.lake.table.ident`: a merge makes a few
hundred round trips, not a few thousand.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from polardbx_tools_spark.lake.table import (
    BOOKKEEPING_COLS,
    DELETED,
    LSN_FLOOR,
    SEQ_DESC,
    SEQ_LSN,
    SEQ_PART,
    SEQ_TS,
    LakeTable,
    Snapshot,
    ident,
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


def _project(
    df: DataFrame, schema: StructType, have: set[str], extra: list[str]
) -> DataFrame:
    """One projection of ``df`` onto the table's payload columns plus the
    ``extra`` SQL texts.

    A payload column ``df`` lacks reads as NULL. Full-row REPLACE
    semantics (reference K3): an update event missing a payload column
    sets it to NULL, so pre-evolution batches merged into an evolved
    table write NULL ``tool`` — same as the reference replaying old
    statements against an ALTERed table; old files read the same way.
    """
    payload = [f for f in schema.fields if f.name not in BOOKKEEPING_COLS]
    out = df.selectExpr(*[ident(f.name) for f in payload if f.name in have], *extra)
    missing = [f for f in payload if f.name not in have]
    if missing:  # rare: only the batches and files that predate an evolution
        out = out.select(
            "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing]
        )
    return out


def _fact_sql(ts: str, bucket: str) -> list[str]:
    """SQL aggregates of the batch facts over rows carrying the validity
    flag ``_v`` (``ts``, ``bucket``: the event-time and bucket texts)."""
    return [
        "sum(CAST(_v AS BIGINT)) AS events",
        "sum(CAST(NOT _v AS BIGINT)) AS invalid",
        # event-time bounds (rate-factor replay pacing + monitor delay
        # gauge; ref MonitorThread.java:92-95). VALID rows only: a
        # quarantined event's corrupt timestamp must not hijack pacing
        # (one year-3000 ts would make a rate-factor run sleep forever on
        # a row that was consumed-and-skipped)
        f"min(CASE WHEN _v THEN {ts} END) AS min_ts",
        f"max(CASE WHEN _v THEN {ts} END) AS max_ts",
        # nulls (invalid) excluded
        f"collect_set(CASE WHEN _v THEN {bucket} END) AS buckets",
    ]


def _observe_outcome(ranked: DataFrame, parts: list[int]) -> tuple[DataFrame, Observation]:
    """The merge window's outcome counters as Observation metrics of the
    write: ``ranked`` carries ``_win`` (the row is written) and ``_swp``
    (the source partition of a winning source row, else NULL). Every
    valid source event either wins or loses the window, so conflicts ==
    events - winners, globally and per source partition of ``parts``.
    Observed metrics are evaluated per row OUTSIDE whole-stage codegen
    (CollectMetrics aggregates), so each expression's depth is paid
    interpreted at full row rate: every metric is a single comparison
    against the precomputed ``_swp``."""
    deleted = ident(DELETED)
    obs = Observation()
    return ranked.observe(obs, *[
        F.expr(f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}")
        for name, cond in [
            ("upserts", f"_swp IS NOT NULL AND NOT {deleted}"),
            ("deletes", f"_swp IS NOT NULL AND {deleted}"),
            ("rows_written_total", "_win"),
        ] + [(f"w{int(p)}", f"_swp = {int(p)}") for p in parts]
    ]), obs


def _read_outcome(m: dict, stats: MergeStats) -> None:
    """Fill ``stats``'s outcome counters from :func:`_observe_outcome`'s
    metrics ``m`` (NULL sums over an empty batch read 0); a source
    partition with no ``w<p>`` metric keeps the winners it already has."""
    stats.upserts = int(m["upserts"] or 0)
    stats.deletes = int(m["deletes"] or 0)
    stats.rows_written = int(m["rows_written_total"] or 0)
    stats.conflicts_resolved = stats.batch_events - stats.upserts - stats.deletes
    for p, v in stats.per_partition.items():
        v["winners"] = int(m.get(f"w{p}", v["winners"]) or 0)
        v["conflicts"] = v["events"] - v["winners"]


def _write_unfolded(
    rows: DataFrame,
    out_cols: list[str],
    key_cols: tuple[str, ...],
    ledger: list[int],
    staging: str,
    stats: MergeStats,
) -> None:
    """The narrow merge-on-read write of ``rows`` (the projected batch
    with its validity flag ``_v`` and bucket ``b``): ONE Spark job, with
    no pre-pass and no shuffle. ``coalesce(1)`` is a narrow dependency
    whose single partition already satisfies the dedup window's
    distribution, so the window sorts the batch by ``(b, key, seq
    desc)`` in place and keeps the last writer per key, and the one
    write task writes ONE shared delta file. Within-batch losers are
    dropped as in the shuffled plan: they are 23% of the rows of a
    3k-event microbatch of perfbench's ``tail_mor``, and writing them
    would add that share to the delta bytes and to every read-time
    merge. The cost is one task per batch, so only a batch known to be
    small takes this plan (:func:`_known_small`).

    The batch facts the other plan's pre-pass collects ride the write as
    a second Observation beside the outcome counters, per source partition of
    ``ledger``: valid events and the max LSN over all rows (offsets
    advance over quarantined events too). A source partition outside
    ``ledger`` costs one small extra pass, only in a table's first
    commits."""
    lsn, part = ident(SEQ_LSN), ident(SEQ_PART)
    keys = ", ".join(ident(k) for k in key_cols)
    # _v leads the window key, so an invalid row never beats a valid one
    ranked = rows.coalesce(1).selectExpr("*", (
        f"_v AND row_number() OVER (PARTITION BY _v, b, {keys} "
        f"ORDER BY {SEQ_DESC}) = 1 AS _win"
    )).selectExpr("*", f"CASE WHEN _win THEN {part} END AS _swp")
    facts = _fact_sql(ident(SEQ_TS), "b") + [f"collect_set({part}) AS parts"]
    for p in ledger:
        facts += [f"sum(CASE WHEN _v AND {part} = {int(p)} THEN 1 ELSE 0 END) AS e{int(p)}",
                  f"max(CASE WHEN {part} = {int(p)} THEN {lsn} END) AS l{int(p)}"]
    observed, outcome = _observe_outcome(ranked, ledger)
    obs = Observation()
    (
        observed.observe(obs, *[F.expr(e) for e in facts])
        .filter("_win")
        .selectExpr(*[ident(c) for c in out_cols])
        .write.mode("overwrite").parquet(staging)
    )
    m = obs.get
    stats.batch_events = int(m["events"] or 0)
    stats.invalid_events = int(m["invalid"] or 0)
    stats.min_ts, stats.max_ts = m["min_ts"], m["max_ts"]
    stats.affected_buckets = sorted(m["buckets"])
    stats.per_partition = {
        p: {"events": int(m[f"e{p}"] or 0), "max_lsn": int(m[f"l{p}"]), "winners": 0}
        for p in ledger if m[f"l{p}"] is not None
    }
    new = sorted(set(m["parts"]) - set(ledger))
    if new:
        for p, e, mx, w in ranked.filter(
            f"{part} IN ({', '.join(str(int(p)) for p in new)})"
        ).groupBy(SEQ_PART).agg(*[F.expr(x) for x in (
            "sum(CAST(_v AS BIGINT))", f"max({lsn})", "sum(CAST(_win AS BIGINT))"
        )]).collect():
            if mx is not None:
                stats.per_partition[int(p)] = {
                    "events": int(e or 0), "max_lsn": int(mx), "winners": int(w or 0)}
    _read_outcome(outcome.get, stats)


def _known_small(spark: SparkSession, df: DataFrame) -> bool:
    """Whether Spark's size estimate of ``df`` is at most
    ``spark.sql.files.openCostInBytes``: the bytes Spark reckons it
    scans in the time it takes to open one file, so a batch this small
    gains nothing from being split over tasks. A file-tail microbatch
    has a known size; a DataFrame of local rows has none and counts as
    big, and so does a window of a changelog bigger than this (the
    estimate does not see the window's filter)."""
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.openCostInBytes"))
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= limit


def _batch_facts(batch: DataFrame, bucket: str, stats: MergeStats) -> None:
    """The stats pre-pass of a merge that shuffles: per-source-partition
    batch facts and the affected buckets in ONE pass (tiny collect: ≤
    #source-partitions rows, each with ≤ bucket_count bucket ids — the
    only data that ever reaches the driver). ``batch`` carries the
    validity flag ``_v``."""
    part_rows = (
        batch.groupBy(PART_COL)
        .agg(*[F.expr(e) for e in _fact_sql(ident(TS_COL), bucket) + [
            # offsets advance over quarantined events too: a skipped bad
            # line is consumed (ref -maxError skip semantics)
            f"max({ident(LSN_COL)}) AS max_lsn",
        ]])
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
    stats.affected_buckets = sorted({b for r in part_rows for b in r["buckets"]})


def _rewrite(
    spark: SparkSession,
    table: LakeTable,
    snap: Snapshot,
    src: DataFrame,
    schema: StructType,
    out_cols: list[str],
    key_cols: tuple[str, ...],
    mode: str,
    compact_deltas_over: int | None,
    staging: str,
    stats: MergeStats,
) -> list[int]:
    """SINGLE-SHUFFLE MERGE of the valid source events ``src`` (projected,
    ``_is_src`` = 1): union them with the target rows of the buckets it
    folds, shuffle ONCE by (bucket, salt(key)) and sort within each
    partition by (key, seq desc). The first row of each key run is the
    merged row — last-writer-wins across source-vs-target,
    source-vs-source (within-batch duplicates) and target survivorship
    in one total order. The same sort gives write clustering: data is
    already partitioned by bucket when it hits the writer, so no second
    payload shuffle and files come out key-sorted per bucket. Writes
    ``b=<bucket>`` dirs under ``staging``, fills the outcome counters of
    ``stats`` and returns the folded buckets.

    Salt is deterministic per key — all copies of a key land in the
    same partition (correctness) while a hot conversation spreads over
    its turns (skew, north_rule). On an exact (ts,lsn,part) tie — an
    already-applied event replayed after a crash — the TARGET copy
    sorts first (_is_src asc), so replays are observable no-ops: the
    idempotence the reference gets from INSERT IGNORE
    (``cmd/FlagOption.java:47-48``)."""

    bucket = table.bucket_sql(snapshot=snap)
    affected = stats.affected_buckets
    # adaptive salt: enough sub-splits per bucket to keep every core busy
    # without exploding the file count (files/batch ≈ shuffle partitions)
    cores = spark.sparkContext.defaultParallelism
    salt_n = max(1, (2 * cores) // max(1, len(affected)))
    keys = ", ".join(ident(k) for k in key_cols)
    salt = f"pmod(xxhash64({keys}), {salt_n})"
    folded = affected if mode == "cow" else []
    if mode == "mor" and compact_deltas_over:
        # fold EVERY bucket already holding K delta commits, touched or
        # not, so the next merge can take the narrow plan again; every
        # other touched bucket gets ONE unsalted delta file, so it stays
        # within K
        folded = sorted(int(b) for b, n in snap.delta_commits().items()
                        if n >= compact_deltas_over)
        in_folded = ", ".join(str(b) for b in folded)
        salt = f"if({bucket} IN ({in_folded}), {salt}, 0)" if folded else "0L"
    # the folded buckets' raw base and delta rows join the union, and the
    # merge window resolves them as LakeTable.read's merge would: on an
    # exact tie base (-1) sorts before delta (0) before source (1). The
    # tie rank is why base and deltas are two scans. A shared file yields
    # only the folded buckets' rows (LakeTable.scan).
    for files, rank in ((snap.base_files(folded), -1), (snap.delta_files(folded), 0)):
        if files:
            src = src.unionByName(_project(
                table.scan(spark, snap, files, folded), schema,
                set(snap.schema.fieldNames()), [
                    ident(SEQ_TS),
                    ident(SEQ_LSN),
                    ident(SEQ_PART),
                    f"coalesce({ident(DELETED)}, false) AS {ident(DELETED)}",
                    f"{rank} AS _is_src",
                ]))
    # an unfolded MOR bucket's target never joins the union — within-batch
    # dedup only, its delta files resolve against the base at read time.
    # ONE window spec text for every lag, so the plan has one Window.
    w = f"OVER (PARTITION BY b, _salt ORDER BY {keys}, {SEQ_DESC}, _is_src)"
    # first-row detection must be its own marker (lag of a constant):
    # inferring it from prev_key NULLness conflates "first row of the
    # partition" with "previous row's key value was NULL". Key
    # comparisons are NULL-SAFE: with plain `!=`, a NULL-keyed row after
    # a non-NULL key makes the whole OR-chain NULL → the row silently
    # vanishes from the write; two consecutive NULL-keyed rows would
    # BOTH win and both be written. (CdcPipeline quarantines NULL keys
    # before this point, but merge_into is exported API.)
    key_change = " OR ".join(
        [f"lag(1) {w} IS NULL"]
        + [f"NOT (lag({ident(k)}) {w} <=> {ident(k)})" for k in key_cols]
    )
    ranked = (
        src.selectExpr("*", f"{bucket} AS b", f"{salt} AS _salt")
        .selectExpr("*", f"{key_change} AS _win")
    )

    # salted rewrite + metrics in the SAME job: outcome counters ride the
    # write as Observation metrics (no persist, no second pass)
    ranked, obs = _observe_outcome(ranked.selectExpr(
        "*", f"CASE WHEN _win AND _is_src = 1 THEN {ident(SEQ_PART)} END AS _swp"
    ), sorted(stats.per_partition))

    # no second shuffle: rows are already partitioned by (b, salt) and
    # key-sorted from the merge window — the writer fans out to the few
    # bucket dirs present in each partition, emitting key-sorted files
    writable = ranked.filter("_win").selectExpr(*[ident(c) for c in out_cols], "b")
    writable.write.partitionBy("b").mode("overwrite").parquet(staging)
    _read_outcome(obs.get, stats)
    return folded


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
    * ``"mor"`` (merge-on-read) — APPEND the batch as delta files
      (upserts + tombstones, same bookkeeping columns): write cost ∝
      BATCH size — a hot-bucket workload no longer rewrites the whole
      bucket every microbatch (the reference's point-write sinks,
      ``worker/update/ReplaceConsumer.java:28-52``,
      ``worker/delete/DeleteInConsumer.java:29-62``, touch only affected
      rows for the same reason). Reads merge base+deltas by the SAME
      total order (see ``LakeTable.read``); compaction folds deltas back
      into the base.

    ``compact_deltas_over=K`` (MOR only) is the delta-pressure bound,
    counted in delta COMMITS per bucket
    (:meth:`~polardbx_tools_spark.lake.table.Snapshot.delta_commits`):
    every bucket already holding K delta commits, touched by the batch
    or not, is FOLDED — its current rows join the union and the bucket
    is rewritten as in COW — and every other touched bucket gets ONE
    delta file, all in the commit that advances the offsets. So no
    committed snapshot holds more than K delta commits in any bucket,
    and the merge after a fold can take the narrow plan below again.
    Visible differences from a separate compaction: no ``op=compact``
    snapshot is written; a bucket folds in the next merge; a fold writes
    ``salt_n`` files per bucket, the layout a COW merge of the batch
    writes; ``conflicts_resolved`` also counts the folded buckets'
    cross-batch losers, as COW does.

    The manifest and the batch's size pick the plan. A MOR merge that
    folds no bucket (K falsy, or every bucket below K delta commits) of
    a batch known to be small (Spark's size estimate at most
    ``spark.sql.files.openCostInBytes``, as a file-tail microbatch is)
    is ONE narrow Spark job in one task, with no pre-pass and no
    shuffle, that writes ONE shared delta file, listed under every
    bucket it holds (see ``_write_unfolded``); :class:`MergeStats`
    means the same on both plans.

    Every other merge (COW, MOR while some bucket holds K delta
    commits, or MOR of a batch not known to be small) takes one stats
    pre-pass and shuffles ONCE by ``(bucket, salt(key))``, sorts by
    ``(key, seq desc)``, keeps the first row of each key run, and the
    same sort clusters the write. COW and MOR differ only in which
    buckets' target rows join the union (all touched ones in COW, the
    folded ones in MOR) and whether the commit replaces their file lists
    or appends to their deltas; within-batch losers of the unfolded MOR
    buckets count in ``conflicts_resolved``.

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
    bucket = table.bucket_sql(snapshot=snap)
    batch_fields = batch.schema.fields
    have = {f.name for f in batch_fields}
    valid = ~invalid_cond if invalid_cond is not None else F.lit(True)
    batch = batch.select("*", valid.alias("_v"))
    ts = ident(TS_COL)

    # -- additive schema evolution (Iceberg-style ADD COLUMN)
    payload_schema = StructType(
        [f for f in batch_fields if f.name not in CDC_META_COLS]
    )
    new_schema = table.evolved_schema(payload_schema, snapshot=snap)
    evolved = new_schema.fieldNames() != snap.schema.fieldNames()
    schema = new_schema if evolved else snap.schema
    out_cols = [f.name for f in schema.fields if f.name not in BOOKKEEPING_COLS]
    out_cols += list(BOOKKEEPING_COLS)
    seq = [
        f"{ts} AS {ident(SEQ_TS)}",
        f"{ident(LSN_COL)} AS {ident(SEQ_LSN)}",
        f"{ident(PART_COL)} AS {ident(SEQ_PART)}",
        f"{ident(OP_COL)} = 'D' AS {ident(DELETED)}",
    ]
    staging = table.staging_dir(snap.version + 1)
    K = compact_deltas_over
    narrow = (mode == "mor"
              and not (K and max(snap.delta_commits().values(), default=0) >= K)
              and _known_small(spark, batch))
    if narrow:
        ledger = sorted({int(p) for p in snap.offsets} | set(extra_offsets or {}))
        rows = _project(batch, schema, have, seq + ["_v", f"{bucket} AS b"])
        _write_unfolded(rows, out_cols, key_cols, ledger, staging, stats)
    else:
        _batch_facts(batch, bucket, stats)

    # offsets advance for EVERY partition with a known max_lsn — including
    # partitions whose events were all quarantined (invariant: quarantined
    # events are consumed; filtering to v["events"] here would re-read and
    # re-quarantine them on every resume) — and over partitions whose
    # events all routed to OTHER tables (extra_offsets)
    offsets_updates = {p: v["max_lsn"] for p, v in stats.per_partition.items()}
    for p, lsn in (extra_offsets or {}).items():
        offsets_updates[p] = max(int(lsn), offsets_updates.get(p, LSN_FLOOR))
    if stats.batch_events == 0:
        shutil.rmtree(staging, ignore_errors=True)  # lists no delta file
        if offsets_updates:
            committed = table.commit(
                replaced_buckets={},
                offsets_updates=offsets_updates,
                expected_version=expected_version,
            )
            stats.committed_version = committed.version
        stats.wall_ms = int((time.time() - t0) * 1000)
        return stats
    folded = [] if narrow else _rewrite(
        spark, table, snap, _project(batch.filter("_v"), schema, have, seq + ["1 AS _is_src"]),
        schema, out_cols, key_cols, mode, K, staging, stats,
    )
    staged = table.staged_files(staging, sorted({*stats.affected_buckets, *folded}))

    # -- commit the staged file lists and the offsets atomically
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
