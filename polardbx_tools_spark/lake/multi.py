"""Multi-table CDC apply: route ONE mixed changelog to N lake tables.

The reference moves several tables per run — batch-tool's ``-t t1,t2``
table list (``cmd/CommandUtil.java`` table-list handling) and frodo
events carrying their ``schema`` (``Frodo.java:299-305``) — while this
engine's changelog always had a routing column (P12 schema remap) but
merged everything into one table. This module closes that gap: one pass
over the mixed batch fans out to per-table ``merge_into`` calls.

Exactly-once across tables
--------------------------
Offsets live INSIDE each table's snapshot commit (the engine invariant),
but one mixed batch now produces N commits — a crash can land BETWEEN
table A's commit and table B's. The protocol makes that safe:

* every routed table commits the GLOBAL per-source-partition offsets of
  the mixed batch (``merge_into(extra_offsets=...)``), not just the
  offsets of its own slice — so a table that saw zero events for
  partition 3 still records partition 3 as consumed;
* the resume point is the PER-PARTITION MIN across all tables
  (:func:`resume_offsets`) — any table that missed the crash-split
  batch drags the window back over it;
* re-applying the window is a per-table no-op for tables that already
  committed it (the merge's total order makes replay idempotent).

Net effect: exactly-once end-to-end without a cross-table transaction —
the same shape Kafka-connect sinks use (per-sink offsets + idempotent
writes), and stronger than the reference, which replays through INSERT
IGNORE with no offset ledger at all.

Scale posture: routing is a filter per table over the same batch scan
(predicate pushdown prunes parquet row groups per table); the mixed
batch is cached once so N tables don't re-read the source N times; the
global-offset aggregate is one tiny groupBy (≤ #partitions rows). Each
per-table merge keeps the single-shuffle plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from polardbx_tools_spark.lake.merge import (
    KEY_COLS,
    LSN_COL,
    PART_COL,
    MergeStats,
    merge_into,
)
from polardbx_tools_spark.lake.table import LSN_FLOOR, LakeTable, committed_lsn, ident

SCHEMA_COL = "schema"


@dataclass
class MultiApplyStats:
    per_table: dict[str, MergeStats] = field(default_factory=dict)
    unknown_events: int = 0
    global_offsets: dict[int, int] = field(default_factory=dict)


def resume_offsets(tables: dict[str, LakeTable]) -> dict[int, int]:
    """Cross-table resume point: per-partition MIN of committed offsets.

    A partition missing from ANY table's ledger resumes from scratch for
    safety (that table has never recorded consuming it); since every
    routed commit carries the global offsets, this only happens before
    the first batch or for a table created mid-stream.
    """
    per_table = [t.offsets() for t in tables.values()]
    if not per_table:
        return {}
    all_parts = set().union(*[set(o) for o in per_table])
    out: dict[int, int] = {}
    for p in all_parts:
        vals = [o[p] for o in per_table if p in o]
        if len(vals) == len(per_table):  # known to every table
            out[p] = min(vals)
        # else: at least one table never saw partition p -> no floor,
        # the window replays it (idempotent per-table)
    return out


def apply_multi_table(
    spark: SparkSession,
    tables: dict[str, LakeTable],
    batch: DataFrame,
    batch_id: int = 0,
    key_cols: tuple[str, ...] = KEY_COLS,
    schema_col: str = SCHEMA_COL,
    mode: str = "cow",
    on_unknown: str = "error",
    max_parallel_tables: int = 1,
    compact_deltas_over: int | None = None,
) -> MultiApplyStats:
    """Apply one mixed changelog microbatch to every routed table.

    ``batch`` = normal merge batch columns + ``schema_col`` naming the
    destination table (a key of ``tables``). ``on_unknown``: 'error'
    raises if any event routes nowhere; 'ignore' drops them (their LSNs
    still advance the global offsets — consumed-but-skipped, the same
    contract as quarantine).

    ``max_parallel_tables`` > 1 overlaps the per-table merges in a
    driver thread pool (Spark schedules concurrent jobs FIFO, so one
    table's write tail back-fills with the next table's stats pass —
    the idle-capacity pattern). Per-table results are identical to the
    serial path: each merge touches only its own table and commits its
    own snapshot, and the crash protocol already tolerates any subset
    of tables having committed (global offsets + per-partition-MIN
    resume). Default stays serial — deterministic apply order keeps
    crash-window tests reproducible.

    ``compact_deltas_over`` is each routed merge's merge-on-read
    delta-pressure bound (see
    :func:`~polardbx_tools_spark.lake.merge.merge_into`).
    """
    if on_unknown not in ("error", "ignore"):
        raise ValueError(f"on_unknown must be 'error'|'ignore', got {on_unknown!r}")
    stats = MultiApplyStats()
    batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one tiny pass: per-(schema, partition) facts -> global offsets
        # + unknown-route count (≤ #tables × #source-partitions rows)
        known = set(tables)
        facts = (
            batch.groupBy(F.col(schema_col).alias("_s"), F.col(PART_COL))
            .agg(F.max(LSN_COL).alias("max_lsn"), F.count("*").alias("n"))
            .collect()
        )
        for r in facts:
            if r[PART_COL] is not None and r["max_lsn"] is not None:
                p = int(r[PART_COL])
                stats.global_offsets[p] = max(
                    int(r["max_lsn"]), stats.global_offsets.get(p, LSN_FLOOR)
                )
            if r["_s"] not in known:
                stats.unknown_events += int(r["n"])
        if stats.unknown_events and on_unknown == "error":
            samples = sorted({str(r["_s"]) for r in facts if r["_s"] not in known})[:5]
            raise ValueError(
                f"{stats.unknown_events} events route to unknown table(s) "
                f"{samples}; pass on_unknown='ignore' to consume-and-skip"
            )
        # deterministic apply order (dict order is caller-controlled but
        # sorting makes crash-window tests reproducible)
        def _one(name: str) -> MergeStats:
            return merge_into(
                spark,
                tables[name],
                batch.filter(F.col(schema_col) == name).drop(schema_col),
                batch_id=batch_id,
                key_cols=key_cols,
                mode=mode,
                extra_offsets=stats.global_offsets,
                compact_deltas_over=compact_deltas_over,
            )

        names = sorted(tables)
        if max_parallel_tables > 1 and len(names) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                min(max_parallel_tables, len(names))
            ) as pool:
                for name, st in zip(names, pool.map(_one, names)):
                    stats.per_table[name] = st
        else:
            for name in names:
                stats.per_table[name] = _one(name)
        return stats
    finally:
        batch.unpersist()


def run_multi_table(
    spark: SparkSession,
    tables: dict[str, LakeTable],
    changelog: DataFrame,
    batch_lsns: int = 10_000_000,
    key_cols: tuple[str, ...] = KEY_COLS,
    schema_col: str = SCHEMA_COL,
    mode: str = "cow",
    on_unknown: str = "error",
    monitor: bool = False,
    compact_deltas_over: int | None = None,
) -> list[MultiApplyStats]:
    """LSN-windowed batch loop over a mixed changelog (the multi-table
    analog of ``CdcPipeline.run``'s core): resume from the cross-table
    min offsets, window by LSN, route each window with
    :func:`apply_multi_table`. Restart-safe: a crash anywhere replays
    the open window into every table idempotently.

    ``compact_deltas_over``: the MOR delta-pressure bound (max delta
    files per bucket), passed to every routed table's merge, which
    folds any touched bucket already holding K inside its own commit —
    the multi-table wiring of the single-table
    ``CdcPipeline.run(compact_deltas_over=)``. Without it a long
    ``mode='mor'`` run accumulates deltas unboundedly in every routed
    table (reference analog: the point-write DB's own housekeeping,
    worker/update/ReplaceConsumer.java).

    (Single-table extras — quarantine budget, pacing, circle replay —
    stay on :class:`~polardbx_tools_spark.pipeline.CdcPipeline`; route a
    pre-validated changelog here.)"""
    bounds = changelog.agg(
        F.min(LSN_COL).alias("lo"), F.max(LSN_COL).alias("hi"),
        F.collect_set(PART_COL).alias("parts"),
    ).collect()[0]
    max_lsn = bounds["hi"]
    if max_lsn is None:
        return []
    ro = resume_offsets(tables)
    todo = changelog.filter(f"{ident(LSN_COL)} > {committed_lsn(ro, PART_COL)}")
    out: list[MultiApplyStats] = []
    # fast-forward the window cursor past fully-consumed / below-origin
    # LSN space (the CdcPipeline.run resume skip): without this a
    # restart replays 1+N empty Spark jobs per consumed window, and a
    # binlog-style LSN origin of ~1e12 would spin ~1e5 empty windows
    # before the first event. Windows above the min committed offset
    # still run (their per-partition remainder is what the filter
    # keeps); partial coverage is completed by the idempotent merges.
    # min(ro) is a safe skip floor ONLY when every source partition in
    # the changelog has a cross-table committed offset — a partition
    # unknown to any table must replay from its first event, and the
    # `todo` filter (not the cursor) is what protects it.
    start = int(bounds["lo"])
    parts = {int(p) for p in (bounds["parts"] or []) if p is not None}
    if ro and parts and parts <= set(ro):
        start = max(start, min(ro[p] for p in parts) + 1)
    lo = (start // batch_lsns) * batch_lsns
    batch_id = 0
    while lo <= max_lsn:
        hi = lo + batch_lsns
        window = todo.filter((F.col(LSN_COL) >= lo) & (F.col(LSN_COL) < hi))
        st = apply_multi_table(
            spark, tables, window, batch_id=batch_id,
            key_cols=key_cols, schema_col=schema_col, mode=mode,
            on_unknown=on_unknown, compact_deltas_over=compact_deltas_over,
        )
        if st.global_offsets:
            out.append(st)
            if monitor:
                applied = sum(
                    s.upserts + s.deletes for s in st.per_table.values()
                )
                print(
                    f"[multi b{batch_id}] tables={len(st.per_table)} "
                    f"merged={applied} unknown={st.unknown_events} "
                    f"progress={min(100, 100 * hi // (max_lsn + 1))}%",
                    flush=True,
                )
        lo, batch_id = hi, batch_id + 1
    return out
