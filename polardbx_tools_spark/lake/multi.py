"""Multi-table CDC apply: route ONE mixed changelog to N lake tables.

The reference moves several tables per run — batch-tool's ``-t t1,t2``
table list (``cmd/CommandUtil.java`` table-list handling) and frodo
events carrying their ``schema`` (``Frodo.java:299-305``) — while this
engine's changelog always had a routing column (P12 schema remap) but
merged everything into one table. Routing closes that gap: one pass over
the mixed batch fans out to one ``merge_into`` per table.

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

Routing itself is :class:`~polardbx_tools_spark.pipeline.CdcPipeline`
built with a name -> table map: the one CDC engine and the only public
way to apply a routed changelog (``apply_batch``, ``run``, ``tail``),
so a routed batch is quarantined, gated, timed out and lineage-logged
like a one-table batch. Each route is a filter over the one persisted
batch scan, and each per-table merge keeps the single-shuffle plan.
This module holds the protocol's pieces that pipeline uses: the routed
batch stats and the cross-table resume point.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from polardbx_tools_spark.lake.merge import MergeStats
from polardbx_tools_spark.lake.table import LakeTable

SCHEMA_COL = "schema"


@dataclass
class MultiApplyStats(MergeStats):
    """One routed batch: each route table's merge stats, and their sums
    (event-time bounds: their span) in the :class:`MergeStats` fields,
    so ``CdcPipeline.run`` counts, paces and monitors it like a
    one-table batch. ``wall_ms`` is the routed ``apply_batch``'s own
    wall clock, not a sum: route merges may overlap."""

    per_table: dict[str, MergeStats] = field(default_factory=dict)
    unknown_events: int = 0
    global_offsets: dict[int, int] = field(default_factory=dict)

    def add(self, name: str, st: MergeStats) -> None:
        self.per_table[name] = st
        for f in ("batch_events", "invalid_events", "rows_written", "upserts",
                  "deletes", "conflicts_resolved", "affected_buckets"):
            setattr(self, f, getattr(self, f) + getattr(st, f))
        self.min_ts = min(filter(None, (self.min_ts, st.min_ts)), default=None)
        self.max_ts = max(filter(None, (self.max_ts, st.max_ts)), default=None)


def resume_offsets(tables: dict[str, LakeTable]) -> dict[int, int]:
    """Cross-table resume point: per-partition MIN of committed offsets.

    A partition missing from ANY table's ledger resumes from scratch for
    safety (that table has never recorded consuming it); since every
    routed commit carries the global offsets, this only happens before
    the first batch or for a table created mid-stream.
    """
    ledgers = [t.offsets() for t in tables.values()]
    common = set.intersection(*map(set, ledgers)) if ledgers else set()
    return {p: min(o[p] for o in ledgers) for p in common}
