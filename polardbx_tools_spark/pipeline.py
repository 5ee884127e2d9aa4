"""CDC apply pipeline: changelog → dedup → MERGE → offsets+lineage.

This is the engine's equivalent of the reference's full ingest loop
(SURVEY.md §3.1): producer block-readers → ring buffer → INSERT/REPLACE/
DELETE consumers → 60s history-file checkpoint
(``exec/BaseExecutor.java:232-345``, ``exec/WriteDbExecutor.java:161-200``,
``model/ProducerExecutionContext.java:200-247``). On Spark the whole
threaded apparatus collapses to a microbatch loop:

    for each LSN window:
        batch   = changelog ∩ window, minus already-committed offsets
        quarantine malformed rows (error budget, ref ``-maxError``:
            ``worker/insert/DirectImportWorker.java:107-128``)
        merge_into(table, batch)      # dedup + COW merge
        (offsets advance inside the same atomic snapshot commit)
        append lineage metrics

Exactly-once: offsets live *inside* the table snapshot, so "merge
applied" and "offsets advanced" are one atomic pointer flip. A crash
anywhere leaves the old snapshot; restart re-selects from the committed
offsets and the idempotent merge absorbs any overlap. This is the
stronger version of the reference's resume-requires-INSERT-IGNORE
coupling (``cmd/FlagOption.java:47-48``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from polardbx_tools_spark.changelog.generator import transcripts_schema
from polardbx_tools_spark.lake import maintenance
from polardbx_tools_spark.lake.merge import (
    KEY_COLS,
    LSN_COL,
    OP_COL,
    PART_COL,
    TS_COL,
    MergeStats,
    merge_into,
)
from polardbx_tools_spark.lake.multi import SCHEMA_COL, MultiApplyStats, resume_offsets
from polardbx_tools_spark.lake.table import LSN_FLOOR, LakeTable, committed_lsn, ident, sql_str

VALID_OPS = ("I", "U", "D")


def _errors_dir(table: LakeTable) -> str:
    """Where a table's quarantined rows and timeout records go."""
    return os.path.join(table.path, "_errors")


@dataclass
class RunResult:
    batches: int = 0
    events_applied: int = 0
    events_quarantined: int = 0
    circles: int = 1  # replay passes completed (frodo --circle analog)
    stats: list[MergeStats] = field(default_factory=list)
    # rate-factor replay delay gauge (seconds behind the event-time
    # schedule after each batch; ref frodo MonitorThread.java:92-95)
    replay_delays: list[float] = field(default_factory=list)

    def replay_delay_summary(self) -> dict:
        d = self.replay_delays
        if not d:
            return {}
        return {"min": min(d), "max": max(d), "avg": sum(d) / len(d)}


class CdcPipeline:
    """The CDC engine. ``table_path`` names one lake table; a
    ``{name: LakeTable}`` map makes a ROUTED pipeline, where each event's
    ``schema_col`` names its table (the cross-table exactly-once
    protocol: :mod:`polardbx_tools_spark.lake.multi`). One route or N,
    ``apply_batch``, ``run`` and ``tail`` take the same steps: one
    offsets filter, one quarantine pass, one ``merge_into`` per route
    under one batch timeout, quarantined rows under each route table's
    ``_errors``, one lineage row per (table, source partition).

    Routed only: ``on_unknown='error'`` raises on an event that routes
    to no table; 'ignore' consumes and skips it (its LSN still advances
    the global offsets, as a quarantined row's does).
    ``max_parallel_tables`` > 1 overlaps the route merges in driver
    threads; each merge touches only its own table, so the results
    equal the serial ones, and the crash protocol tolerates any subset
    of tables having committed. Serial by default: a fixed apply order
    keeps crash-window tests reproducible."""

    #: default merge mode for new pipelines; "cow" rewrites touched
    #: buckets, "mor" appends per-batch delta files (see lake.merge)
    DEFAULT_MERGE_MODE = "cow"

    def __init__(
        self,
        spark: SparkSession,
        table_path: str | dict[str, LakeTable],
        bucket_count: int = 16,
        key_cols: tuple[str, ...] = KEY_COLS,
        max_errors: int = 0,
        merge_mode: str | None = None,
        schema_col: str = SCHEMA_COL,
        on_unknown: str = "error",
        max_parallel_tables: int = 1,
    ):
        if on_unknown not in ("error", "ignore"):
            raise ValueError(f"on_unknown must be 'error'|'ignore', got {on_unknown!r}")
        self.spark = spark
        routed = isinstance(table_path, dict)
        self.tables = dict(sorted(table_path.items())) if routed else {None: LakeTable(table_path)}
        self.table = None if routed else self.tables[None]
        self.schema_col = schema_col if routed else None
        self.bucket_count = bucket_count
        self.key_cols = key_cols
        self.max_errors = max_errors
        self.merge_mode = merge_mode or self.DEFAULT_MERGE_MODE
        self.on_unknown = on_unknown
        self.max_parallel_tables = max_parallel_tables

    # ----------------------------------------------------------- lifecycle

    def ensure_table(self, with_tool: bool = False) -> LakeTable | None:
        for t in self.tables.values():
            if not t.exists():
                LakeTable.create(
                    t.path,
                    transcripts_schema(with_tool),
                    bucket_key=self.key_cols[0],
                    bucket_count=self.bucket_count,
                    key_cols=self.key_cols,
                )
        return self.table

    # ------------------------------------------------------------- filters

    def _offsets_filter(self, df: DataFrame) -> DataFrame:
        """Drop events at-or-below the committed offset of their source
        partition (resume); across routes, the per-partition MIN of the
        route tables' offsets."""
        offsets = resume_offsets(self.tables)
        if not offsets:
            return df
        # NOTE: a coarse `lsn > min(offsets)` bound would push down to the
        # scan, but is only safe if every source partition already has a
        # committed offset — an unseen partition's early events would be
        # dropped. The LSN *window* predicate (pushed, verified in the
        # plan audit) does the coarse pruning instead.
        # NULL-LSN rows pass THROUGH the resume filter (NULL > x is NULL
        # → filtered): they carry no offset so "already committed" can
        # never be true of them, and dropping them here would bypass the
        # quarantine write, the _errors record, and the max_errors gate
        # on every batch after the first offset commits.
        lsn = ident(LSN_COL)
        return df.filter(
            f"{lsn} > {committed_lsn(offsets, PART_COL)} OR {lsn} IS NULL"
        )

    def _quarantine_reason(self) -> str:
        """SQL text of the first matching malformation cause, NULL for a
        well-formed row: the one place the rule is written. Persisted with
        each quarantined row (the reference logs its skip causes per bad
        line, ``DirectImportWorker.java:107-128``). NULL source_partition
        / ts are malformed too: such events would merge but escape offset
        accounting and lineage, so they would be idempotently re-merged
        on every resume (and never counted)."""
        op = ident(OP_COL)
        ops = ", ".join(sql_str(o) for o in VALID_OPS)
        whens = [
            f"WHEN {op} IS NULL OR {op} NOT IN ({ops}) THEN 'invalid_op'",
            f"WHEN {ident(LSN_COL)} IS NULL THEN 'null_lsn'",
            f"WHEN {ident(PART_COL)} IS NULL THEN 'null_source_partition'",
            f"WHEN {ident(TS_COL)} IS NULL THEN 'null_ts'",
        ] + [
            f"WHEN {ident(k)} IS NULL THEN {sql_str(f'null_key:{k}')}"
            for k in self.key_cols
        ]
        return f"CASE {' '.join(whens)} END"

    # --------------------------------------------------------------- apply

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        skip_offsets_filter: bool = False,
        timeout: float | None = None,
        compact_deltas_over: int | None = None,
    ) -> MergeStats:
        """Apply one already-windowed changelog slice.

        ``skip_offsets_filter`` re-applies already-committed events —
        only meaningful for circle replay, where the idempotent merge
        absorbs them as exact-tie no-ops.

        ``timeout`` (seconds) is the per-batch wall guard (frodo's
        ``--sql-timeout``, ``MysqlWrapper.java:53-126``, applied at the
        engine's unit of work — the microbatch): a watchdog cancels the
        batch's Spark job group on expiry, the batch id is quarantined
        to ``_errors/timeout_batches.jsonl`` and the run aborts. Offsets
        never advanced (they commit with the data), so a resumed run
        retries the batch from the committed snapshot.

        ``compact_deltas_over`` is the merge-on-read delta-pressure bound
        (see :func:`~polardbx_tools_spark.lake.merge.merge_into`).

        A routed pipeline persists the batch, takes its global offsets
        and unknown-route count in one tiny pass (≤ #tables ×
        #source-partitions rows), passes the global offsets to every
        route's merge and returns a
        :class:`~polardbx_tools_spark.lake.multi.MultiApplyStats` whose
        ``wall_ms`` is the wall clock of that pass, the route merges and
        the quarantine and lineage writes.
        """
        if not skip_offsets_filter:
            batch = self._offsets_filter(batch)
        if self.schema_col is None:
            return self._apply_routes({None: batch}, batch_id, timeout, compact_deltas_over)[None]
        t0 = time.time()
        stats = MultiApplyStats()
        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            unknown = set()
            for route, p, max_lsn, n in batch.groupBy(self.schema_col, PART_COL).agg(
                F.max(LSN_COL), F.count("*")
            ).collect():
                if p is not None and max_lsn is not None:
                    stats.global_offsets[p] = max(max_lsn, stats.global_offsets.get(p, LSN_FLOOR))
                if route not in self.tables:
                    stats.unknown_events += n
                    unknown.add(str(route))
            if unknown and self.on_unknown == "error":
                raise ValueError(
                    f"{stats.unknown_events} events route to unknown table(s) "
                    f"{sorted(unknown)[:5]}; pass on_unknown='ignore' to consume-and-skip"
                )
            col = ident(self.schema_col)
            slices = {n: batch.filter(f"{col} = {sql_str(n)}").drop(self.schema_col)
                      for n in self.tables}
            per_table = self._apply_routes(
                slices, batch_id, timeout, compact_deltas_over, stats.global_offsets
            )
        finally:
            batch.unpersist()
        for name, st in per_table.items():
            stats.add(name, st)
        stats.wall_ms = int((time.time() - t0) * 1000)
        return stats

    def _apply_routes(self, slices: dict, batch_id: int, timeout: float | None,
                      compact_deltas_over: int | None,
                      extra_offsets: dict[int, int] | None = None) -> dict:
        """Merge each route's slice into its table under one batch
        timeout, then quarantine, gate and write lineage per route."""
        reason = self._quarantine_reason()
        bad = f"({reason}) IS NOT NULL"

        def merge(name) -> MergeStats:
            return merge_into(
                self.spark, self.tables[name], slices[name], batch_id=batch_id,
                key_cols=self.key_cols, invalid_cond=F.expr(bad), mode=self.merge_mode,
                extra_offsets=extra_offsets, compact_deltas_over=compact_deltas_over,
            )

        with self._watchdog(batch_id, timeout):
            if self.max_parallel_tables > 1 and len(slices) > 1:
                # Spark runs concurrent jobs FIFO, so one table's write
                # tail back-fills with the next table's pre-pass. PySpark
                # pins each thread to its own JVM thread: the wrapper hands
                # the watchdog's job group to the workers, so its cancel
                # reaches every route's jobs.
                merge = inheritable_thread_target(self.spark)(merge)
                with ThreadPoolExecutor(min(self.max_parallel_tables, len(slices))) as pool:
                    per_table = dict(zip(slices, pool.map(merge, slices)))
            else:
                per_table = {name: merge(name) for name in slices}
        quarantined = {}
        for name, stats in per_table.items():
            if stats.invalid_events:
                # rare path: only malformed batches pay a second (filtered) scan
                errors = _errors_dir(self.tables[name])
                slices[name].filter(bad).selectExpr(
                    "*", f"{reason} AS _error_reason", f"{int(batch_id)} AS _batch_id"
                ).write.mode("append").parquet(errors)
                quarantined[errors] = stats.invalid_events
        if sum(quarantined.values()) > self.max_errors:
            raise RuntimeError(
                f"batch {batch_id}: {sum(quarantined.values())} malformed events "
                f"exceed maxErrors={self.max_errors} "
                f"(quarantined at {', '.join(quarantined)}; valid events of this "
                f"window were merged idempotently before the gate fired)"
            )
        for name, stats in per_table.items():
            self.tables[name].append_lineage(
                self.spark,
                [
                    {
                        "batch_id": batch_id,
                        "source_partition": p,
                        "offsets_applied": v["max_lsn"],
                        "rows_merged": v["winners"],
                        "conflicts_resolved": v["conflicts"],
                        "events_per_sec": (
                            v["events"] / (stats.wall_ms / 1000.0) if stats.wall_ms else 0.0
                        ),
                        "wall_ms": stats.wall_ms,
                    }
                    for p, v in sorted(stats.per_partition.items())
                ],
            )
        return per_table

    def _timeout_files(self) -> list[str]:
        return [os.path.join(_errors_dir(t), "timeout_batches.jsonl")
                for t in self.tables.values()]

    @contextmanager
    def _watchdog(self, batch_id: int, timeout: float | None):
        """Run the body under the batch wall budget (no-op when
        ``timeout`` is None); see :meth:`apply_batch`."""
        if timeout is None:
            yield
            return
        sc = self.spark.sparkContext
        group = f"cdc-batch-{batch_id}"
        fired = threading.Event()

        def _cancel() -> None:
            fired.set()
            sc.cancelJobGroup(group)

        watchdog = threading.Timer(timeout, _cancel)
        sc.setJobGroup(group, f"cdc microbatch {batch_id} (timeout {timeout}s)")
        watchdog.start()
        try:
            yield
        except Exception as e:
            # attribute to the timeout ONLY when the watchdog fired AND
            # the error is the cancellation it caused — a genuine merge
            # failure (expected_version conflict, disk full) racing the
            # watchdog by microseconds must surface as itself, or the
            # operator retries with a bigger timeout instead of fixing
            # the real fault (Spark's cancelled-job errors all carry
            # "cancelled"/"cancel" in their message)
            if not fired.is_set() or "cancel" not in str(e).lower():
                raise
            self._record_timeout(batch_id, timeout, error=str(e)[:500])
            raise RuntimeError(
                f"batch {batch_id} exceeded batch_timeout={timeout}s and was "
                f"cancelled (quarantined at {', '.join(self._timeout_files())}; "
                f"offsets did not advance — a resumed run retries this window)"
            ) from e
        finally:
            watchdog.cancel()
            sc.setJobGroup("", "")
        if fired.is_set():
            # the watchdog fired while no Spark job was active (the
            # merge's driver-side tail: file listing, commit), so
            # cancelJobGroup had nothing to cancel and the batch
            # COMMITTED. It cannot be quarantined — offsets advanced
            # atomically with the data — so record the overrun and abort
            # the RUN instead of silently blowing the budget; a resumed
            # run continues AFTER this batch via its offsets.
            self._record_timeout(batch_id, timeout, committed=True)
            raise RuntimeError(
                f"batch {batch_id} exceeded batch_timeout={timeout}s during "
                f"its commit tail and had already committed when the "
                f"watchdog fired; run aborted (overrun recorded at "
                f"{', '.join(self._timeout_files())}; a resumed run "
                f"continues AFTER this batch)"
            )

    def _record_timeout(self, batch_id: int, timeout: float, **detail) -> None:
        for path in self._timeout_files():
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "a", encoding="utf-8") as f:
                f.write(json.dumps(
                    {"batch_id": batch_id, "timeout_sec": timeout, **detail}
                ) + "\n")

    def run(
        self,
        changelog: DataFrame,
        batch_lsns: int = 10_000,
        max_lsn: int | None = None,
        stop_after_batches: int | None = None,
        with_tool: bool = False,
        max_events_per_sec: float | None = None,
        rate_factor: float | None = None,
        monitor: bool = False,
        compact_every: int | None = None,
        compact_deltas_over: int | None = None,
        circle: int = 1,
        batch_timeout: float | None = None,
    ) -> RunResult:
        """Microbatch the changelog by LSN windows and apply each.

        ``stop_after_batches`` simulates a kill for the resume suite: the
        loop stops mid-stream; a fresh ``run`` on the same table resumes
        from committed offsets and must converge to the same final state.

        ``max_events_per_sec`` paces the loop (reference TPS limiting,
        Guava RateLimiter per consumer ``BaseWorkHandler.java:64-81``).

        ``rate_factor`` is frodo's EVENT-TIME replay pacing
        (``JSConsumerThreadV2.java:146-162``): batch k is not allowed to
        finish before ``(batch_max_ts - first_ts) * rate_factor`` wall
        seconds have elapsed — factor 1.0 replays the changelog at its
        original production speed, 2.0 at half speed, 0.5 at double
        speed. The per-batch schedule lag is recorded in
        ``RunResult.replay_delays`` and printed by the monitor
        (min/max/avg delay gauge, ``thread/MonitorThread.java:92-95``).
        ``monitor`` prints per-batch QPS/progress like frodo's
        MonitorThread (``thread/MonitorThread.java:35-114``).
        ``compact_every`` compacts the table after every N batches
        (steady-state file-count control for long tails).
        ``compact_deltas_over=K`` is the merge-on-read DELTA-PRESSURE
        bound: each batch's merge folds any touched bucket already
        holding K delta commits, inside the merge commit (see
        :func:`~polardbx_tools_spark.lake.merge.merge_into`) — bounds
        read amplification on a long MOR tail in every committed
        snapshot without rewriting cold buckets. Typical:
        ``CdcPipeline(..., merge_mode="mor")`` +
        ``run(compact_deltas_over=8)``.

        ``circle`` replays the whole changelog ``circle`` times (frodo
        ``--circle``, ``frodo/README.md:144-145``): passes after the
        first run at MAX PRESSURE — event-time pacing and TPS caps are
        forced off and the committed-offsets filter is bypassed, so
        every window re-drives the full merge path and the idempotent
        last-writer-wins order absorbs each event as an exact-tie no-op.
        The final table state is identical to a single pass (tested).

        ``batch_timeout`` aborts + quarantines a batch whose wall time
        exceeds the budget (see :meth:`apply_batch`).

        The window cursor starts at the changelog's first LSN (0 when
        ``max_lsn`` is given). A resume moves it past the lowest committed
        offset only when every route table's ledger names the same source
        partitions (routed commits carry the global offsets, so they
        differ only before a table's first commit).
        """
        self.ensure_table(with_tool=with_tool)
        first = 0
        if max_lsn is None:
            first, max_lsn = changelog.agg(F.min(LSN_COL), F.max(LSN_COL)).collect()[0]
            if max_lsn is None:
                return RunResult()
        result = RunResult()
        result.circles = 0
        run_t0 = time.time()
        first_ts = None  # event-time origin for rate-factor replay
        batch_id = None
        for pass_i in range(max(1, circle)):
            replay_pass = pass_i > 0
            lo = first
            if not replay_pass:
                # resume: don't re-scan windows fully below the min offset
                ledgers = [t.offsets() for t in self.tables.values()]
                if ledgers[0] and all(o.keys() == ledgers[0].keys() for o in ledgers):
                    lo = max(lo, min(min(o.values()) for o in ledgers) + 1)
                batch_id = lo // batch_lsns
            lo = lo // batch_lsns * batch_lsns
            while lo <= max_lsn:
                hi = lo + batch_lsns
                window = changelog.filter(
                    f"{ident(LSN_COL)} >= {lo} AND {ident(LSN_COL)} < {hi}"
                )
                stats = self.apply_batch(
                    window,
                    batch_id=batch_id,
                    skip_offsets_filter=replay_pass,
                    timeout=batch_timeout,
                    compact_deltas_over=compact_deltas_over,
                )
                result.batches += 1
                result.events_applied += stats.batch_events
                result.events_quarantined += stats.invalid_events
                result.stats.append(stats)
                delay_txt = ""
                if rate_factor and not replay_pass and stats.max_ts is not None:
                    if first_ts is None and stats.min_ts is not None:
                        first_ts = stats.min_ts
                    if first_ts is not None:
                        # pace to the event-time schedule: this batch may not
                        # complete before (max_ts - first_ts) * factor wall
                        target = (stats.max_ts - first_ts).total_seconds() * rate_factor
                        lag = target - (time.time() - run_t0)
                        if lag > 0:
                            time.sleep(lag)
                        delay = max(0.0, (time.time() - run_t0) - target)
                        result.replay_delays.append(delay)
                        delay_txt = f" replay_delay={delay:.2f}s"
                if monitor:
                    elapsed = max(1e-9, time.time() - run_t0)
                    print(
                        f"[cdc b{batch_id}] events={stats.batch_events} "
                        f"merged={stats.upserts + stats.deletes} "
                        f"conflicts={stats.conflicts_resolved} "
                        f"buckets={len(stats.affected_buckets)} "
                        f"batch_ev/s={stats.batch_events / max(1e-9, stats.wall_ms / 1000):.0f} "
                        f"run_ev/s={result.events_applied / elapsed:.0f} "
                        f"progress={min(100, 100 * hi // (max_lsn + 1))}%"
                        + (f" circle={pass_i + 1}" if replay_pass else "")
                        + delay_txt,
                        flush=True,
                    )
                if max_events_per_sec and not replay_pass:
                    # pace like the reference's RateLimiter: sleep until the
                    # cumulative rate drops to the target
                    min_elapsed = result.events_applied / max_events_per_sec
                    lag = min_elapsed - (time.time() - run_t0)
                    if lag > 0:
                        time.sleep(lag)
                if compact_every and result.batches % compact_every == 0:
                    for t in self.tables.values():
                        maintenance.compact(self.spark, t)
                lo, batch_id = hi, batch_id + 1
                if stop_after_batches is not None and result.batches >= stop_after_batches:
                    result.circles = pass_i + 1
                    return result
            result.circles = pass_i + 1
        return result

    def tail(self, source_dir: str, schema: StructType, checkpoint_dir: str,
             max_files_per_trigger: int | None = None, available_now: bool = True,
             fmt: str = "parquet", compact_deltas_over: int | None = None,
             skip_offsets_filter: bool = False) -> StreamingQuery:
        """Tail a changelog directory, :meth:`apply_batch` per microbatch,
        under the source contract of :mod:`polardbx_tools_spark.streaming.stream`.

        A routed tail fails the microbatch of an event that routes to no
        table (``on_unknown='error'``, the default; the removed
        ``start_multi_table_cdc_stream`` defaulted to 'ignore'), which
        stops the query: build with ``on_unknown='ignore'`` to skip them."""
        from polardbx_tools_spark.streaming.stream import _read_tail, _start_foreach_batch

        stream = _read_tail(self.spark, source_dir, schema, fmt, max_files_per_trigger)

        def apply(batch_df, batch_id: int) -> None:
            self.apply_batch(batch_df, batch_id=batch_id,
                             skip_offsets_filter=skip_offsets_filter,
                             compact_deltas_over=compact_deltas_over)

        return _start_foreach_batch(stream, apply, checkpoint_dir, available_now)

    # ---------------------------------------------------------------- read

    def read_transcripts(self, order: bool = True) -> DataFrame:
        """Final-state view: tombstones filtered, stable turn ordering
        (the input_hint per-turn-equality invariant is checked over this)."""
        if self.table is None:
            raise ValueError(
                f"a routed pipeline has no one table to read; read a route "
                f"table with LakeTable.read: {sorted(self.tables)}"
            )
        df = self.table.read(self.spark)
        if order:
            df = df.orderBy("conv_id", "turn_idx")
        return df
