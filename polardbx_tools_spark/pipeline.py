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
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
from polardbx_tools_spark.lake.table import LakeTable, committed_lsn, ident, sql_str

VALID_OPS = ("I", "U", "D")


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
    #: default merge mode for new pipelines; "cow" rewrites touched
    #: buckets, "mor" appends per-batch delta files (see lake.merge)
    DEFAULT_MERGE_MODE = "cow"

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        bucket_count: int = 16,
        key_cols: tuple[str, ...] = KEY_COLS,
        max_errors: int = 0,
        merge_mode: str | None = None,
    ):
        self.spark = spark
        self.table = LakeTable(table_path)
        self.bucket_count = bucket_count
        self.key_cols = key_cols
        self.max_errors = max_errors
        self.merge_mode = merge_mode or self.DEFAULT_MERGE_MODE
        self._errors_dir = os.path.join(os.path.abspath(table_path), "_errors")

    # ----------------------------------------------------------- lifecycle

    def ensure_table(self, with_tool: bool = False) -> LakeTable:
        if not self.table.exists():
            LakeTable.create(
                self.table.path,
                transcripts_schema(with_tool),
                bucket_key=self.key_cols[0],
                bucket_count=self.bucket_count,
                key_cols=self.key_cols,
            )
        return self.table

    # ------------------------------------------------------------- filters

    def _offsets_filter(self, df: DataFrame) -> DataFrame:
        """Drop events at-or-below the committed offset of their source
        partition (resume)."""
        offsets = self.table.offsets()
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
        """
        if not skip_offsets_filter:
            batch = self._offsets_filter(batch)
        reason = self._quarantine_reason()
        bad = f"({reason}) IS NOT NULL"
        with self._watchdog(batch_id, timeout):
            stats = merge_into(
                self.spark,
                self.table,
                batch,
                batch_id=batch_id,
                key_cols=self.key_cols,
                invalid_cond=F.expr(bad),
                mode=self.merge_mode,
                compact_deltas_over=compact_deltas_over,
            )
        if stats.invalid_events:
            # rare path: only malformed batches pay a second (filtered) scan
            batch.filter(bad).selectExpr(
                "*", f"{reason} AS _error_reason", f"{int(batch_id)} AS _batch_id"
            ).write.mode("append").parquet(self._errors_dir)
            if stats.invalid_events > self.max_errors:
                raise RuntimeError(
                    f"batch {batch_id}: {stats.invalid_events} malformed events "
                    f"exceed maxErrors={self.max_errors} "
                    f"(quarantined at {self._errors_dir}; valid events of this "
                    f"window were merged idempotently before the gate fired)"
                )

        self.table.append_lineage(
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
        return stats

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
                f"cancelled (quarantined at {self._errors_dir}/"
                f"timeout_batches.jsonl; offsets did not advance — a resumed "
                f"run retries this window)"
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
                f"{self._errors_dir}/timeout_batches.jsonl; a resumed run "
                f"continues AFTER this batch)"
            )

    def _record_timeout(self, batch_id: int, timeout: float, **detail) -> None:
        os.makedirs(self._errors_dir, exist_ok=True)
        with open(
            os.path.join(self._errors_dir, "timeout_batches.jsonl"),
            "a",
            encoding="utf-8",
        ) as f:
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
        holding K delta files, inside the merge commit (see
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
        """
        self.ensure_table(with_tool=with_tool)
        if max_lsn is None:
            max_lsn = changelog.agg(F.max(LSN_COL)).collect()[0][0]
            if max_lsn is None:
                return RunResult()
        result = RunResult()
        result.circles = 0
        run_t0 = time.time()
        first_ts = None  # event-time origin for rate-factor replay
        batch_id = None
        for pass_i in range(max(1, circle)):
            replay_pass = pass_i > 0
            lo = 0
            if not replay_pass:
                # resume: don't re-scan windows fully below the min offset
                offsets = self.table.offsets()
                if offsets:
                    lo = (min(offsets.values()) + 1) // batch_lsns * batch_lsns
                batch_id = lo // batch_lsns
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
                    maintenance.compact(self.spark, self.table)
                lo, batch_id = hi, batch_id + 1
                if stop_after_batches is not None and result.batches >= stop_after_batches:
                    result.circles = pass_i + 1
                    return result
            result.circles = pass_i + 1
        return result

    # ---------------------------------------------------------------- read

    def read_transcripts(self, order: bool = True) -> DataFrame:
        """Final-state view: tombstones filtered, stable turn ordering
        (the input_hint per-turn-equality invariant is checked over this)."""
        df = self.table.read(self.spark)
        if order:
            df = df.orderBy("conv_id", "turn_idx")
        return df
