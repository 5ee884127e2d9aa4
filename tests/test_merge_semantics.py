"""Unit tests for merge semantics: last-writer-wins tie-breaks, sticky
tombstones across batches, quarantine/error budget, offsets filter."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from polardbx_tools_spark.changelog.generator import changelog_schema, transcripts_schema
from polardbx_tools_spark.lake.merge import dedup_last_writer
from polardbx_tools_spark.lake.table import LakeTable
from polardbx_tools_spark.pipeline import CdcPipeline

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ev(op, conv, turn, text, ts_s, lsn, part=0, role="user", tool=None):
    return (op, conv, turn, role if op != "D" else None,
            text if op != "D" else None, tool, T0 + dt.timedelta(seconds=ts_s),
            lsn, part)


def make_df(spark, rows):
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in changelog_schema(True).fields]
    )
    return spark.createDataFrame(rows, schema)


def test_dedup_ts_then_lsn_then_partition(spark):
    rows = [
        ev("I", "c1", 0, "a", 10, 1, part=0),
        ev("U", "c1", 0, "b", 10, 2, part=0),   # same ts, higher lsn wins
        ev("U", "c1", 0, "c", 5, 99, part=0),   # older ts loses despite lsn
        ev("U", "c2", 0, "x", 10, 7, part=1),
        ev("U", "c2", 0, "y", 10, 7, part=2),   # full tie on (ts,lsn): part wins
    ]
    out = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in dedup_last_writer(make_df(spark, rows)).collect()
    }
    assert out[("c1", 0)] == "b"
    assert out[("c2", 0)] == "y"


def test_delete_then_late_insert_stays_deleted_across_batches(spark, tmp_table_path):
    """SURVEY.md §7 hard part: D at ts=100 in batch 1; a late I with older
    ts=50 arrives in batch 2 → row must stay deleted (tombstone)."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4)
    pipe.ensure_table(with_tool=True)
    b1 = make_df(spark, [
        ev("I", "c1", 0, "hello", 10, 1),
        ev("D", "c1", 0, None, 100, 2),
    ])
    pipe.apply_batch(b1, batch_id=0)
    assert pipe.read_transcripts().count() == 0

    # late insert, older ts, *newer lsn* (so the offsets filter passes it)
    b2 = make_df(spark, [ev("I", "c1", 0, "zombie", 50, 3)])
    pipe.apply_batch(b2, batch_id=1)
    assert pipe.read_transcripts().count() == 0, "tombstone must win"

    # a genuinely newer insert resurrects the row
    b3 = make_df(spark, [ev("I", "c1", 0, "reborn", 200, 4)])
    pipe.apply_batch(b3, batch_id=2)
    got = pipe.read_transcripts().collect()
    assert len(got) == 1 and got[0]["text"] == "reborn"


def test_update_missing_tool_nulls_it(spark, tmp_table_path):
    """Full-row REPLACE semantics (reference K3): an update without a
    payload column overwrites it with NULL."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4)
    pipe.ensure_table(with_tool=True)
    pipe.apply_batch(make_df(spark, [
        ev("I", "c1", 0, "with tool", 10, 1, tool="tool-3"),
    ]), batch_id=0)
    assert pipe.read_transcripts().collect()[0]["tool"] == "tool-3"
    pipe.apply_batch(make_df(spark, [
        ev("U", "c1", 0, "updated", 20, 2, tool=None),
    ]), batch_id=1)
    row = pipe.read_transcripts().collect()[0]
    assert row["text"] == "updated" and row["tool"] is None


def test_quarantine_and_error_budget(spark, tmp_table_path, conv_col="conv_id"):
    """``conv_col`` renames the leading key column."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=2,
                       key_cols=(conv_col, "turn_idx"))
    if conv_col == "conv_id":
        pipe.ensure_table(with_tool=True)
    else:
        schema = StructType([
            StructField(conv_col, f.dataType, f.nullable) if f.name == "conv_id" else f
            for f in transcripts_schema(True).fields
        ])
        LakeTable.create(tmp_table_path, schema,
                         bucket_key=conv_col, bucket_count=4,
                         key_cols=(conv_col, "turn_idx"))

    def df(rows):
        return make_df(spark, rows).withColumnRenamed("conv_id", conv_col)

    bad = df([
        ev("I", "c1", 0, "ok", 10, 1),
        ("X", "c2", 0, "u", "t", None, T0, 2, 0),        # bad op
        ("I", None, 0, "u", "t", None, T0, 3, 0),        # null key
    ])
    stats = pipe.apply_batch(bad, batch_id=0)
    assert stats.batch_events == 1
    assert [r[conv_col] for r in pipe.table.read(spark).collect()] == ["c1"]
    errs = spark.read.parquet(str(tmp_table_path) + "/_errors")
    assert errs.count() == 2
    reasons = {r["_error_reason"] for r in errs.collect()}
    assert reasons == {"invalid_op", f"null_key:{conv_col}"}
    assert {r["_batch_id"] for r in errs.collect()} == {0}

    over = df([
        ("Z", f"c{i}", 0, "u", "t", None, T0, 10 + i, 0) for i in range(5)
    ])
    with pytest.raises(RuntimeError, match="maxErrors"):
        pipe.apply_batch(over, batch_id=1)


def test_quarantine_reason_quotes_key_name(spark, tmp_table_path):
    """A key name holding a quote and a backslash reaches the quarantine
    reason verbatim: the reason is a SQL string literal."""
    test_quarantine_and_error_budget(spark, tmp_table_path, conv_col="conv's\\id")


def test_all_quarantined_partition_still_advances_offsets(spark, tmp_table_path):
    """Invariant: quarantined events advance offsets. A mixed batch where
    one source partition's events are ALL malformed must still advance
    that partition's offset — otherwise a resume re-reads and
    re-quarantines them, duplicating _errors rows forever."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=10)
    pipe.ensure_table(with_tool=True)
    mixed = make_df(spark, [
        ev("I", "c1", 0, "ok", 10, 1, part=0),
        ("X", "c2", 0, "u", "t", None, T0, 7, 1),   # bad op, part 1
        ("Y", "c3", 0, "u", "t", None, T0, 8, 1),   # bad op, part 1
    ])
    stats = pipe.apply_batch(mixed, batch_id=0)
    assert stats.batch_events == 1 and stats.invalid_events == 2
    assert pipe.table.offsets() == {0: 1, 1: 8}

    # replaying the same window is a no-op: nothing merged, nothing
    # re-quarantined (offsets filter already consumed the bad events)
    stats2 = pipe.apply_batch(mixed, batch_id=1)
    assert stats2.batch_events == 0 and stats2.invalid_events == 0
    errs = spark.read.parquet(str(tmp_table_path) + "/_errors")
    assert errs.count() == 2


def test_all_null_lsn_partition_does_not_crash(spark, tmp_table_path):
    """A source partition whose events ALL have NULL LSN must be
    quarantined (not crash the stats pass on int(None))."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=10)
    pipe.ensure_table(with_tool=True)
    batch = make_df(spark, [
        ev("I", "c1", 0, "ok", 10, 1, part=0),
        ("I", "c2", 0, "u", "t", None, T0, None, 1),  # null lsn
        ("U", "c3", 0, "u", "t", None, T0, None, 1),  # null lsn
    ])
    stats = pipe.apply_batch(batch, batch_id=0)
    assert stats.batch_events == 1 and stats.invalid_events == 2
    # no offset exists to advance to for partition 1
    assert pipe.table.offsets() == {0: 1}
    assert pipe.read_transcripts().count() == 1


def test_null_partition_and_null_ts_quarantined(spark, tmp_table_path):
    """NULL source_partition / NULL ts events are malformed: merging them
    would bypass offset accounting (idempotent re-merge on every resume)."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=10)
    pipe.ensure_table(with_tool=True)
    batch = make_df(spark, [
        ev("I", "c1", 0, "ok", 10, 1, part=0),
        ("I", "c2", 0, "u", "t", None, T0, 2, None),   # null partition
        ("I", "c3", 0, "u", "t", None, None, 3, 0),    # null ts
    ])
    stats = pipe.apply_batch(batch, batch_id=0)
    assert stats.batch_events == 1 and stats.invalid_events == 2
    assert pipe.read_transcripts().count() == 1
    errs = spark.read.parquet(str(tmp_table_path) + "/_errors")
    assert errs.count() == 2


def test_offsets_filter_skips_committed(spark, tmp_table_path):
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4)
    pipe.ensure_table(with_tool=True)
    pipe.apply_batch(make_df(spark, [ev("I", "c1", 0, "v1", 10, 5, part=3)]), 0)
    assert pipe.table.offsets() == {3: 5}
    # replayed event (same lsn) and an older one must be filtered out
    stats = pipe.apply_batch(make_df(spark, [
        ev("U", "c1", 0, "stale", 11, 5, part=3),
        ev("U", "c1", 0, "staler", 12, 4, part=3),
        ev("U", "c1", 0, "fresh", 13, 6, part=3),
    ]), 1)
    assert stats.batch_events == 1
    assert pipe.read_transcripts().collect()[0]["text"] == "fresh"
    assert pipe.table.offsets() == {3: 6}


def test_suggest_bucket_count_scales_with_table():
    from polardbx_tools_spark.lake.table import suggest_bucket_count

    assert suggest_bucket_count(1_000) == 8            # floor
    assert suggest_bucket_count(100_000_000) == 64     # 50 -> pow2
    assert suggest_bucket_count(10_000_000_000) == 8192
    assert suggest_bucket_count(10**15) == 65536       # ceiling


def test_wide_bucket_layout_merge_cost_proportional(spark, tmp_table_path):
    """With a 256-bucket layout, a batch touching few conversations must
    rewrite ONLY those buckets (COW write amplification ∝ touched data,
    not table size)."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=256)
    pipe.ensure_table(with_tool=True)
    big = make_df(spark, [
        ev("I", f"c{i}", t, f"t{i}-{t}", 10 + i, i * 10 + t)
        for i in range(60) for t in range(2)
    ])
    pipe.apply_batch(big, batch_id=0)
    snap0 = pipe.table.snapshot()

    two = make_df(spark, [
        ev("U", "c7", 0, "patched", 1000, 9990),
        ev("U", "c13", 1, "patched2", 1000, 9991),
    ])
    stats = pipe.apply_batch(two, batch_id=1)
    assert 1 <= len(stats.affected_buckets) <= 2
    snap1 = pipe.table.snapshot()
    changed = {b for b in set(snap0.files) | set(snap1.files)
               if snap0.files.get(b) != snap1.files.get(b)}
    assert changed == {str(b) for b in stats.affected_buckets}


def test_bucket_pruning_reads_only_affected(spark, tmp_table_path):
    """A single-conversation batch must only rewrite that conversation's
    bucket: other buckets' file lists are carried over unchanged."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=8)
    pipe.ensure_table(with_tool=True)
    big = make_df(spark, [
        ev("I", f"c{i}", t, f"t{i}-{t}", 10 + i, i * 10 + t)
        for i in range(20) for t in range(3)
    ])
    pipe.apply_batch(big, batch_id=0)
    snap0 = pipe.table.snapshot()

    one = make_df(spark, [ev("U", "c7", 0, "patched", 1000, 999)])
    stats = pipe.apply_batch(one, batch_id=1)
    assert len(stats.affected_buckets) == 1
    snap1 = pipe.table.snapshot()
    changed = [b for b in snap0.files if snap0.files[b] != snap1.files.get(b)]
    assert changed == [str(stats.affected_buckets[0])]


def test_merge_null_key_rows_null_safe(spark, tmp_table_path):
    """Direct merge_into with NULL-keyed rows (no quarantine guard, as an
    API caller might): NULL keys must behave as one ordinary key value —
    exactly one last-writer wins, rows neither vanish (plain != chains
    evaluate NULL) nor duplicate (review finding)."""
    from polardbx_tools_spark.lake.merge import merge_into
    from polardbx_tools_spark.lake.table import LakeTable
    from polardbx_tools_spark.changelog.generator import transcripts_schema

    rows = [
        ev("I", "c1", 0, "a", 10, 1),
        ev("I", "c1", None, "n1", 10, 2),   # NULL key after non-NULL key
        ev("U", "c1", None, "n2", 20, 3),   # second NULL-key row: later wins
        ev("I", "c2", None, "m1", 10, 4),
    ]
    table = LakeTable.create(
        tmp_table_path, transcripts_schema(True),
        bucket_key="conv_id", bucket_count=4,
        key_cols=("conv_id", "turn_idx"),
    )
    merge_into(spark, table, make_df(spark, rows))
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read(spark).collect()
    }
    assert got == {
        ("c1", 0): "a",
        ("c1", None): "n2",   # one winner for the NULL key, the later one
        ("c2", None): "m1",
    }


def test_null_lsn_quarantined_even_after_offsets_exist(spark, tmp_table_path):
    """The resume filter must not swallow NULL-LSN rows: they carry no
    offset (so "already committed" can never hold for them) and must
    reach quarantine — and the max_errors gate — in EVERY batch, not
    only the first one, when no offsets existed yet."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=10)
    pipe.ensure_table(with_tool=True)
    pipe.apply_batch(make_df(spark, [ev("I", "c1", 0, "ok", 10, 1)]), 0)
    assert pipe.table.offsets() == {0: 1}  # resume filter now active
    stats = pipe.apply_batch(make_df(spark, [
        ev("U", "c1", 0, "v2", 11, 2),
        ("I", "c2", 0, "u", "t", None, T0, None, 0),  # null lsn
    ]), 1)
    assert stats.batch_events == 1 and stats.invalid_events == 1
    errs = spark.read.parquet(str(tmp_table_path) + "/_errors")
    assert errs.filter("_error_reason = 'null_lsn'").count() == 1

    strict_path = str(tmp_table_path) + "-strict"
    strict = CdcPipeline(spark, strict_path, bucket_count=4, max_errors=0)
    strict.ensure_table(with_tool=True)
    strict.apply_batch(make_df(spark, [ev("I", "c1", 0, "ok", 10, 1)]), 0)
    with pytest.raises(RuntimeError, match="maxErrors"):
        strict.apply_batch(make_df(spark, [
            ("I", "c2", 0, "u", "t", None, T0, None, 0),
        ]), 1)


def test_quarantined_ts_does_not_poison_event_time_bounds(spark, tmp_table_path):
    """A quarantined row's corrupt timestamp must not leak into the
    batch event-time bounds — one bogus year-2524 ts would make a
    rate-factor replay sleep forever on a consumed-and-skipped row."""
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, max_errors=10)
    pipe.ensure_table(with_tool=True)
    bogus = T0 + dt.timedelta(days=365 * 500)
    stats = pipe.apply_batch(make_df(spark, [
        ev("I", "c1", 0, "ok", 10, 1),
        ("X", "c2", 0, "u", "t", None, bogus, 2, 0),  # invalid op
        ("X", "c3", 0, "u", "t", None, T0 - dt.timedelta(days=9000), 3, 0),
    ]), 0)
    assert stats.invalid_events == 2
    assert stats.max_ts == T0 + dt.timedelta(seconds=10)
    assert stats.min_ts == T0 + dt.timedelta(seconds=10)


def test_per_partition_metrics_beyond_128_partitions(spark, tmp_table_path):
    """A batch from 130 source partitions gets exact per-partition
    winners/conflicts from the write's Observation, in MergeStats and in
    lineage — including within-batch losers of the same partition and of
    another partition."""
    n = 130
    rows = [ev("I", f"c{p}", 0, f"v{p}", 10, p + 1, part=p) for p in range(n)]
    rows += [
        ev("I", "c7", 0, "older", 5, 200, part=7),     # loses to its own part
        ev("U", "c21", 0, "older", 5, 201, part=20),   # loses to part 21
        ev("D", "c128", 0, None, 20, 202, part=129),   # beats part 128
    ]
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4)
    pipe.ensure_table(with_tool=True)
    stats = pipe.apply_batch(make_df(spark, rows), 0)

    want = {p: {"events": 1, "winners": 1, "conflicts": 0} for p in range(n)}
    want[7] = {"events": 2, "winners": 1, "conflicts": 1}
    want[20] = {"events": 2, "winners": 1, "conflicts": 1}
    want[128] = {"events": 1, "winners": 0, "conflicts": 1}
    want[129] = {"events": 2, "winners": 2, "conflicts": 0}
    got = {p: {k: v[k] for k in ("events", "winners", "conflicts")}
           for p, v in stats.per_partition.items()}
    assert got == want
    assert (stats.batch_events, stats.upserts, stats.deletes,
            stats.conflicts_resolved) == (n + 3, n - 1, 1, 3)
    lineage = {r["source_partition"]: (r["rows_merged"], r["conflicts_resolved"])
               for r in pipe.table.read_lineage(spark).collect()}
    assert lineage == {p: (v["winners"], v["conflicts"]) for p, v in want.items()}


def test_incremental_changes_multi_commit_net_change(spark, tmp_table_path):
    """A range spanning several commits that touched the same key emits
    ONE net row per key (last writer by the merge total order), not one
    per touched file — contradictory upsert+delete rows with the
    sequencing columns dropped would let a consumer folding them in
    arbitrary order resurrect a deleted key."""
    for mode, suffix in (("cow", "-cow"), ("mor", "-mor")):
        path = str(tmp_table_path) + suffix
        pipe = CdcPipeline(spark, path, bucket_count=4, merge_mode=mode)
        pipe.ensure_table(with_tool=True)
        v0 = pipe.table.current_version()
        pipe.apply_batch(make_df(spark, [
            ev("I", "c1", 0, "a", 10, 1),
            ev("I", "c2", 0, "x", 10, 2),
        ]), 0)
        pipe.apply_batch(make_df(spark, [
            ev("D", "c1", 0, None, 20, 3),
            ev("U", "c2", 0, "y", 20, 4),
        ]), 1)
        inc = pipe.table.incremental_changes(spark, from_version=v0)
        rows = {(r["conv_id"], r["turn_idx"]): r for r in inc.collect()}
        assert len(rows) == 2, f"{mode}: expected one NET row per key"
        assert rows[("c1", 0)]["_change_type"] == "delete"
        assert rows[("c2", 0)]["_change_type"] == "upsert"
        assert rows[("c2", 0)]["text"] == "y"
