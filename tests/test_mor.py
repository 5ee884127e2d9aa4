"""Merge-on-read mode: the existing replay / resume / property /
evolution / maintenance invariants re-run with MOR deltas, plus the
MOR-specific contracts (write cost bounded by batch size, delta
accounting, vacuum liveness).

MOR is the answer to the round-2 scale risk: copy-on-write rewrites
every touched bucket per microbatch, so a hot-bucket workload pays
table-proportional writes per batch. MOR appends per-batch delta files
(reference analog: the point-write sinks ReplaceConsumer.java:28-52 /
DeleteInConsumer.java:29-62 touch only affected rows) and resolves at
read time by the same (ts, lsn, partition) total order.
"""

import os

import pytest

from polardbx_tools_spark.pipeline import CdcPipeline

# Re-run the key suites with the pipeline defaulting to MOR: every test
# below calls the ORIGINAL test function — same assertions, different
# write path. (pytest puts tests/ on sys.path: no-__init__ rootdir mode.)
import test_incremental as _inc
import test_maintenance as _mnt
import test_merge_semantics as _sem
import test_replay as _rep
import test_resume as _res
import test_schema_evolution as _evo  # noqa: F401


@pytest.fixture(autouse=True)
def _force_mor(monkeypatch):
    monkeypatch.setattr(CdcPipeline, "DEFAULT_MERGE_MODE", "mor")


def test_mor_kill_and_restart(spark, tmp_path):
    _res.test_kill_and_restart_equals_uninterrupted(spark, tmp_path)


def test_mor_crash_between_staging_and_commit(spark, tmp_path, monkeypatch):
    _res.test_crash_between_staging_and_commit_is_invisible(
        spark, tmp_path, monkeypatch
    )


def test_mor_full_iud_replay_multibatch(spark, tmp_table_path):
    _rep.test_full_iud_replay_multibatch(spark, tmp_table_path)


def test_mor_idempotent_reapply(spark, tmp_table_path):
    _rep.test_idempotent_reapply(spark, tmp_table_path)


def test_mor_hot_skew(spark, tmp_table_path):
    _rep.test_replay_with_hot_skew(spark, tmp_table_path)


def test_mor_delete_then_late_insert_stays_deleted(spark, tmp_table_path):
    _sem.test_delete_then_late_insert_stays_deleted_across_batches(
        spark, tmp_table_path
    )


def test_mor_quarantine_and_error_budget(spark, tmp_table_path):
    _sem.test_quarantine_and_error_budget(spark, tmp_table_path)


def test_mor_schema_evolution_mid_stream(spark, tmp_table_path):
    _evo.test_tool_column_appears_mid_stream(spark, tmp_table_path)


def test_mor_pre_evolution_rows_read_as_null(spark, tmp_table_path):
    _evo.test_pre_evolution_rows_read_as_null(spark, tmp_table_path)


@pytest.mark.slow
def test_mor_property_engine_equals_oracle(spark, tmp_path_factory):
    import test_property as _prop

    _prop.test_engine_equals_oracle_for_any_changelog(spark, tmp_path_factory)


def test_mor_rollback_then_replay_converges(spark, tmp_table_path):
    _inc.test_rollback_then_replay_converges(spark, tmp_table_path)


def test_mor_incremental_changes_compose(spark, tmp_table_path):
    _inc.test_incremental_changes_compose_to_final_state(spark, tmp_table_path)


def test_mor_compact_preserves_state(spark, tmp_table_path):
    _mnt.test_compact_preserves_state_and_shrinks_files(spark, tmp_table_path)


def test_mor_expire_and_vacuum(spark, tmp_table_path):
    """MOR twist on expire+vacuum: delta files stay LIVE as long as any
    retained snapshot references them (every MOR snapshot carries the
    accumulated delta list), so reclaiming them requires expiring every
    pre-compaction snapshot — keep_last=1, not the COW test's 2."""
    import glob

    from polardbx_tools_spark.lake.maintenance import (
        compact,
        expire_snapshots,
        vacuum,
    )

    pipe = _mnt.loaded_pipe(spark, tmp_table_path)
    n = pipe.read_transcripts().count()
    assert pipe.table.snapshot().deltas
    compact(spark, pipe.table)
    # pre-compaction snapshots still pin the deltas
    assert vacuum(pipe.table, grace_seconds=0) == []
    expire_snapshots(pipe.table, keep_last=1)
    removed = vacuum(pipe.table, grace_seconds=0)
    assert removed, "expired delta files must be reclaimed"
    remaining = {
        os.path.relpath(p, tmp_table_path)
        for p in glob.glob(
            os.path.join(tmp_table_path, "data", "**", "*.parquet"),
            recursive=True,
        )
    }
    assert remaining == set(pipe.table.snapshot().all_files())
    assert pipe.read_transcripts().count() == n


# ----------------------------------------------------- MOR-specific


def _bytes_written(table, version):
    snap = table.snapshot(version)
    prev = table.snapshot(version - 1)
    new = set(snap.all_files()) - set(prev.all_files())
    return sum(os.path.getsize(os.path.join(table.path, f)) for f in new)


def test_mor_write_cost_bounded_by_batch_not_bucket(spark, tmp_path):
    """THE point of MOR: on a hot-bucket workload (every batch touches
    the same conversations), the bytes a COW commit writes grow with the
    accumulated bucket size, while MOR's stay flat at ~batch size."""
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        generate_changelog,
    )

    # growing keyspace, every batch touching every bucket (keys are
    # hash-spread over the LSN range): COW's per-batch rewrite grows
    # with the accumulated table, MOR's stays at ~batch size
    cl = generate_changelog(
        spark, ChangelogSpec(n_events=4000, n_convs=200, max_turns=16, seed=33)
    )
    growth = {}
    for mode in ("cow", "mor"):
        pipe = CdcPipeline(
            spark, str(tmp_path / mode), bucket_count=4, merge_mode=mode
        )
        pipe.run(cl, batch_lsns=500)
        versions = pipe.table.snapshots()
        data_versions = [
            v for v in versions[1:]
            if pipe.table.snapshot(v).properties.get("batch_id") is not None
        ]
        sizes = [_bytes_written(pipe.table, v) for v in data_versions]
        growth[mode] = sizes
    # COW's later commits rewrite ever-bigger buckets; MOR's stay ~flat.
    cow_ratio = growth["cow"][-1] / max(1, growth["cow"][0])
    mor_ratio = growth["mor"][-1] / max(1, growth["mor"][0])
    assert cow_ratio > 1.5, f"fixture not hot enough: cow growth {cow_ratio:.2f}"
    assert mor_ratio < 1.3, (
        f"MOR write bytes must stay ~flat per batch, grew {mor_ratio:.2f}x: "
        f"{growth['mor']}"
    )


def test_mor_deltas_tracked_and_cleared(spark, tmp_table_path):
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        generate_changelog,
    )
    from polardbx_tools_spark.lake.maintenance import compact, vacuum

    cl = generate_changelog(spark, ChangelogSpec(n_events=600, n_convs=20, seed=7))
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, merge_mode="mor")
    pipe.run(cl, batch_lsns=200)
    snap = pipe.table.snapshot()
    assert snap.deltas and not snap.files, "MOR commits must append deltas only"
    assert snap.properties.get("mode") == "mor"
    n = pipe.read_transcripts().count()
    # vacuum must treat live deltas as referenced
    removed = vacuum(pipe.table, grace_seconds=0)
    assert pipe.read_transcripts().count() == n, removed
    compact(spark, pipe.table)
    snap2 = pipe.table.snapshot()
    assert not snap2.deltas and snap2.files
    assert pipe.read_transcripts().count() == n


def assert_delta_bound_every_version(table, k):
    """No committed snapshot of ``table`` holds more than ``k`` delta
    files in any bucket."""
    for v in table.snapshots():
        deltas = table.snapshot(v).deltas
        worst = max((len(fl) for fl in deltas.values()), default=0)
        assert worst <= k, (
            f"v{v}: a bucket holds {worst} > {k} delta files: "
            f"{ {b: len(fl) for b, fl in deltas.items()} }"
        )


def fold_versions(table, k):
    """Versions whose commit folded a bucket: it held at least ``k``
    delta files at the previous version and none at this one."""
    versions = table.snapshots()
    out = []
    for prev, v in zip(versions, versions[1:]):
        before, after = table.snapshot(prev).deltas, table.snapshot(v).deltas
        if any(len(fl) >= k and not after.get(b) for b, fl in before.items()):
            out.append(v)
    return out


def test_mor_delta_pressure_compaction_bounds_read_tax(spark, tmp_path):
    """Long MOR tail with the delta-pressure trigger: without it, every
    bucket's delta list grows ~one file per touching batch (unbounded
    read-side merge, the round-3 scale wart); with
    ``run(compact_deltas_over=K)`` a merge folds any touched bucket
    already holding K delta files inside its own commit, so a reader
    merges at most K deltas per bucket in EVERY committed snapshot —
    and the final state is byte-identical to the untriggered run."""
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        generate_changelog,
    )

    cl = generate_changelog(
        spark, ChangelogSpec(n_events=1200, n_convs=30, max_turns=8, seed=11)
    )
    K = 4
    pipes = {}
    for name, kwargs in (("plain", {}), ("trig", {"compact_deltas_over": K})):
        pipe = CdcPipeline(
            spark, str(tmp_path / name), bucket_count=4, merge_mode="mor"
        )
        pipe.run(cl, batch_lsns=50, **kwargs)  # 24 microbatches
        pipes[name] = pipe
    plain, trig = pipes["plain"].table.snapshot(), pipes["trig"].table.snapshot()
    max_plain = max(len(v) for v in plain.deltas.values())
    assert max_plain > 2 * K, f"fixture tail too short: {max_plain}"
    max_trig = max((len(v) for v in trig.deltas.values()), default=0)
    assert max_trig <= K, (
        f"delta backlog must stay bounded by the trigger, got {max_trig}: "
        f"{ {b: len(v) for b, v in trig.deltas.items()} }"
    )
    assert_delta_bound_every_version(pipes["trig"].table, K)
    # compaction must not disturb state, offsets, or resume invariants
    a = sorted(map(tuple, pipes["plain"].read_transcripts().collect()))
    b = sorted(map(tuple, pipes["trig"].read_transcripts().collect()))
    assert a == b
    assert pipes["plain"].table.offsets() == pipes["trig"].table.offsets()
    # replaying the full changelog over the compacted table is a no-op
    r = pipes["trig"].run(cl, batch_lsns=10**9)
    assert r.events_applied == 0
    assert sorted(map(tuple, pipes["trig"].read_transcripts().collect())) == a


def test_mor_fold_keeps_read_tie_order(spark, tmp_table_path):
    """A base row and a delta row of one key share (ts, lsn, partition)
    but differ in payload. The read-time merge keeps the base copy, and
    a fold of the bucket must write that same row."""
    from polardbx_tools_spark.lake.merge import merge_into

    table = CdcPipeline(spark, tmp_table_path, bucket_count=1).ensure_table(
        with_tool=True
    )
    for text, mode in (("base", "cow"), ("delta", "mor")):
        merge_into(spark, table, _sem.make_df(spark, [
            _sem.ev("U", "c1", 0, text, 10, 1),
        ]), mode=mode)
    assert table.snapshot().deltas
    assert [r["text"] for r in table.read(spark).collect()] == ["base"]
    merge_into(spark, table, _sem.make_df(spark, [
        _sem.ev("I", "c2", 0, "other", 20, 2),
    ]), mode="mor", compact_deltas_over=1)
    assert not table.snapshot().deltas, "the bucket must have folded"
    got = {r["conv_id"]: r["text"] for r in table.read(spark).collect()}
    assert got == {"c1": "base", "c2": "other"}


def test_mor_stream_delta_bound_holds_in_every_version(spark, tmp_path):
    """A merge-on-read file tail with ``compact_deltas_over=K`` keeps
    the delta bound in every committed snapshot (the fold rides the
    merge commit; a separate compaction commit would leave each merge
    commit at K+1 deltas until it ran) and drains to the replay
    oracle."""
    import glob
    import shutil
    import time

    import pandas.testing as pdt

    from oracle import normalize, replay_oracle
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        changelog_schema,
        generate_changelog,
    )
    from polardbx_tools_spark.streaming import start_cdc_stream

    cl = generate_changelog(spark, ChangelogSpec(n_events=1200, n_convs=60, seed=33))
    src, seg = str(tmp_path / "src"), str(tmp_path / "_seg")
    os.makedirs(src)
    cl.repartitionByRange(12, "source_lsn").write.parquet(seg)
    base = time.time()  # LSN-ordered files with distinct ascending mtimes
    for i, f in enumerate(sorted(glob.glob(seg + "/part-*.parquet"))):
        dst = f"{src}/f-{i:04d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (base + i, base + i))

    K = 3
    table = str(tmp_path / "t")
    # without AQE's partition coalescing every salt of a bucket lands in
    # its own write task, as in a batch too large to coalesce: a salted
    # delta append would then add up to salt_n files per bucket
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        q = start_cdc_stream(
            spark, src, changelog_schema(with_tool=True), table,
            str(tmp_path / "ckpt"), bucket_count=4, max_files_per_trigger=1,
            merge_mode="mor", compact_deltas_over=K,
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set(coalesce, prev)
    pipe = CdcPipeline(spark, table, bucket_count=4, merge_mode="mor")
    assert len(pipe.table.snapshots()) > 2 * K, "tail too short to fold"
    assert_delta_bound_every_version(pipe.table, K)
    assert fold_versions(pipe.table, K), "the bound never folded a bucket"
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = normalize(pipe.read_transcripts().toPandas(), payload)
    want = normalize(replay_oracle(cl.toPandas(), payload), payload)
    pdt.assert_frame_equal(got, want, check_dtype=False)


def test_mor_read_uses_window_group_limit(spark, tmp_table_path):
    """The read-side merge must plan as row_number + WindowGroupLimit:
    Spark's rank-limit pushdown keeps only the top-1 row per key BEFORE
    the exchange (a map-side reduction like partial aggregation), so the
    merge shuffle carries ~one row per key per side, not every delta."""
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        generate_changelog,
    )

    cl = generate_changelog(spark, ChangelogSpec(n_events=300, n_convs=10, seed=3))
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, merge_mode="mor")
    pipe.run(cl, batch_lsns=100)
    plan = pipe.table.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_cow_reads_have_no_merge_window(spark, tmp_table_path):
    """A pure-COW snapshot must read as a plain pruned scan — the MOR
    merge window only appears when delta files exist."""
    from polardbx_tools_spark.changelog.generator import (
        ChangelogSpec,
        generate_changelog,
    )

    cl = generate_changelog(spark, ChangelogSpec(n_events=300, n_convs=10, seed=3))
    # explicit cow: this module's autouse fixture flips the DEFAULT to mor
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4, merge_mode="cow")
    pipe.run(cl, batch_lsns=300)
    plan = pipe.table.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
