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
    commits in any bucket."""
    for v in table.snapshots():
        commits = table.snapshot(v).delta_commits()
        worst = max(commits.values(), default=0)
        assert worst <= k, f"v{v}: a bucket holds {worst} > {k} delta commits: {commits}"


def fold_versions(table, k):
    """Versions whose commit folded a bucket: it held at least ``k``
    delta commits at the previous version and no delta at this one."""
    versions = table.snapshots()
    out = []
    for prev, v in zip(versions, versions[1:]):
        before, after = table.snapshot(prev).delta_commits(), table.snapshot(v).deltas
        if any(n >= k and not after.get(b) for b, n in before.items()):
            out.append(v)
    return out


def test_mor_delta_pressure_compaction_bounds_read_tax(spark, tmp_path):
    """Long MOR tail with the delta-pressure trigger: without it, every
    bucket's delta list grows ~one file per touching batch (unbounded
    read-side merge, the round-3 scale wart); with
    ``run(compact_deltas_over=K)`` a merge folds any touched bucket
    already holding K delta commits inside its own commit, so a reader
    merges at most K delta commits per bucket in EVERY committed snapshot —
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
    max_plain = max(plain.delta_commits().values())
    assert max_plain > 2 * K, f"fixture tail too short: {max_plain}"
    max_trig = max(trig.delta_commits().values(), default=0)
    assert max_trig <= K, (
        f"delta backlog must stay bounded by the trigger, got {max_trig}: "
        f"{trig.delta_commits()}"
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


# ------------------------------------------------ shared delta files

SHARED_K = 2
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _file_df(spark, rows, path):
    """``rows`` read back from parquet under ``path``, as a file tail's
    microbatch is: its size is known to be small, so an unfolded
    merge-on-read merge of it takes the narrow plan and writes a shared
    delta file."""
    _sem.make_df(spark, rows).write.parquet(path)
    return spark.read.parquet(path)


def _convs_by_bucket(spark, table):
    """Bucket -> conversation ids ``c0``..``c63`` that hash to it."""
    ids = spark.createDataFrame([(f"c{i}",) for i in range(64)], "conv_id string")
    by_b = {}
    for r in ids.selectExpr("conv_id", f"{table.bucket_sql()} AS b").collect():
        by_b.setdefault(r["b"], []).append(r["conv_id"])
    return by_b


@pytest.fixture(scope="module")
def shared_deltas(spark, tmp_path_factory):
    """A 4-bucket MOR table with ``compact_deltas_over=2`` and three
    batches: A touches every bucket and B buckets 0 and 1, both unfolded
    (shared delta files); C touches buckets 0 and 2 and folds buckets 0
    and 1 (the two at K, 1 untouched), whose shared files also hold
    buckets 2 and 3. Returns the pipeline, the events as pandas, and the
    committed version after each batch."""
    path = str(tmp_path_factory.mktemp("shared") / "t")
    pipe = CdcPipeline(spark, path, bucket_count=4, merge_mode="mor")
    table = pipe.ensure_table(with_tool=True)
    by_b = _convs_by_bucket(spark, table)
    ev = _sem.ev
    lsn = iter(range(1, 1000))

    def e(op, conv, turn, text, ts):
        n = next(lsn)
        return ev(op, conv, turn, text, ts, n, part=n % 2)

    a = [e("I", c, t, "a", 10) for b in range(4) for c in by_b[b][:2] for t in (0, 1)]
    a += [
        e("U", by_b[0][0], 0, "a-older", 5),   # within-batch loser
        e("D", by_b[0][1], 1, None, 50),       # tombstone in a shared file
        e("D", by_b[3][0], 1, None, 50),
    ]
    b = [e("U", c, 0, "b", 60) for bb in (0, 1) for c in by_b[bb][:2]]
    b += [e("I", by_b[1][0], 2, "b", 60)]
    c = [
        e("U", by_b[0][1], 0, "c", 70),
        e("I", by_b[0][1], 1, "late", 20),     # older than the tombstone
        e("U", by_b[2][0], 1, "c", 70),
    ]
    versions, stats = [table.current_version()], []
    files = tmp_path_factory.mktemp("shared-batches")
    for i, rows in enumerate((a, b, c)):
        stats.append(pipe.apply_batch(_file_df(spark, rows, str(files / str(i))), i,
                                      compact_deltas_over=SHARED_K))
        versions.append(table.current_version())
    events = _sem.make_df(spark, a + b + c).toPandas()
    return pipe, events, versions, stats, by_b


def _bucket_of(table, df):
    return {r["b"] for r in df.selectExpr(f"{table.bucket_sql()} AS b").distinct().collect()}


def test_mor_partial_fold_of_shared_deltas_equals_replay_oracle(spark, shared_deltas):
    """Folding buckets 0 and 1 reads shared delta files that also hold
    buckets 2 and 3: the fold must keep only the folded buckets' rows,
    so no other bucket gains a delta commit, the bound holds in every
    version, and the state equals the replay oracle. Bucket 1 folds
    although batch C does not touch it: it is at K."""
    from oracle import normalize, replay_oracle

    pipe, events, versions, stats, _ = shared_deltas
    table = pipe.table
    before, after = (table.snapshot(v) for v in versions[2:4])
    assert [s.affected_buckets for s in stats] == [[0, 1, 2, 3], [0, 1], [0, 2]]
    assert before.delta_commits() == {"0": 2, "1": 2, "2": 1, "3": 1}
    assert after.delta_commits() == {"2": 2, "3": 1}, "buckets 0 and 1 fold"
    assert after.files.get("0") and after.files.get("1")
    assert not after.files.keys() - {"0", "1"}
    assert_delta_bound_every_version(table, SHARED_K)
    got = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    want = normalize(replay_oracle(events, PAYLOAD), PAYLOAD)
    import pandas.testing as pdt

    pdt.assert_frame_equal(got, want, check_dtype=False)


def test_mor_read_buckets_of_shared_deltas_keeps_only_those_buckets(spark, shared_deltas):
    """``read(buckets=[b])`` over shared delta files returns bucket b's
    rows only, and the buckets' reads add up to the whole table."""
    pipe, _, versions, _, _ = shared_deltas
    table = pipe.table
    for v in versions[1:]:
        whole = table.read(spark, version=v, include_deleted=True).count()
        per_bucket = 0
        for b in range(4):
            df = table.read(spark, buckets=[b], version=v, include_deleted=True)
            assert _bucket_of(table, df) <= {b}, (v, b)
            per_bucket += df.count()
        assert per_bucket == whole, v


def test_mor_incremental_changes_scans_each_new_file_once(spark, shared_deltas, monkeypatch):
    """A shared delta file is listed under several buckets; the file
    diff of ``incremental_changes`` scans it once and emits one row per
    changed key."""
    from polardbx_tools_spark.lake.table import LakeTable

    pipe, _, versions, _, by_b = shared_deltas
    table = pipe.table
    scanned = []
    scan = LakeTable.scan

    def spy(self, spark, snap, files, *args, **kwargs):
        scanned.append(list(files))
        return scan(self, spark, snap, files, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "scan", spy)
    rows = table.incremental_changes(spark, versions[1], versions[2]).collect()
    old, cur = (set(table.snapshot(v).all_files()) for v in versions[1:3])
    new = cur - old
    assert len(scanned) == 1 and sorted(scanned[0]) == sorted(new), scanned
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    want = sorted([(c, 0) for bb in (0, 1) for c in by_b[bb][:2]] + [(by_b[1][0], 2)])
    assert keys == want


def test_mor_snapshot_lists_each_shared_delta_file_once(shared_deltas):
    """A shared delta file sits under several buckets in the manifest;
    ``delta_files`` and ``all_files`` name it once."""
    pipe, _, versions, _, _ = shared_deltas
    snap = pipe.table.snapshot(versions[1])
    shared = set(snap.deltas["0"]) & set(snap.deltas["1"])
    assert shared, "batch A must write files shared by buckets 0 and 1"
    for files in (snap.delta_files(), snap.delta_files([0, 1]), snap.all_files()):
        assert len(files) == len(set(files)), files
    assert set(snap.delta_files()) == {f for fl in snap.deltas.values() for f in fl}


def test_mor_compact_some_buckets_of_shared_deltas_equals_replay_oracle(spark, tmp_path):
    """A shared file stays live while any bucket lists it. Batch A puts
    key k (bucket 0) and j (bucket 1) in one shared delta file, batch B
    deletes k in one shared by buckets 0 and 2. Compacting buckets 0 and
    2 with ``drop_tombstones=True`` drops k's tombstone, and A's file,
    still listed under bucket 1, holds k's insert: every read must skip
    the rows of the buckets that no longer list a file, or k comes back."""
    import pandas.testing as pdt

    from oracle import normalize, replay_oracle
    from polardbx_tools_spark.lake.maintenance import compact

    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4, merge_mode="mor")
    table = pipe.ensure_table(with_tool=True)
    by_b = _convs_by_bucket(spark, table)
    (k, k2), j, m = by_b[0][:2], by_b[1][0], by_b[2][0]
    ev = _sem.ev
    batches = [
        [ev("I", k, 0, "a", 10, 1), ev("I", k2, 0, "a", 10, 2), ev("I", j, 0, "a", 10, 3)],
        [ev("D", k, 0, None, 20, 4), ev("I", m, 0, "b", 20, 5)],
        [ev("U", j, 0, "c", 30, 6), ev("I", m, 1, "c", 30, 7)],
        [ev("U", m, 0, "d", 40, 8)],
    ]
    def apply(i, **kwargs):
        pipe.apply_batch(_file_df(spark, batches[i], str(tmp_path / str(i))), i, **kwargs)

    for i in range(2):
        apply(i)
    snap = table.snapshot()
    assert set(snap.deltas["0"]) & set(snap.deltas["1"])
    assert set(snap.deltas["0"]) & set(snap.deltas["2"])

    res = compact(spark, table, buckets=[0, 2], drop_tombstones=True)
    snap = table.snapshot()
    assert set(snap.deltas) == {"1"} and res["files_after"] == 1
    assert snap.files["0"] == snap.files["2"], "small buckets share one file"

    def check(n_batches):
        events = _sem.make_df(spark, sum(batches[:n_batches], [])).toPandas()
        want = normalize(replay_oracle(events, PAYLOAD), PAYLOAD)
        got = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
        pdt.assert_frame_equal(got, want, check_dtype=False)
        assert table.read(spark, include_deleted=True).count() == len(want)
        for b in range(4):
            rows = table.read(spark, buckets=[b], include_deleted=True)
            assert _bucket_of(table, rows) <= {b}, b

    check(2)
    apply(2)
    check(3)
    # folding buckets 1 and 2 reads the base file bucket 2 shares with
    # bucket 0 (k2) and the delta files bucket 1 shares with 0 and 2
    apply(3, compact_deltas_over=1)
    assert not table.snapshot().deltas
    check(4)
