"""Multi-table routed apply (lake/multi.py): one mixed changelog fanned
out by its ``schema`` column to N lake tables in one pass, offsets
exactly-once across tables.

Reference parity: batch-tool moves a TABLE LIST per run (``-t t1,t2``,
cmd/CommandUtil.java) and frodo events carry their schema
(Frodo.java:299-305); the engine previously merged everything into one
table (round-3 "What's missing" #2).
"""

import pandas as pd

from polardbx_tools_spark.changelog.generator import (
    ChangelogSpec,
    generate_changelog,
)
from polardbx_tools_spark.lake.merge import merge_into
from polardbx_tools_spark.lake.multi import resume_offsets
from polardbx_tools_spark.lake.table import LakeTable
from polardbx_tools_spark.pipeline import CdcPipeline
from oracle import normalize, replay_oracle
from test_mor import fold_versions

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAYLOAD = ["conv_id", "turn_idx", "text", "ts"]
SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("text", StringType(), True),
    StructField("ts", TimestampType(), True),
])


def _mixed_changelog(spark, n_events=1500, seed=5):
    cl = generate_changelog(
        spark, ChangelogSpec(n_events=n_events, n_convs=40, max_turns=8, seed=seed)
    ).drop("tool")
    return cl.withColumn(
        "schema",
        F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "alpha").otherwise("beta"),
    )


def _make_tables(tmp_path, names=("alpha", "beta")):
    return {
        n: LakeTable.create(
            str(tmp_path / n), SCHEMA, bucket_key="conv_id",
            bucket_count=4, key_cols=("conv_id", "turn_idx"),
        )
        for n in names
    }


def _oracle_for(mixed_pdf, name):
    part = mixed_pdf[mixed_pdf["schema"] == name].drop(columns=["schema"])
    return normalize(replay_oracle(part, PAYLOAD), PAYLOAD)


def test_routed_state_equals_per_table_oracle(spark, tmp_path):
    mixed = _mixed_changelog(spark)
    tables = _make_tables(tmp_path)
    st = CdcPipeline(spark, tables).apply_batch(mixed, batch_id=0, skip_offsets_filter=True)
    pdf = mixed.toPandas()
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        want = _oracle_for(pdf, name)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every table records the GLOBAL consumed window, not just its slice
    for t in tables.values():
        assert t.offsets() == st.global_offsets
    assert st.unknown_events == 0


def test_crash_between_table_commits_converges(spark, tmp_path):
    """Kill/restart across the multi-table commit seam: batch 2 lands on
    table alpha only (crash before beta's commit). The cross-table
    resume point regresses to the pre-batch offsets, the window replays
    to BOTH tables, and the final states equal the full-stream oracle —
    alpha absorbing its duplicate batch as a no-op."""
    cl_all = _mixed_changelog(spark, n_events=1600, seed=9)
    mid = 800
    b0 = cl_all.filter(F.col("source_lsn") < mid)
    b1 = cl_all.filter(F.col("source_lsn") >= mid)
    tables = _make_tables(tmp_path)
    st0 = CdcPipeline(spark, tables).apply_batch(b0, batch_id=0, skip_offsets_filter=True)

    # crash-split second batch: alpha commits, beta never does
    g1 = {
        int(r["source_partition"]): int(r["max_lsn"])
        for r in b1.groupBy("source_partition").agg(
            F.max("source_lsn").alias("max_lsn")
        ).collect()
    }
    merge_into(
        spark, tables["alpha"],
        b1.filter(F.col("schema") == "alpha").drop("schema"),
        batch_id=1, extra_offsets=g1,
    )
    ro = resume_offsets(tables)
    # beta's ledger drags every partition back to the pre-crash window
    assert ro == st0.global_offsets

    # restart: replay everything past the resume point to both tables
    floor = F.lit(-(1 << 62)).cast("long")
    pairs = []
    for p, lsn in ro.items():
        pairs += [F.lit(p), F.lit(lsn)]
    committed = F.coalesce(
        F.create_map(*pairs)[F.col("source_partition")], floor
    )
    replay = cl_all.filter(F.col("source_lsn") > committed)
    CdcPipeline(spark, tables).apply_batch(replay, batch_id=2, skip_offsets_filter=True)

    pdf = cl_all.toPandas()
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        want = _oracle_for(pdf, name)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    for t in tables.values():
        assert t.offsets() == {
            int(r["source_partition"]): int(r["max_lsn"])
            for r in cl_all.groupBy("source_partition").agg(
                F.max("source_lsn").alias("max_lsn")
            ).collect()
        }


def test_streaming_multi_table_tail(spark, tmp_path):
    """Streaming shape: a mixed changelog tail routed to two tables per
    microbatch. Drain → per-table state equals the replay oracle; a new
    file landing + restart from the same checkpoint applies only the
    tail; a FULL replay from a fresh checkpoint is a no-op (offsets +
    idempotent merges)."""
    import glob
    import os
    import shutil

    cl = _mixed_changelog(spark, n_events=1200, seed=17)
    src = str(tmp_path / "src")
    os.makedirs(src)
    first = cl.filter(F.col("source_lsn") < 900)
    later = cl.filter(F.col("source_lsn") >= 900)

    land_seq = [0]

    def land(df, prefix, n_files):
        """Land changelog files honoring the ordered-source contract
        (per-partition LSN-ordered arrival — what offsets-based resume
        means; binlog/Kafka semantics): range-split by LSN, flat names
        in LSN order, and STRICTLY INCREASING mtimes — FileStreamSource
        orders new files by modification time, and same-millisecond
        copies otherwise tie into arbitrary batch order (the flake this
        fixture chases: a later-LSN window processing first advances the
        offsets past the earlier one)."""
        import time

        seg = str(tmp_path / f"_seg_{prefix}")
        df.repartitionByRange(n_files, "source_lsn").write.parquet(seg)
        base = time.time()
        for i, f in enumerate(sorted(glob.glob(seg + "/part-*.parquet"))):
            dst = f"{src}/{prefix}-{i:04d}.parquet"
            shutil.copy(f, dst)
            land_seq[0] += 1
            os.utime(dst, (base + land_seq[0], base + land_seq[0]))

    land(first, "a", 4)

    tables = _make_tables(tmp_path)
    pipe = CdcPipeline(spark, tables, on_unknown="ignore")
    kwargs = dict(
        source_dir=src, schema=first.schema,
        max_files_per_trigger=2, available_now=True,
    )
    q = pipe.tail(
        checkpoint_dir=str(tmp_path / "ckpt"), **kwargs
    )
    q.awaitTermination()
    pdf_first = first.toPandas()
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf_first, name), check_dtype=False
        )

    # tail grows; SAME checkpoint resumes and applies only the new files
    land(later, "b", 2)
    q2 = pipe.tail(
        checkpoint_dir=str(tmp_path / "ckpt"), **kwargs
    )
    q2.awaitTermination()
    pdf_all = cl.toPandas()
    versions_after = {n: t.current_version() for n, t in tables.items()}
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf_all, name), check_dtype=False
        )

    # FULL replay from a fresh checkpoint: offsets filter + idempotent
    # merges -> state unchanged
    q3 = pipe.tail(
        checkpoint_dir=str(tmp_path / "ckpt2"), **kwargs
    )
    q3.awaitTermination()
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf_all, name), check_dtype=False
        )
        # observable no-op: the offsets pre-filter emptied every window,
        # so the replay committed NO new snapshot
        assert t.current_version() == versions_after[name]


def test_streaming_unordered_source_with_assume_ordered_false(spark, tmp_path):
    """A file tail that CANNOT guarantee LSN-ordered arrival (here:
    windows landed in reverse LSN order with identical mtimes) still
    converges with ``skip_offsets_filter=True`` — the offsets pre-filter is
    skipped and the idempotent merges apply stragglers by the total
    order."""
    import glob
    import os
    import shutil

    cl = _mixed_changelog(spark, n_events=800, seed=23)
    src = str(tmp_path / "src")
    os.makedirs(src)
    seg = str(tmp_path / "_seg")
    cl.repartitionByRange(4, "source_lsn").write.parquet(seg)
    # REVERSE LSN order, one shared mtime: the adversarial arrival
    parts = sorted(glob.glob(seg + "/part-*.parquet"), reverse=True)
    now = os.path.getmtime(parts[0])
    for i, f in enumerate(parts):
        dst = f"{src}/f-{i:04d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (now, now))

    tables = _make_tables(tmp_path)
    q = CdcPipeline(spark, tables, on_unknown="ignore").tail(
        src, cl.schema, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, available_now=True,
        skip_offsets_filter=True,
    )
    q.awaitTermination()
    pdf = cl.toPandas()
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf, name), check_dtype=False
        )


def test_multi_table_mor_tail_compaction_bounds_deltas(spark, tmp_path):
    """Long multi-table MOR tail (32 LSN windows, 2 routed tables) with
    the delta-pressure trigger wired through a routed ``CdcPipeline.run``
    (round-4 verdict gap #1): the per-bucket delta backlog stays ≤ K in
    EVERY table at end of tail, the trigger demonstrably fired (a merge
    commit folded a bucket that held K deltas), final
    states equal the replay oracle, offsets are complete, and a full
    replay is a no-op."""
    cl = _mixed_changelog(spark, n_events=1600, seed=13)
    K = 4
    tables = _make_tables(tmp_path)
    pipe = CdcPipeline(spark, tables, merge_mode="mor")
    out = [st for st in pipe.run(cl, batch_lsns=50, compact_deltas_over=K).stats
           if st.global_offsets]
    assert len(out) >= 32, f"tail too short: {len(out)} windows"

    pdf = cl.toPandas()
    want_offsets = {
        int(r["source_partition"]): int(r["max_lsn"])
        for r in cl.groupBy("source_partition").agg(
            F.max("source_lsn").alias("max_lsn")
        ).collect()
    }
    for name, t in tables.items():
        snap = t.snapshot()
        max_deltas = max(snap.delta_commits().values(), default=0)
        assert max_deltas <= K, (
            f"{name}: delta backlog must stay bounded by the trigger, "
            f"got {max_deltas}: {snap.delta_commits()}"
        )
        compacts = fold_versions(t, K)
        assert compacts, f"{name}: trigger never fired — fixture not hot enough"
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf, name), check_dtype=False
        )
        assert t.offsets() == want_offsets

    # replay the full changelog: cross-table resume fast-forwards past
    # the consumed LSN space — no windows run, state untouched
    assert [st for st in pipe.run(cl, batch_lsns=50, compact_deltas_over=K).stats
            if st.global_offsets] == []
    for name, t in tables.items():
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf, name), check_dtype=False
        )


def test_streaming_multi_table_mor_tail_compacts_mid_stream(spark, tmp_path):
    """Streaming MOR tail with ``compact_deltas_over``: deltas fold
    mid-stream (a merge commit folds a bucket that held K deltas,
    end-of-drain backlog ≤ K) and
    the drained state still equals the replay oracle."""
    import glob
    import os
    import shutil

    cl = _mixed_changelog(spark, n_events=1000, seed=29)
    src = str(tmp_path / "src")
    os.makedirs(src)
    seg = str(tmp_path / "_seg")
    cl.repartitionByRange(8, "source_lsn").write.parquet(seg)
    import time

    base = time.time()
    for i, f in enumerate(sorted(glob.glob(seg + "/part-*.parquet"))):
        dst = f"{src}/f-{i:04d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (base + i, base + i))

    K = 2
    tables = _make_tables(tmp_path)
    q = CdcPipeline(spark, tables, merge_mode="mor", on_unknown="ignore").tail(
        src, cl.schema, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, available_now=True,
        compact_deltas_over=K,
    )
    q.awaitTermination()
    pdf = cl.toPandas()
    for name, t in tables.items():
        snap = t.snapshot()
        max_deltas = max(snap.delta_commits().values(), default=0)
        assert max_deltas <= K, f"{name}: backlog {max_deltas} > {K}"
        compacts = fold_versions(t, K)
        assert compacts, f"{name}: no mid-stream compaction happened"
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(
            got, _oracle_for(pdf, name), check_dtype=False
        )


def test_unknown_route_rejected_or_consumed(spark, tmp_path):
    mixed = _mixed_changelog(spark, n_events=400, seed=3).withColumn(
        "schema", F.lit("nope")
    )
    tables = _make_tables(tmp_path)
    import pytest

    with pytest.raises(ValueError, match="unknown table"):
        CdcPipeline(spark, tables).apply_batch(mixed, batch_id=0, skip_offsets_filter=True)
    # consume-and-skip: offsets advance, no rows land anywhere
    st = CdcPipeline(spark, tables, on_unknown="ignore").apply_batch(
        mixed, batch_id=0, skip_offsets_filter=True)
    assert st.unknown_events == 400
    for t in tables.values():
        assert t.read(spark).count() == 0
        assert t.offsets() == st.global_offsets


def test_parallel_apply_equals_serial(spark, tmp_path):
    """max_parallel_tables overlaps the per-table merges in driver
    threads (r06 optimization); the per-table state, offsets, and merge
    stats must be IDENTICAL to the serial path."""
    mixed = _mixed_changelog(spark)
    serial = _make_tables(tmp_path / "s")
    par = _make_tables(tmp_path / "p")
    st_s = CdcPipeline(spark, serial).apply_batch(mixed, batch_id=0, skip_offsets_filter=True)
    st_p = CdcPipeline(spark, par, max_parallel_tables=2).apply_batch(
        mixed, batch_id=0, skip_offsets_filter=True)
    assert st_p.global_offsets == st_s.global_offsets
    for name in serial:
        got = normalize(par[name].read(spark).toPandas(), PAYLOAD)
        want = normalize(serial[name].read(spark).toPandas(), PAYLOAD)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        assert par[name].offsets() == serial[name].offsets()
        a, b = st_p.per_table[name], st_s.per_table[name]
        assert (a.upserts, a.deletes, a.conflicts_resolved,
                a.rows_written) == (
            b.upserts, b.deletes, b.conflicts_resolved, b.rows_written)
        assert a.per_partition == b.per_partition
