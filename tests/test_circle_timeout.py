"""Circle (loop) replay and the per-batch wall timeout.

Reference: frodo ``--circle`` replays the workload repeatedly at max
pressure (``frodo/README.md:144-145``); ``--sql-timeout`` bounds each
statement (``MysqlWrapper.java:53-126``) — here the unit of work is the
microbatch, so the guard cancels the batch's Spark job group.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.pipeline import CdcPipeline


def _final_state(pipe):
    return sorted(
        tuple(r) for r in pipe.read_transcripts().collect()
    )


def test_circle_replay_converges_to_identical_state(spark, tmp_path):
    cl = generate_changelog(
        spark, ChangelogSpec(n_events=600, n_convs=40, seed=91)
    )
    once = CdcPipeline(spark, str(tmp_path / "once"), bucket_count=4)
    r1 = once.run(cl, batch_lsns=200, with_tool=True)

    looped = CdcPipeline(spark, str(tmp_path / "loop"), bucket_count=4)
    r3 = looped.run(cl, batch_lsns=200, with_tool=True, circle=3)

    assert r1.circles == 1 and r3.circles == 3
    # every pass re-drives the same window count at max pressure
    assert r3.batches == 3 * r1.batches
    # replayed events are exact-tie losers: applied but merged as no-ops,
    # so the final state is identical to the single pass
    assert _final_state(looped) == _final_state(once)
    # offsets did not move past the changelog head on replay passes
    assert looped.table.offsets() == once.table.offsets()


def test_circle_replay_passes_are_noops(spark, tmp_path):
    """On replay passes every source event must LOSE last-writer-wins
    (exact ties go to the target): conflicts == events, no upserts."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=300, n_convs=20, seed=17))
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4)
    res = pipe.run(cl, batch_lsns=300, with_tool=True, circle=2)
    first_pass, replay = res.stats[0], res.stats[-1]
    assert first_pass.upserts + first_pass.deletes > 0
    assert replay.batch_events == first_pass.batch_events
    assert replay.upserts == 0 and replay.deletes == 0
    assert replay.conflicts_resolved == replay.batch_events


def test_batch_timeout_fires_and_quarantines(spark, tmp_path):
    """An artificially slowed batch must be cancelled at the wall budget,
    recorded in _errors/timeout_batches.jsonl, and abort the run without
    advancing offsets."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=200, n_convs=10, seed=5))

    @F.udf("int")
    def slow(x):
        time.sleep(1.0)
        return x

    crawling = cl.withColumn("source_partition", slow("source_partition"))
    path = str(tmp_path / "t")
    pipe = CdcPipeline(spark, path, bucket_count=4)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="batch_timeout"):
        pipe.run(crawling, batch_lsns=200, max_lsn=200, with_tool=True,
                 batch_timeout=3.0)
    wall = time.time() - t0
    assert wall < 60, f"watchdog did not cancel promptly ({wall:.0f}s)"
    qfile = os.path.join(path, "_errors", "timeout_batches.jsonl")
    assert os.path.exists(qfile)
    rec = json.loads(open(qfile).readline())
    assert rec["batch_id"] == 0 and rec["timeout_sec"] == 3.0
    # offsets never advanced: the aborted window replays cleanly
    assert pipe.table.offsets() == {}
    res = pipe.run(cl, batch_lsns=200, max_lsn=200, with_tool=True,
                   batch_timeout=120.0)
    assert res.events_applied == 200


def test_batch_timeout_after_commit_records_overrun(spark, tmp_path, monkeypatch):
    """A watchdog that fires after the merge's Spark jobs ended (its
    driver-side commit tail) has nothing to cancel: the batch stays
    committed, the overrun is recorded as committed, and the run aborts."""
    from polardbx_tools_spark import pipeline as pipeline_mod

    cl = generate_changelog(spark, ChangelogSpec(n_events=200, n_convs=10, seed=5))
    # the same run without a budget: warms the session and is the state
    # the overrun batch must leave committed
    ref = CdcPipeline(spark, str(tmp_path / "ref"), bucket_count=4)
    ref.run(cl, batch_lsns=1000, with_tool=True)

    budget = 6.0
    real = pipeline_mod.merge_into

    def slow_tail(*args, **kwargs):
        t0 = time.time()
        stats = real(*args, **kwargs)
        time.sleep(max(0.0, t0 + budget + 1.0 - time.time()))
        return stats

    monkeypatch.setattr(pipeline_mod, "merge_into", slow_tail)
    path = str(tmp_path / "t")
    pipe = CdcPipeline(spark, path, bucket_count=4)
    with pytest.raises(RuntimeError, match="during its commit tail"):
        pipe.run(cl, batch_lsns=1000, with_tool=True, batch_timeout=budget)
    assert pipe.table.offsets() == ref.table.offsets() != {}
    assert _final_state(pipe) == _final_state(ref)
    with open(os.path.join(path, "_errors", "timeout_batches.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    assert recs == [{"batch_id": 0, "timeout_sec": budget, "committed": True}]


def test_batch_timeout_cancels_parallel_route_merges(spark, tmp_path, monkeypatch):
    """A routed run with ``max_parallel_tables=2`` merges its routes in
    driver threads. A slow Spark job inside a route merge must still be
    cancelled at the wall budget, and the timeout recorded under every
    route table's _errors with no offsets advanced."""
    from polardbx_tools_spark import pipeline as pipeline_mod
    from polardbx_tools_spark.lake.table import LakeTable

    cl = generate_changelog(
        spark, ChangelogSpec(n_events=200, n_convs=10, seed=5)
    ).withColumn(
        "schema", F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "a").otherwise("b")
    )

    @F.udf("long")
    def slow(x):
        time.sleep(2.0)
        return x

    real = pipeline_mod.merge_into

    def slow_merge(*args, **kwargs):
        # 20 rows in one task: 40 s unless the watchdog cancels it
        spark.range(0, 20, 1, 1).select(slow("id")).collect()
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "merge_into", slow_merge)
    tables = {n: LakeTable(str(tmp_path / n)) for n in ("a", "b")}
    pipe = CdcPipeline(spark, tables, bucket_count=4, max_parallel_tables=2)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="was cancelled"):
        pipe.run(cl, batch_lsns=1000, max_lsn=200, with_tool=True,
                 batch_timeout=3.0)
    wall = time.time() - t0
    assert wall < 30, f"watchdog did not cancel the route merges ({wall:.0f}s)"
    for t in tables.values():
        assert t.offsets() == {}
        with open(os.path.join(t.path, "_errors", "timeout_batches.jsonl")) as f:
            recs = [json.loads(line) for line in f]
        assert [(r["batch_id"], r["timeout_sec"]) for r in recs] == [(0, 3.0)]
        assert "cancel" in recs[0]["error"].lower()
