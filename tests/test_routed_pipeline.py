"""A routed ``CdcPipeline`` (one mixed changelog, N lake tables) keeps the
one-table engine's quarantine and lineage contract: every malformed
event is quarantined exactly once, under its route table's ``_errors``;
every committed batch writes one lineage row per (table, source
partition); the ``max_errors`` gate fires; and a resumed run quarantines
nothing twice."""

import os
import time

import pandas.testing as pdt
import pytest
from pyspark.sql import functions as F

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.lake.table import LakeTable
from polardbx_tools_spark.pipeline import CdcPipeline

from oracle import normalize, replay_oracle

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "ts"]
ROUTES = ("alpha", "beta")
BATCH_LSNS = 300
# source_lsn -> how the event is broken. 350 and 420 sit in window 1,
# the window a resume after two batches scans again.
MALFORMED = {120: "null_key", 350: "bad_op", 420: "null_ts",
             500: "null_key", 700: "bad_op", 1000: "null_ts", 1100: "null_key"}


def _mixed(spark, malformed):
    cl = generate_changelog(
        spark, ChangelogSpec(n_events=1200, n_convs=40, max_turns=8, seed=31)
    ).drop("tool").withColumn(
        "schema",
        F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "alpha").otherwise("beta"),
    )
    lsn = F.col("source_lsn")

    def broken(kind):
        return lsn.isin([k for k, v in malformed.items() if v == kind])

    return cl.select(
        F.when(broken("bad_op"), F.lit("X")).otherwise(F.col("op")).alias("op"),
        F.when(broken("null_key"), F.lit(None)).otherwise(F.col("conv_id")).alias("conv_id"),
        "turn_idx", "role", "text",
        F.when(broken("null_ts"), F.lit(None)).otherwise(F.col("ts")).alias("ts"),
        "source_lsn",
        F.when(broken("null_partition"), F.lit(None))
        .otherwise(F.col("source_partition")).alias("source_partition"),
        "schema",
    )


def _pipeline(spark, tmp_path, max_errors=len(MALFORMED)):
    tables = {n: LakeTable(str(tmp_path / n)) for n in ROUTES}
    return CdcPipeline(spark, tables, bucket_count=4, max_errors=max_errors), tables


def _quarantined_lsns(spark, table):
    path = os.path.join(table.path, "_errors")
    if not os.path.exists(path):
        return []
    return sorted(r[0] for r in spark.read.parquet(path).select("source_lsn").collect())


def _run(spark, tmp_path, cl, stop_after=None):
    pipe, tables = _pipeline(spark, tmp_path)
    return pipe.run(cl, batch_lsns=BATCH_LSNS, stop_after_batches=stop_after), tables


def test_routed_run_quarantines_once_and_writes_lineage_per_table(spark, tmp_path):
    cl = _mixed(spark, MALFORMED)
    pdf = cl.toPandas()
    bad = pdf[pdf["source_lsn"].isin(MALFORMED)]
    want_bad = {n: sorted(bad[bad["schema"] == n]["source_lsn"]) for n in ROUTES}
    assert all(want_bad.values()), f"fixture must break events of every route: {want_bad}"

    # killed after two windows, then resumed by a fresh pipeline
    r1, tables = _run(spark, tmp_path, cl, stop_after=2)
    assert r1.batches == 2
    r2, _ = _run(spark, tmp_path, cl)
    assert r2.batches == 3, "the resume must scan window 1 again"
    assert r1.events_quarantined + r2.events_quarantined == len(MALFORMED)

    good = pdf[~pdf["source_lsn"].isin(MALFORMED)]
    for name, t in tables.items():
        # each malformed event once, in its own route table's _errors
        assert _quarantined_lsns(spark, t) == want_bad[name]
        # one lineage row per (committed batch, source partition)
        lin = t.read_lineage(spark).toPandas()
        got = sorted(zip(lin["source_partition"], lin["offsets_applied"], lin["rows_merged"]))
        want = sorted(
            (p, v["max_lsn"], v["winners"])
            for st in r1.stats + r2.stats
            for p, v in st.per_table[name].per_partition.items()
        )
        assert got == want and got
        assert not lin.duplicated(["batch_id", "source_partition", "offsets_applied"]).any()
        # the well-formed events of the route, and only those, merged
        part = good[good["schema"] == name].drop(columns=["schema"])
        pdt.assert_frame_equal(
            normalize(t.read(spark).toPandas(), PAYLOAD),
            normalize(replay_oracle(part, PAYLOAD), PAYLOAD),
            check_dtype=False,
        )


def test_routed_run_max_errors_gate_raises(spark, tmp_path):
    cl = _mixed(spark, MALFORMED)
    pipe, tables = _pipeline(spark, tmp_path, max_errors=0)
    with pytest.raises(RuntimeError, match="maxErrors=0"):
        pipe.run(cl, batch_lsns=BATCH_LSNS)
    # the first window's malformed event was quarantined before the gate
    assert sum(len(_quarantined_lsns(spark, t)) for t in tables.values()) == 1


@pytest.mark.xfail(
    strict=True, raises=AssertionError,
    reason="ROADMAP defect 1(c): a resumed run quarantines a NULL-source_partition "
           "event of the rescanned window a second time",
)
def test_resume_across_null_source_partition_quarantines_once_defect_1c(spark, tmp_path):
    malformed = {420: "null_partition"}
    cl = _mixed(spark, malformed)
    _run(spark, tmp_path, cl, stop_after=2)
    _, tables = _run(spark, tmp_path, cl)
    assert sorted(lsn for t in tables.values() for lsn in _quarantined_lsns(spark, t)) == [420]


def test_routed_read_transcripts_names_route_tables(spark, tmp_path):
    pipe, _ = _pipeline(spark, tmp_path)
    with pytest.raises(ValueError, match=r"LakeTable\.read: \['alpha', 'beta'\]"):
        pipe.read_transcripts()


def test_routed_wall_ms_is_the_batch_wall_clock(spark, tmp_path, monkeypatch):
    """With ``max_parallel_tables=2`` the two route merges overlap, so the
    routed batch's ``wall_ms`` (what ``run(monitor=True)`` divides by) is
    its own wall clock, not the sum of the merges' times."""
    from polardbx_tools_spark import pipeline as pipeline_mod

    real = pipeline_mod.merge_into

    def slow_merge(*args, **kwargs):
        t0 = time.time()
        time.sleep(1.0)
        st = real(*args, **kwargs)
        # the sleep is part of this route merge: count it in its wall_ms
        st.wall_ms = int((time.time() - t0) * 1000)
        return st

    tables = {n: LakeTable(str(tmp_path / n)) for n in ROUTES}
    pipe = CdcPipeline(spark, tables, bucket_count=4, max_parallel_tables=2)
    pipe.ensure_table()
    cl = _mixed(spark, {}).cache()
    # warm-up batch at full speed, so the timed batch's routing pass is
    # not the session's first scan of the changelog
    pipe.apply_batch(cl.filter("source_lsn < 600"), batch_id=0)
    monkeypatch.setattr(pipeline_mod, "merge_into", slow_merge)
    t0 = time.time()
    st = pipe.apply_batch(cl.filter("source_lsn >= 600"), batch_id=1)
    elapsed_ms = (time.time() - t0) * 1000
    cl.unpersist()
    assert all(s.batch_events for s in st.per_table.values()) and len(st.per_table) == 2
    assert st.wall_ms <= elapsed_ms, (st.wall_ms, elapsed_ms)
