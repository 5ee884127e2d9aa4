"""Schema-evolution suite: the ``tool`` column appears mid-stream
(FIXTURES.md §4 ``changelog_evolved``; reference analog: DDL WITH mode,
``exec/ImportExecutor.java:137-159``)."""

import pandas.testing as pdt

from polardbx_tools_spark.changelog.generator import (
    ChangelogSpec,
    generate_changelog,
    split_for_evolution,
)
from polardbx_tools_spark.pipeline import CdcPipeline

from tests.oracle import normalize, replay_oracle

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_tool_column_appears_mid_stream(spark, tmp_table_path):
    evo = 1000
    spec = ChangelogSpec(n_events=2000, n_convs=100, seed=21, evolution_lsn=evo)
    cl = generate_changelog(spark, spec)
    pre, post = split_for_evolution(cl, evo)
    assert "tool" not in pre.columns and "tool" in post.columns

    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=8)
    # phase 1: early-stream schema (no tool column anywhere)
    pipe.ensure_table(with_tool=False)
    pipe.run(pre, batch_lsns=500, max_lsn=evo - 1)
    assert "tool" not in [f.name for f in pipe.table.schema.fields]

    # phase 2: evolved events — engine must ADD COLUMN additively
    pipe.run(post, batch_lsns=500, max_lsn=1999)
    names = [f.name for f in pipe.table.schema.fields]
    assert "tool" in names, "schema must evolve additively mid-stream"

    got = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    want = normalize(replay_oracle(cl.toPandas(), PAYLOAD), PAYLOAD)
    # oracle carries tool for pre-evolution events as generated (NULL before
    # evolution_lsn by construction), matching the engine's NULL backfill
    pdt.assert_frame_equal(got, want, check_dtype=False)


def test_pre_evolution_rows_read_as_null(spark, tmp_table_path):
    evo = 600
    spec = ChangelogSpec(
        n_events=1200, n_convs=60, seed=22, evolution_lsn=evo, insert_phase_pct=100
    )
    cl = generate_changelog(spark, spec)
    pre, post = split_for_evolution(cl, evo)
    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=8)
    pipe.ensure_table(with_tool=False)
    pipe.run(pre, batch_lsns=600, max_lsn=evo - 1)
    pipe.run(post, batch_lsns=600, max_lsn=1199)

    df = pipe.read_transcripts().toPandas()
    assert "tool" in df.columns
    # at least one post-evolution tool-role row carries a tool value
    assert df["tool"].notna().any()
    # rows last touched before evolution read tool as NULL (old files
    # never rewritten, scanned with the evolved schema)
    assert df["tool"].isna().any()


def test_type_drift_is_rejected_before_commit(spark, tmp_table_path):
    """A same-name column arriving with a DIFFERENT type must fail at
    schema-evolution time — before anything commits — instead of being
    silently skipped and writing files whose physical type contradicts
    the manifest (review finding)."""
    import pytest as _pytest
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    pipe = CdcPipeline(spark, tmp_table_path, bucket_count=4)
    table = pipe.ensure_table(with_tool=False)
    drifted = StructType([StructField("turn_idx", StringType(), True)])
    with _pytest.raises(ValueError, match="additive-only"):
        table.evolved_schema(drifted)
    # same-name same-type remains a no-op, new columns still append
    ok = StructType([
        StructField("turn_idx", IntegerType(), True),
        StructField("brand_new", StringType(), True),
    ])
    evolved = table.evolved_schema(ok)
    assert "brand_new" in [f.name for f in evolved.fields]


def test_non_identifier_column_arrives_mid_stream(spark, tmp_path):
    """A payload column whose name is not a bare SQL identifier
    (``tool-id``) arrives mid-stream. The engine builds its plans from
    SQL text, so every identifier must be quoted: COW, and MOR folding
    under delta pressure, both end oracle-equal, and the column reads
    back through ``incremental_changes``."""
    evo = 600
    spec = ChangelogSpec(n_events=1200, n_convs=30, max_turns=8, seed=23,
                         evolution_lsn=evo)
    cl = generate_changelog(spark, spec).withColumnRenamed("tool", "tool-id")
    pre = cl.filter(f"source_lsn < {evo}").drop("tool-id")
    post = cl.filter(f"source_lsn >= {evo}")
    as_tool = {"tool-id": "tool"}
    want = normalize(
        replay_oracle(cl.toPandas().rename(columns=as_tool), PAYLOAD), PAYLOAD
    )

    for mode, kwargs in (("cow", {}), ("mor", {"compact_deltas_over": 2})):
        pipe = CdcPipeline(spark, str(tmp_path / mode), bucket_count=4,
                           merge_mode=mode)
        pipe.ensure_table(with_tool=False)
        pipe.run(pre, batch_lsns=100, max_lsn=evo - 1, **kwargs)
        v_pre = pipe.table.current_version()
        pipe.run(post, batch_lsns=100, max_lsn=1199, **kwargs)
        table = pipe.table
        assert "tool-id" in table.schema.fieldNames(), mode

        got = pipe.read_transcripts().toPandas().rename(columns=as_tool)
        pdt.assert_frame_equal(normalize(got, PAYLOAD), want, check_dtype=False)
        if mode == "mor":  # a fold rewrote a bucket after the evolution
            assert set(table.snapshot().base_files()) - set(
                table.snapshot(v_pre).base_files()
            )

        inc = table.incremental_changes(spark, from_version=v_pre)
        assert "tool-id" in inc.columns
        composed = (
            table.read(spark, version=v_pre)
            .join(inc.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"],
                  "left_anti")
            .unionByName(inc.filter("_change_type = 'upsert'").drop("_change_type"),
                         allowMissingColumns=True)
        )
        got = composed.toPandas().rename(columns=as_tool)
        pdt.assert_frame_equal(normalize(got, PAYLOAD), want, check_dtype=False)
