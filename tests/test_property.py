"""Property-based merge testing (hypothesis): for ANY changelog —
arbitrary op mix, duplicate keys, ties, out-of-order timestamps, batch
boundaries — the engine's final state equals the sequential pandas
oracle. Complements the fixed-seed suites with adversarial inputs."""

import datetime as dt

import pandas.testing as pdt
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polardbx_tools_spark.changelog.generator import changelog_schema
from polardbx_tools_spark.pipeline import CdcPipeline

from tests.oracle import normalize, replay_oracle

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
T0 = dt.datetime(2024, 1, 1)

# events: op, conv (small key space → lots of collisions), turn, ts-offset
event_st = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, 3),        # conv
    st.integers(0, 2),        # turn
    st.integers(0, 20),       # ts seconds (ties likely)
    st.text(alphabet="abcxyz ,\"\n", min_size=0, max_size=8),
)
changelog_st = st.lists(event_st, min_size=1, max_size=40)


def to_rows(events):
    rows = []
    for lsn, (op, conv, turn, ts_s, text) in enumerate(events):
        is_d = op == "D"
        rows.append((
            op,
            f"c{conv}",
            turn,
            None if is_d else "user",
            None if is_d else text,
            None,
            T0 + dt.timedelta(seconds=ts_s),
            lsn,
            conv % 2,  # source partition keyed by conv (per-key monotone lsn)
        ))
    return rows


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=changelog_st, batch_size=st.sampled_from([5, 16, 1000]))
def test_engine_equals_oracle_for_any_changelog(spark, tmp_path_factory, events, batch_size):
    import pandas as pd

    table_path = str(tmp_path_factory.mktemp("prop") / "t")
    rows = to_rows(events)
    df = spark.createDataFrame(rows, changelog_schema(with_tool=True))

    pipe = CdcPipeline(spark, table_path, bucket_count=4)
    pipe.run(df, batch_lsns=batch_size, with_tool=True)

    got = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    cl_pd = pd.DataFrame(rows, columns=[
        "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "source_lsn", "source_partition",
    ])
    want = normalize(replay_oracle(cl_pd, PAYLOAD), PAYLOAD)
    pdt.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=changelog_st, split_batch=st.booleans())
def test_multi_table_routed_equals_per_route_oracle(
    spark, tmp_path_factory, events, split_batch
):
    """For ANY changelog routed by a derived schema column across two
    tables (one or two mixed batches), each table's final state equals
    the pandas replay of its route slice, and both ledgers carry the
    global offsets."""
    import pandas as pd

    from pyspark.sql import functions as F

    from polardbx_tools_spark.lake.table import LakeTable

    base = tmp_path_factory.mktemp("mprop")
    rows = to_rows(events)
    df = spark.createDataFrame(rows, changelog_schema(with_tool=True))
    mixed = df.withColumn(
        "schema", F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, "a")
        .otherwise("b"),
    )
    from pyspark.sql.types import StructType
    payload_schema = StructType(
        [f for f in changelog_schema(with_tool=True).fields
         if f.name not in ("op", "source_lsn", "source_partition")]
    )
    tables = {
        n: LakeTable.create(str(base / n), payload_schema,
                            bucket_key="conv_id", bucket_count=4,
                            key_cols=("conv_id", "turn_idx"))
        for n in ("a", "b")
    }
    pipe = CdcPipeline(spark, tables)
    if split_batch and len(rows) > 2:
        mid = len(rows) // 2
        pipe.apply_batch(mixed.filter(F.col("source_lsn") < mid), 0,
                         skip_offsets_filter=True)
        st_ = pipe.apply_batch(mixed.filter(F.col("source_lsn") >= mid), 1,
                               skip_offsets_filter=True)
    else:
        st_ = pipe.apply_batch(mixed, 0, skip_offsets_filter=True)

    mixed_pd = mixed.toPandas()
    for name, t in tables.items():
        part = mixed_pd[mixed_pd["schema"] == name].drop(columns=["schema"])
        want = normalize(replay_oracle(part, PAYLOAD), PAYLOAD)
        got = normalize(t.read(spark).toPandas(), PAYLOAD)
        pdt.assert_frame_equal(got, want, check_dtype=False)
    # both ledgers identical (global offsets) and cover the last batch
    offs = [t.offsets() for t in tables.values()]
    assert offs[0] == offs[1]
    for p, lsn in st_.global_offsets.items():
        assert offs[0][p] >= lsn


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=1, max_size=40,
))
def test_duplicate_clusters_paths_agree_for_any_graph(spark, edges):
    """BOTH physical paths of duplicate_clusters (driver union-find and
    distributed min-label propagation) must reach the identical
    min-reachable-id fixpoint on ANY pair graph — self-loops, duplicate
    edges, chains, cliques — and match a pure-python BFS oracle."""
    from polardbx_tools_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    driver = {(r["doc_id"], r["cluster_id"])
              for r in dedup.duplicate_clusters(pairs).collect()}
    dist = {(r["doc_id"], r["cluster_id"])
            for r in dedup.duplicate_clusters(
                pairs, max_iterations=60, driver_max_edges=0).collect()}

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, seen = set(), set()
    for v in adj:
        if v in seen:
            continue
        comp, stack = {v}, [v]
        while stack:
            for y in adj[stack.pop()]:
                if y not in comp:
                    comp.add(y)
                    stack.append(y)
        seen |= comp
        m = min(comp)
        want |= {(u, m) for u in comp}
    assert driver == want
    assert dist == want
