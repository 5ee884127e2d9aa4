"""Physical-plan assertions (SURVEY.md §4: "confirm via plan inspection
in tests"): predicate pushdown, column pruning, broadcast joins, and the
merge's single-shuffle shape."""

import re

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR

# py4j round trips one merge_into may make (see
# test_merge_plan_construction_py4j_budget)
MERGE_PY4J_BUDGET = 600


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") < 25).select("l_orderkey", "l_quantity")
    p = plan(df)
    assert "PushedFilters" in p and "LessThan(l_quantity,25" in p


def test_column_pruning_readschema(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    p = plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_broadcast_join_for_small_dim(spark):
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    r = spark.read.parquet(f"{SF_DIR}/region.parquet")
    df = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    assert "BroadcastHashJoin" in plan(df)


def test_merge_plan_single_shuffle_and_bucket_pruned_scan(spark, tmp_path):
    """The merge's write plan must contain exactly ONE exchange (the
    (bucket, salt) window shuffle) and scan only affected-bucket files."""
    import datetime as dt

    from polardbx_tools_spark.changelog.generator import changelog_schema
    from polardbx_tools_spark.pipeline import CdcPipeline
    from polardbx_tools_spark.lake.table import BOOKKEEPING_COLS

    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=8)
    pipe.ensure_table(with_tool=True)
    rows = [
        ("I", f"c{i}", t, "user", f"x{i}", None,
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i * 10 + t, 0)
        for i in range(30) for t in range(2)
    ]
    batch = spark.createDataFrame(rows, changelog_schema(True))
    pipe.apply_batch(batch, batch_id=0)

    # second batch touches ONE conversation → one bucket
    one = spark.createDataFrame(
        [("U", "c7", 0, "user", "patched", None,
          dt.datetime(2024, 2, 1), 999, 0)],
        changelog_schema(True),
    )
    stats = pipe.apply_batch(one, batch_id=1)
    assert len(stats.affected_buckets) == 1

    # inspect the table read the merge would do for that bucket: the file
    # list itself is the pruning (no full-table scan possible by design)
    snap = pipe.table.snapshot()
    read_files = snap.files[str(stats.affected_buckets[0])]
    all_files = [f for fl in snap.files.values() for f in fl]
    assert 0 < len(read_files) < len(all_files)


def _second_merge(spark, tmp_path, mode):
    """Merge batch 0 of a small changelog (8 source partitions) into a
    fresh table; return a thunk that merges batch 1, which rewrites every
    key of batch 0 — in MOR (K=1) it folds every touched bucket, in
    ``mor-unfolded`` and ``mor-local`` (no K) it folds none. The
    ``mor-unfolded`` batches are read from parquet, as a file tail's
    are, so their size is known to be small; the others are local rows
    of unknown size."""
    import datetime as dt

    from polardbx_tools_spark.changelog.generator import (
        changelog_schema,
        transcripts_schema,
    )
    from polardbx_tools_spark.lake.merge import KEY_COLS, merge_into
    from polardbx_tools_spark.lake.table import LakeTable

    merge_mode = mode.split("-")[0]
    table = LakeTable.create(str(tmp_path / mode), transcripts_schema(True),
                             bucket_count=4, key_cols=KEY_COLS)
    batches = [spark.createDataFrame([
        ("I", f"c{i}", t, "user", f"x{i}-{k}", None,
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=100 * k + i),
         1000 * k + 10 * i + t, (i + t) % 8)
        for i in range(30) for t in range(2)
    ], changelog_schema(True)) for k in range(2)]
    if mode == "mor-unfolded":
        for k, df in enumerate(batches):
            df.write.parquet(str(tmp_path / f"batch{k}"))
        batches = [spark.read.parquet(str(tmp_path / f"batch{k}")) for k in range(2)]

    def merge(k):
        return merge_into(spark, table, batches[k], batch_id=k, mode=merge_mode,
                          compact_deltas_over=1 if mode == "mor" else None)

    def second():
        stats = merge(1)
        deltas = table.snapshot().deltas
        if mode == "mor":  # folded: the touched buckets hold no deltas
            assert stats.affected_buckets and not deltas
        if mode == "mor-unfolded":  # not folded: the touched buckets hold deltas
            assert stats.affected_buckets and all(
                str(b) in deltas for b in stats.affected_buckets)
        return stats

    merge(0)
    return second


def test_merge_write_job_has_one_exchange(spark, tmp_path, monkeypatch):
    """merge_into's OWN write plan — COW, and MOR folding every touched
    bucket — has exactly one Exchange (the (bucket, salt) shuffle) and
    one Window (the key-change rank): dedup, the folded target rows and
    the write all reuse that one shuffle."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    for mode in ("cow", "mor"):
        _second_merge(spark, tmp_path, mode)()
        p = plan(written[-1])
        assert len(re.findall(r"\bExchange ", p)) == 1, (mode, p)
        assert len(re.findall(r"\bWindow \[", p)) == 1, (mode, p)
        assert "Union" in p, (mode, p)  # the target rows joined the shuffle


def test_unfolded_mor_merge_is_one_spark_job(spark, tmp_path, monkeypatch):
    """A merge-on-read merge that folds no bucket is ONE Spark job — no
    stats pre-pass, no second pass — and its write plan has no Exchange:
    the dedup window runs in place over the coalesced batch, which is
    written as one shared delta file. With a pre-pass and the merge
    shuffle it ran 4 jobs."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    second = _second_merge(spark, tmp_path, "mor-unfolded")
    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    jobs = _jobs_of(spark, "unfolded-mor-merge", second)
    assert len(jobs) == 1, sorted(jobs)
    assert len(written) == 1
    p = plan(written[0])
    assert "Exchange" not in p, p
    assert len(re.findall(r"\bWindow \[", p)) == 1, p


def test_unfolded_mor_merge_of_batch_not_known_small_shuffles(spark, tmp_path):
    """The narrow plan runs the whole batch in one task, so only a batch
    known to be small takes it. Local rows have no size estimate: their
    unfolded merge-on-read merge takes the pre-pass and the shuffle, and
    writes one delta file per touched bucket."""
    from polardbx_tools_spark.lake.table import LakeTable

    second = _second_merge(spark, tmp_path, "mor-local")
    jobs = _jobs_of(spark, "local-rows-mor-merge", second)
    assert len(jobs) > 1, sorted(jobs)
    deltas = LakeTable(str(tmp_path / "mor-local")).snapshot().deltas
    assert len(deltas) == 4
    for b, files in deltas.items():
        assert all(f.split("/")[-2] == f"b={b}" for f in files), files


def _jobs_of(spark, group, thunk):
    """The ids of the Spark jobs ``thunk()`` runs, through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        thunk()
    finally:
        sc.setJobGroup("", "")
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("mode", ["cow", "mor", "mor-unfolded"])
def test_merge_plan_construction_py4j_budget(spark, tmp_path, monkeypatch, mode):
    """Building a merge's plans costs a bounded number of py4j round
    trips: the hot path builds each stage from SQL text. One merge_into
    of an 8-partition batch (COW; MOR folding every touched bucket)
    made 2,300-2,750 round trips when its plans were built from Column
    objects, and 230-330 from SQL text. An unfolded MOR merge builds
    one narrow plan."""
    import py4j.clientserver

    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    calls = [0]

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    second = _second_merge(spark, tmp_path, mode)
    monkeypatch.setattr(conn, "send_command", counting)
    second()
    monkeypatch.undo()
    assert 0 < calls[0] <= MERGE_PY4J_BUDGET, calls[0]


def test_topk_plans_take_ordered_not_global_window(spark):
    """topk_orders must plan TakeOrderedAndProject (distributed partial
    top-k) — NOT a single-partition global window over the whole table."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["topk_orders"](spark, SF_DIR)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_dedup_and_ann_plans_avoid_nested_loops(spark):
    """The pair-generation joins must be equi-joins (hash/sort-merge or
    broadcast-hash), never CartesianProduct/BroadcastNestedLoop — the
    size-ratio prune and LSH bucketing exist precisely to keep the
    self-joins shuffle-partitionable."""
    from polardbx_tools_spark.operators import dedup, similarity

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plans = {
        "jaccard": plan(dedup.jaccard_pairs(d, threshold=0.8)),
        "minhash": plan(dedup.minhash_lsh_pairs(d)),
        "near_dup": plan(similarity.cosine_near_dup_pairs(e, dim=64)),
        "lsh_topk": plan(similarity.lsh_topk(e, e.filter("vec_id < 4"), dim=64)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, f"{name}: cartesian product\n{p}"
        assert "BroadcastNestedLoop" not in p, f"{name}: nested loop join\n{p}"
    # the small query side rides a broadcast in the ANN top-k paths
    assert "BroadcastHashJoin" in plans["lsh_topk"], plans["lsh_topk"]


def test_round4_numpy_paths_plan_shapes(spark):
    """Round-4 physical shapes: the PQ scorer prunes per-batch inside a
    MapInPandas BEFORE the global shortlist window (so the window's
    exchange sees queries*refine*partitions rows, not corpus*queries);
    the near-dup verify is bucket-grouped applyInPandas (one vector
    shuffle per (table,bucket), no per-pair verify join); the LSH sign
    mask rides one MapInPandas below the Generate. No cartesian/nested
    loop anywhere."""
    from polardbx_tools_spark.operators import similarity

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter("vec_id < 4")

    pq = plan(similarity.pq_topk(e, q, dim=64, k=5, m=8, ks=16, refine=40))
    assert "MapInPandas" in pq, pq
    # the shortlist window consumes the mapInPandas output directly:
    # the Window's exchange appears ABOVE the python node in the tree
    assert pq.index("Window") < pq.index("MapInPandas"), pq
    assert "CartesianProduct" not in pq and "BroadcastNestedLoop" not in pq, pq

    nd = plan(similarity.cosine_near_dup_pairs(e, dim=64))
    assert "FlatMapGroupsInPandas" in nd, nd  # bucket-local pairwise verify
    assert "SortMergeJoin" not in nd and "BroadcastHashJoin" not in nd, nd

    lsh = plan(similarity.lsh_topk(e, q, dim=64))
    assert "MapInPandas" in lsh, lsh  # np sign-mask scan feeds the explode
    assert lsh.index("Generate") < lsh.index("MapInPandas"), lsh


def test_semantic_dedup_plan_one_cell_shuffle_no_joins(spark):
    """semantic_dedup's physical shape: centroid literals ride the plan
    (no fit-side join), cell assignment is a projection over the
    streamed corpus, and the covering decision is ONE hash shuffle
    keyed by cell into a grouped Arrow pass — no join anywhere, so at
    100 TB the only data movement is the corpus partitioned by cell."""
    from polardbx_tools_spark.operators import similarity

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(similarity.semantic_dedup(e, dim=64, tau=0.4, n_clusters=8))
    assert "FlatMapGroupsInPandas" in p, p  # cell-grouped covering pass
    for node in ("CartesianProduct", "BroadcastNestedLoop",
                 "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in p, f"{node} in semantic_dedup plan\n{p}"
    # exactly one key shuffle: the groupBy(cell) (the widen repartition
    # is round-robin, not hashpartitioning)
    assert p.count("Exchange hashpartitioning") == 1, p


def test_spans_and_lm_plans_stay_jvm_equi_join(spark):
    """duplicate_spans and the bigram LM are pure JVM plans: no Python
    eval anywhere (window hashing / probability math are expressions),
    and every join is an equi-join — the span inventory joins back on
    its own int64 hash key, the LM scores join the count relations."""
    from polardbx_tools_spark.operators import dedup, lm

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sp = plan(dedup.duplicate_spans(d, window=20))
    ref = d.filter("doc_id % 2 = 0")
    lp = plan(lm.lm_perplexity(d, ref))
    for name, p in (("spans", sp), ("lm", lp)):
        assert "EvalPython" not in p, f"{name}: python in plan\n{p}"
        assert "CartesianProduct" not in p, f"{name}: cartesian\n{p}"
        assert "BroadcastNestedLoop" not in p, f"{name}: nested loop\n{p}"


def test_scan_skips_python_for_builtin_ops(spark):
    """No BatchEvalPython / ArrowEval in plans of built-in operators —
    the hot path stays in WholeStageCodegen."""
    from polardbx_tools_spark.operators import text

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = d.select(
        text.token_count(F.col("text")),
        text.quality_score(F.col("text")),
        text.fingerprint(F.col("text")),
    )
    p = plan(df)
    # all JVM-side: no Python eval anywhere in the operator plans
    # (higher-order array exprs don't codegen, but they stay in the JVM)
    assert "EvalPython" not in p

    simple = d.select(text.fingerprint(F.col("text")).alias("fp")).filter(
        F.col("fp").isNotNull()
    )
    # "*(n)" prefixes mark WholeStageCodegen stages in Spark 4 plan strings
    assert "*(1)" in plan(simple)


def test_range_join_is_equi_join_not_nested_loop(spark):
    """range_join's bin strategy must plan as a hash/sort-merge equi-join
    — never the BroadcastNestedLoopJoin/CartesianProduct Spark picks for
    raw inequality joins (which is |left| x |right| per key at scale)."""
    from polardbx_tools_spark.operators import temporal

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    left = ev.select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    win = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("w_start"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + F.lit(600_000_000)).alias("w_end"),
    )
    j = temporal.range_join(
        left, win, on=["user_id"], left_ts="ts_us",
        right_start="w_start", right_end="w_end", bin_width=600_000_000,
    )
    p = plan(j)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "Join" in p, p


def test_asof_join_single_shuffle(spark):
    """asof_join's union+carry plan must shuffle ONCE on the key (the
    window exchange) — no join node at all, hence no per-key pair
    explosion."""
    from polardbx_tools_spark.operators import temporal

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.filter(F.col("event_type") == "purchase").groupBy("user_id", "ts").agg(
        F.max("value").alias("v"))
    out = temporal.asof_join(ev, q, on=["user_id"], value_cols=["v"])
    p = plan(out)
    # the only exchanges: the window's hashpartitioning(user_id) plus the
    # pre-aggregated right side's own groupBy exchange
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
