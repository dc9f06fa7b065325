"""Physical-plan assertions: the properties that make these queries scale
(pushdown, pruning, top-k short-circuit, optimizer-chosen joins) are pinned
as tests so a regression is visible before a benchmark run."""

from __future__ import annotations

import pytest

from gofeed_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    plan = plan_of(spark, "q02_filter_ineq_time")
    assert "PushedFilters:" in plan
    assert "event_type" in plan.split("PushedFilters:")[1][:300]


def test_column_pruning_in_scan(spark):
    plan = plan_of(spark, "q01_scan_project")
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in schema and "o_orderpriority" not in schema


def test_sort_limit_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q04_sort_limit")


def test_join_strategy_left_to_optimizer(spark):
    # no user hint survives into the optimized plan for the SF-scaled join
    df = QUERIES["q10_inner_join"](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "UnresolvedHint" not in optimized


def test_agg_has_map_side_partial(spark):
    # partial_sum before the exchange = map-side combine; the shuffle moves
    # one row per (group, partition), not one per input row
    plan = plan_of(spark, "q06_groupby_multiagg")
    assert "partial_sum" in plan and plan.index("partial_sum") > plan.index("Exchange")


def test_no_cartesian_anywhere_in_primary_pair_search(spark):
    plan = plan_of(spark, "q58_topk_pairs_lsh")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_index_probe_is_partition_pruned(spark, tmp_path):
    """The pre-bucketed ANN layout: a probe read must show PartitionFilters
    on the bucket key (files of other buckets never open), and the probe
    must find the query's nearest neighbors exactly like the scan path."""
    from pyspark.sql import functions as F

    from gofeed_spark.operators.similarity import build_ann_index, probe_ann_index

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ann_srp")
    build_ann_index(emb, path, n_planes=4, dim=64)
    qv = emb.filter(F.col("vec_id") == 1).collect()[0].embedding
    probe = probe_ann_index(spark, path, qv, k=3, n_planes=4, dim=64, exclude_id=1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "bucket" in pf and ("isnotnull" in pf or "=" in pf)
    # self-match invariant: vec 1's own bucket contains it; nearest result
    # is deterministic and matches the unpartitioned scan-path operator
    from gofeed_spark.operators.similarity import lsh_bucket_topk

    want = {(r.rank, r.neighbor_id) for r in lsh_bucket_topk(emb, 1, k=3).collect()}
    got = {(r.rank, r.neighbor_id) for r in probe.collect()}
    assert got == want


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    from pyspark.sql import functions as F

    from gofeed_spark.operators.similarity import build_ivf_index, probe_ivf_index

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ann_ivf")
    codebook = build_ivf_index(emb, path, n_cells=8)
    qv = emb.filter(F.col("vec_id") == 1).collect()[0].embedding
    probe = probe_ivf_index(spark, path, codebook, qv, k=3, n_probe=2, exclude_id=1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in pf
    got = [r.neighbor_id for r in probe.collect()]
    assert len(got) == 3 and 1 not in got


def test_token_packing_window_is_partitioned(spark):
    """q76's running sum must never route the corpus through a
    single-partition window (the classic global-cumsum scale-killer): the
    Window node is keyed by the range-partition id and no SinglePartition
    exchange exists anywhere in the plan."""
    plan = plan_of(spark, "q76_token_packing")
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__pid" in plan




def test_decontamination_plans_have_no_shuffle(spark):
    """Both decontamination checks (q87 n-gram, q88 semantic) move the
    BENCHMARK to the corpus (broadcast set / matrix), never the corpus to
    a join: the corpus-side plan must contain zero KEYED exchanges
    (hash/range partitioning — a join or agg pulling the corpus across
    the wire) — the shape that survives a 100 TB corpus unchanged.  A
    RoundRobinPartitioning is permitted: that is ``parallel_floor``
    widening a split-starved LOCAL scan (single-row-group parquet), and
    its guard no-ops on any well-split warehouse table."""
    from gofeed_spark.queries import QUERIES

    for name in ("q87_decontamination", "q88_semantic_decontamination"):
        plan = (
            QUERIES[name](spark, "/root/testdata/sf0.01")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning" not in plan, f"{name}: {plan[:400]}"
        assert "Exchange rangepartitioning" not in plan, f"{name}: {plan[:400]}"
        assert "SortMergeJoin" not in plan, f"{name}: {plan[:400]}"


def test_q41_minhash_pairs_plan_shape(spark):
    """q41's MinHash-LSH pair search keeps the shape its optimization won:
    the signature payload rides the band groups (no broadcast join back to
    the documents, no cached relation), and the Arrow boundary is crossed
    at most twice (measured: one MapInPandas, two Exchanges)."""
    plan = plan_of(spark, "q41_minhash_lsh_pairs")
    assert plan.count("BroadcastHashJoin") == 0, plan
    assert plan.count("InMemoryRelation") == 0, plan
    assert plan.count("MapInPandas") <= 2, plan


def test_plan_lint_sweep_every_registered_query(spark):
    """Engine-wide physical-plan lint over EVERY registered query: no
    CartesianProduct may appear anywhere (an unintended cross join is the
    classic silent 100TB-killer), and no row-at-a-time Python evaluation
    (BatchEvalPython) — Python is allowed only behind Arrow (mapInPandas /
    pandas UDF nodes).  One declared exception: q78 is a Python UDTF by
    design (the SQL LATERAL table-function surface), whose exec node is
    BatchEvalPythonUDTF.  Also engine-wide (was a hand-picked list the
    round-12 queries slipped past): no EMPTY window partition spec —
    WindowExec moves ALL rows to one partition on an empty spec, the
    classic global-window scale-killer; bounded post-limit rankings go
    through functions/ranking instead.  New queries are linted
    automatically the moment they register."""
    import re

    allow_batch_python = {"q78_udtf_sentences"}
    offenders = {}
    for name in QUERIES:
        plan = plan_of(spark, name)
        hits = []
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if "BatchEvalPython" in plan and name not in allow_batch_python:
            hits.append("BatchEvalPython")
        for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
            first_arg = m.group(1).split(",")[0]
            # no partition expressions => the first argument is already an
            # ORDER spec (prints with a sort direction)
            if " ASC" in first_arg or " DESC" in first_arg:
                hits.append(f"empty window spec: {m.group(0)[:80]}")
        if hits:
            offenders[name] = hits
    assert not offenders, f"plan lint offenders: {offenders}"


def test_minhash_probe_never_shuffles_the_index(spark, tmp_path):
    """q100's posture claim, pinned: with broadcast_batch (the incremental
    contract) the probe plan contains ONLY BroadcastHashJoins — no
    Exchange ever touches the index scans, so the standing corpus never
    reshuffles no matter its size."""
    from gofeed_spark.operators.dedup import build_minhash_index, probe_minhash_index

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(50)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_plan_idx")
    build_minhash_index(corpus, path)
    batch = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta 7")], "doc_id long, text string"
    )
    out = probe_minhash_index(spark, path, batch, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # every JOIN is broadcast — the index scans stream, never sort/shuffle
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the single allowed hash Exchange is the candidate-pair dedup: slim
    # (dup_of, new_id) rows, volume = band collisions, independent of
    # corpus size.  Anything more means an index-side shuffle crept in.
    shuffles = [
        line.strip()
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert len(shuffles) <= 1, shuffles
    assert all("dup_of" in s and "new_id" in s for s in shuffles), shuffles


def test_filtered_ann_probe_pushes_predicate_beside_pruning(spark, tmp_path):
    """q109's posture, pinned: the metadata predicate of a filtered probe
    lands in the parquet scan's PushedFilters while the bucket stays in
    PartitionFilters — filter evaluation is row-group pruning inside the
    pruned directory, never a post-scan pass over other buckets."""
    from gofeed_spark.operators.similarity import build_ann_index, probe_ann_index
    from pyspark.sql import functions as F
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [
        (i, rng.randn(8).tolist(), i % 3) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    path = str(tmp_path / "fann")
    build_ann_index(emb, path, n_planes=3, dim=8, meta_cols=("label",))
    out = probe_ann_index(
        spark, path, rows[0][1], k=3, n_planes=3, dim=8, where=F.col("label") == 1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    assert "PartitionFilters" in scan and "bucket" in scan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in scan
    pushed = scan.split("PushedFilters:")[1][:200]
    assert "label" in pushed, pushed
    labels = {r.neighbor_id % 3 for r in out.collect()}
    assert labels == {1}  # only label-1 rows survive


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_table_read_join_shapes(spark, tmp_path, fmt):
    """The table core's read shapes, pinned identically for both formats:
    the basename map join exists only to attach per-file values — none
    for an unpartitioned read without deletes, ONE for a partitioned read
    — and deletion vectors apply as ONE left-anti join on (__file,
    __pos)."""
    from pyspark.sql import functions as F

    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I

    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    flat, part, dv = (str(tmp_path / n) for n in ("flat", "part", "dv"))
    if fmt == "delta":
        D.write_delta(df, flat)
        D.write_delta(df, part, partition_by=["g"])
        D.write_delta(df, dv)
        D.delete_delta_rows(spark, dv, "k % 5 = 0", dv=True)
        read = lambda p: D.read_delta(spark, p)  # noqa: E731
    else:
        I.write_iceberg(df, flat)
        I.write_iceberg(df, part, partition_by=["g"])
        I.write_iceberg(df, dv, format_version=3)
        I.delete_iceberg_rows(spark, dv, "k % 5 = 0")  # v3: deletion vectors
        read = lambda p: I.read_iceberg(spark, p)  # noqa: E731

    def joins(p):
        plan = read(p)._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "Join" in ln]

    assert joins(flat) == []
    part_joins = joins(part)
    assert len(part_joins) == 1 and "BroadcastHashJoin" in part_joins[0]
    (anti,) = [ln for ln in joins(dv) if "LeftAnti" in ln]
    assert "__file" in anti and "__pos" in anti
    assert read(dv).count() == 16
