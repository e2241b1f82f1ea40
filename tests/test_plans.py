"""Physical-plan shape pins: the 100 TB-critical properties must hold.

- flagship PIP join: broadcast hash join, zero shuffle of the image stream
- nearest-grid join ring-1 fast path: one broadcast hash join, no union,
  k=1 as a partial min_by aggregate (no window)
- parquet scans: predicate pushdown + column pruning reach the scan
- group-bys: partial (map-side) aggregation
- opc_append, audio/frame pipelines: no shuffle of the fact or payload rows
- sessionize: one Exchange for the whole DAG
- AQE: a shuffled join splits the planted hot cell
- window top-k: WindowGroupLimit trims map-side before the exchange
- dedup's bucketed self-joins: shuffled hash join, never broadcast
- minhash's per-gram id rows: a codegen'd posexplode, no lambda
- PQ/IVF constants: the codebook is one folded Literal, and the py4j calls
  that build pq_topk, pq_encode and ivf_assign do not grow with its size
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geo_epic_spark import synth
from geo_epic_spark.operators.spatial import nearest_grid_join, pip_join
from geo_epic_spark.plans.checks import (
    codegen_stage_count,
    formatted_plan,
    has_broadcast_hash_join,
    pushed_filters,
    read_schemas,
    shuffle_free,
)


def test_pip_join_is_broadcast_and_shuffle_free(spark):
    imgs = synth.images_meta_df(spark, 1000).select("i", "cx", "cy")
    flds = synth.fields_df(spark, 50).select("poly_id", "xs", "ys")
    out = pip_join(imgs, flds, res=0.05, lon="cx", lat="cy")
    assert has_broadcast_hash_join(out)
    # the image stream must not shuffle: broadcast exchanges only
    assert shuffle_free(out)
    assert codegen_stage_count(out) >= 1


def test_nearest_grid_ring1_is_one_broadcast_join(spark):
    """max_ring=1 + fallback='drop' (the covered-raster path site
    assignment runs) compiles to ONE broadcast hash join and a partial
    min_by aggregate: no escalation Union, no row_number Window."""
    import re

    imgs = synth.images_meta_df(spark, 1000).select("i", "cx", "cy")
    grid = synth.grid_df(spark, 25, 40, 0.125)
    plan = formatted_plan(nearest_grid_join(
        imgs, grid, res=0.125, point_id="i", point_lon="cx", point_lat="cy",
        max_ring=1, fallback="drop"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan
    assert "Union" not in plan and "Window" not in plan, plan
    assert "partial_min_by" in plan, plan


def test_parquet_scan_pushdown_and_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    synth.images_meta_df(spark, 1000).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(F.col("i") > 500).select("i", "cx")
    pf = pushed_filters(df)
    assert pf and any("i" in f and "500" in f for f in pf), pf
    rs = read_schemas(df)
    # only the two projected columns reach the scan
    assert rs and "cx" in rs[0] and "caption" not in rs[0], rs


def test_groupby_uses_partial_aggregation(spark):
    # partial (map-side) aggregation: two HashAggregate nodes around the
    # exchange — the shape that keeps 100 TB group-bys network-light
    from geo_epic_spark.plans.checks import formatted_plan

    df = (
        synth.images_meta_df(spark, 1000)
        .groupBy((F.col("i") % 10).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_opc_append_fact_side_shuffle_free(spark):
    """opc_append's offsets come from broadcast aggregates: the schedule
    fact streams must union without any hash-partition Exchange of the fact
    rows (only BroadcastExchange of the tiny per-group offset tables)."""
    from geo_epic_spark.operators.relational import opc_append

    first = spark.createDataFrame(
        [("a", 1, 3, 1, 2)], "site string, Yid int, Mn int, Dy int, CODE int")
    second = spark.createDataFrame(
        [("a", 1, 4, 2, 650)], "site string, Yid int, Mn int, Dy int, CODE int")
    plan = formatted_plan(opc_append(first, second, by=["site"]))
    import re
    # every Exchange must be a broadcast, never hashpartitioning of the facts
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert "hashpartitioning" not in m.group(1), plan


def test_media_pipelines_are_single_stage(spark):
    """Audio features and frame sampling are scan -> mapInPandas/pandas_udf
    with no shuffle: the payload never repartitions."""
    from geo_epic_spark import media

    a = media.synth_audio_df(spark, 4).select(
        "audio_id", media.audio_features("bytes", "sr").alias("f"))
    assert shuffle_free(a), formatted_plan(a)
    v = media.frame_sample(media.synth_video_df(spark, 4), every=2)
    assert shuffle_free(v), formatted_plan(v)


def test_sessionize_single_exchange(spark):
    """The sessionization DAG (lag window -> running-sum session id ->
    per-session rollup) must reuse ONE user_id hash partitioning: Catalyst
    recognizes HashPartitioning(user_id) satisfies the (user_id, session_no)
    clustering of the final aggregate, so 10^12 events shuffle exactly once."""
    import re

    import __spark_entry__ as entry

    df = entry.q_sessionize(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan


def test_aqe_skew_join_splits_hot_cell(spark):
    """North-rule AQE witness (r4 VERDICT item 4): on the planted hot cell
    (synth.images_meta_df puts 20% of rows in a 0.2x0.15 deg box — ONE
    0.25-deg covering cell, ~60x the median cell), a shuffled cell join
    under AQE skew settings must actually SPLIT the hot partition:
    `SortMergeJoin(skew=true)` with an `AQEShuffleRead ... skewed` input in
    the final adaptive plan. Thresholds are scaled to test bytes the same
    way they would be scaled to 256MB defaults at cluster scale — the
    mechanism, not the constant, is what's pinned. `add_salt`
    (q_salted_pip) is the manual alternative; this proves the automatic
    path the north rule names.

    Gotchas this test encodes (found while building it): AQE refuses
    the split when the join's partitioning is REUSED downstream (a
    groupBy on the join key right after would veto it — the downstream agg
    here is key-free), and the skew factor compares against the MEDIAN map
    partition, so the right side must be big enough not to be broadcast.
    """
    import re

    from geo_epic_spark import synth

    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in conf:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        pts = synth.images_meta_df(spark, 2_000_000).select("i", "cx", "cy")
        cell = (
            F.floor(F.col("cx") / 0.25).cast("long") * 10000
            + F.floor(F.col("cy") / 0.25).cast("long")
        ).alias("cell_id")
        left = pts.select("i", cell)
        right = left.select("cell_id").distinct().join(
            spark.range(20).select(F.col("id").alias("k")), how="cross")
        j = left.join(right, "cell_id").agg(F.count(F.lit(1)).alias("n"))
        (row,) = j.collect()
        assert row.n == 40_000_000  # every point x 20 payload rows
        plan = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert re.search(r"AQEShuffleRead.*skewed", plan), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_topk_window_trims_map_side(spark):
    """_ranked_topk relies on the optimizer's InferWindowGroupLimit: the
    rank-window-under-limit-filter shape must produce a
    WindowGroupLimit(Partial) BEFORE the per-query exchange, so each map
    partition forwards at most k rows per query instead of shipping the
    whole scored relation to one task per query. If this pin breaks on a
    Spark upgrade, reintroduce the manual two-phase rank (rank within
    (q_key, spark_partition_id()) first) retired in r5."""
    import re

    from geo_epic_spark.operators.similarity import cosine_topk

    vecs = synth.embeddings_synth_df(spark, 5000)
    q = (
        synth.embeddings_synth_df(spark, 5000)
        .filter(F.col("vec_id") % 1000 == 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    r = cosine_topk(vecs, q, k=5)
    assert r.count() == 25
    plan = r._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # Partial trim below the exchange, Final above it.
    assert re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", plan), plan
    assert re.search(r"WindowGroupLimit .*row_number\(\), 5, Final", plan), plan
    pre, _, post = plan.partition("Exchange hashpartitioning(q_id")
    assert "Partial" in post and "Final" in pre, plan


def _self_join_op(spark, op: str):
    """One of dedup's five bucketed self-join operators over a tiny local
    input — small enough that Catalyst would broadcast it unhinted."""
    from geo_epic_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(8)], "doc_id long, text string")
    if op == "ngram":
        return dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    if op == "minhash":
        return dedup.minhash_lsh_pairs(docs, threshold=0.3, num_hashes=8, bands=4)
    if op == "simhash":
        return dedup.simhash_dup_pairs(docs, max_hamming=3)
    if op == "hamming":
        phashes = spark.range(64).select(
            F.col("id").alias("img_id"), F.xxhash64("id").alias("h"))
        return dedup.hamming_near_dup_pairs(
            phashes, key="img_id", hash_col="h", max_hamming=4, n_blocks=6)
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(16)],
        "vec_id long, embedding array<double>")
    return dedup.embedding_near_dup_pairs(vecs, threshold=0.9, planes=4, bands=2)


@pytest.mark.parametrize("op", ["ngram", "minhash", "simhash", "hamming", "embedding"])
def test_bucket_self_join_is_shuffled(spark, op):
    """The pair-generating self-join (the join whose condition carries the
    ``a.key < b.key`` predicate) must be a ShuffledHashJoin even when the
    input is tiny: both sides are the same size, so a broadcast is a
    serial driver-side build at scale. ngram and minhash also join the
    pairs to per-doc lookups, which may broadcast; for the single-join
    operators the whole plan must be broadcast-free."""
    import re

    out = _self_join_op(spark, op)
    plan = formatted_plan(out)
    joins = re.findall(
        r"^\(\d+\) (\w*Join)\n(?:.+\n)*?Join condition: (.*)$", plan, re.M)
    pair_joins = [kind for kind, cond in joins if " < " in cond]
    assert pair_joins == ["ShuffledHashJoin"], plan
    if len(joins) == 1:
        assert not has_broadcast_hash_join(out), plan


def test_minhash_gram_rows_are_codegen_posexplode(spark):
    """minhash's per-gram id rows come from a posexplode with no lambda in
    the plan: a transform lambda is a CodegenFallback, evaluated per element
    outside whole-stage codegen. The Generate runs inside a codegen stage."""
    import re

    from geo_epic_spark.operators.dedup import _gram_ids

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None)], "doc_id long, text string")
    rows = _gram_ids(docs, "doc_id", "text", 3)
    plan = formatted_plan(rows)
    assert "posexplode" in plan and "lambdafunction" not in plan, plan
    rows.collect()
    executed = rows._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert re.search(r"\*\(\d+\) Generate posexplode", executed), executed


def _codebook(shape: tuple[int, ...]) -> list:
    import numpy as np

    return np.random.Generator(np.random.PCG64(5)).uniform(-1.0, 1.0, shape).tolist()


def test_pq_codebook_is_one_folded_literal(spark):
    """pq_encode ships the codebook as one JSON string that the optimizer
    constant-folds: the optimized plan holds it as ONE array<array<array
    <double>>> Literal, and no from_json is left to run per row."""
    import json

    from geo_epic_spark.operators.similarity import pq_encode

    vecs = spark.createDataFrame([(0, [0.0] * 64)], "vec_id long, embedding array<double>")
    plan = pq_encode(vecs, _codebook((4, 16, 16)))._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    assert "from_json" not in plan.toString(), plan.toString()

    def array_depth(dt) -> tuple:
        depth = 0
        while isinstance(dt, dict) and dt.get("type") == "array":
            dt, depth = dt["elementType"], depth + 1
        return depth, dt

    (project,) = [n for n in json.loads(plan.toJSON()) if n["class"].endswith(".Project")]
    lits = [array_depth(e["dataType"]) for expr in project["projectList"] for e in expr
            if e["class"].endswith("expressions.Literal")]
    assert lits.count((3, "double")) == 1, lits
    assert lits.count((0, "double")) == 1, lits  # the distance fold's 0.0 seed only


def test_plan_build_calls_do_not_grow_with_constants(spark, monkeypatch):
    """Building pq_topk, pq_encode and ivf_assign sends the same number of
    py4j commands at a 4x16x4 and a 16x256x4 codebook, and at 16 and 256
    centroids: the constants cross as one literal, and every expression
    over them is one SQL string or one lambda tree, so no call is made per
    number, code or subspace."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from geo_epic_spark.operators.similarity import ivf_assign, pq_encode, pq_topk

    me, sent = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == me:  # the finalizer thread's GC commands do not count
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def calls(build, consts) -> int:
        before = sent[0]
        build(consts)
        return sent[0] - before

    vecs = spark.createDataFrame([(0, [0.0] * 64)], "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [0.0] * 64)], "q_id long, q_vec array<double>")
    enc = vecs.withColumn("pq_codes", F.array(F.lit(0)))
    builds = {
        "pq_topk": (lambda cb: pq_topk(enc, q, cb), (4, 16, 4), (16, 256, 4)),
        "pq_encode": (lambda cb: pq_encode(vecs, cb), (4, 16, 4), (16, 256, 4)),
        "ivf_assign": (lambda c: ivf_assign(vecs, c), (16, 64), (256, 64)),
    }
    for name, (build, small, big) in builds.items():
        calls(build, _codebook(small))  # warm py4j's lazily resolved JVM handles
        n_small, n_big = calls(build, _codebook(small)), calls(build, _codebook(big))
        assert n_big == n_small, (name, n_small, n_big)
