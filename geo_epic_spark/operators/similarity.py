"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k as a broadcast join + window rank — exact,
one shuffle of the (small) query side. Scale path: IVF-style coarse
quantization — embeddings are bucketed to their nearest of C centroids once
(write-time partitioning at 100 TB), queries probe ``nprobe`` nearest
centroid buckets only, cutting the scanned fraction to ~nprobe/C.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    # Deliberately the zip_with+aggregate HOF, NOT a static element_at
    # unroll: pq_topk's m-term ADC sum is unrolled into codegen (m lookups
    # per scored pair, 2x faster at m=8 than the folded HOF), but at
    # dim=64 the 192-term unrolled tree blows past the codegen
    # method limits and falls back to generic interpreted eval — measured
    # 10x SLOWER (37 s vs 3.8 s, 500k x 20 pairs) than this specialized
    # HOF evaluator. Unroll only small static folds; the true fast path
    # for big corpus x query scans is cosine_topk_arrow (BLAS).
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _ranked_topk(scored: DataFrame, q_key: str, k: int, order) -> DataFrame:
    """Deterministic per-query top-k: ONE rank window + a `<= k` filter.

    This exact shape (rank-like window directly under a limit filter) is
    what Spark's `InferWindowGroupLimit` rewrites into
    Sort + WindowGroupLimit(**Partial**) BEFORE the exchange: each map
    partition forwards at most k rows per query, so the heavy sort/trim
    runs at scan parallelism and the per-query final task ranks only the
    ≤ n_map_partitions·k survivors — the naive reading "one task per
    query sorts the whole scored corpus" does not happen on Spark ≥ 3.5.
    An earlier revision hand-rolled the same bound as two window phases
    (rank within (query, spark_partition_id()) first); it produced
    identical rows but one extra Exchange — A/B on the 16M-row PQ ADC
    scan read 5.45 s two-phase vs 5.02 s single-window at local[16], so
    the manual phase was retired. tests/test_plans.py pins the
    WindowGroupLimit(Partial) in the executed plan so an optimizer
    regression resurfaces as a test failure, not a silent per-query
    sort of the full corpus. Output is deterministic for any TOTAL
    order (callers break ties with a unique key column)."""
    w = Window.partitionBy(q_key).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set over the vector
    table, rank per query. All arithmetic JVM-side, no Python; both row
    norms are hoisted OUT of the (corpus × queries) join — ||v|| is
    computed once per corpus row and ||q|| once per query row, not once
    per scored pair (bit-identical: same expressions, same fold). Ranking
    is `_ranked_topk` (map partitions reduce to k rows/query before the
    per-query shuffle via the optimizer's WindowGroupLimit)."""
    q = F.broadcast(
        queries.select(F.col(q_key), F.col(q_vec))
        .withColumn("__qn", _norm(F.col(q_vec)))
    )
    lhs = vectors.select(key, vec).withColumn("__vn", _norm(F.col(vec)))
    joined = lhs.crossJoin(q)
    cos = _dot(F.col(vec), F.col(q_vec)) / (F.col("__vn") * F.col("__qn"))
    return _ranked_topk(
        joined.withColumn("cosine", cos), q_key, k,
        [F.desc("cosine"), F.asc(key)],
    ).select(q_key, key, "rank", "cosine")


def cosine_topk_arrow(
    vectors: DataFrame,
    queries: list[tuple],
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Arrow/BLAS variant of the brute-force top-k: per Arrow batch, ONE
    numpy matmul scores the batch against every query, and only per-batch
    top-k survivor rows leave Python; a final window rank merges batches.

    Same results as ``cosine_topk`` (pinned in pytest). Prefer this path
    when dim is large (hundreds+): the JVM higher-order-function fold is
    interpreted per element, while the matmul runs at BLAS speed — the
    crossover is around dim ~64 on this box. ``queries`` is a driver-side
    list of (q_id, q_vec) (the query set is small by definition — it is
    broadcast as numpy constants inside the UDF closure).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.array([q[1] for q in queries], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = StructType([
        StructField("q_id", LongType()),
        StructField(key, LongType()),
        StructField("cosine", DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            ids = pdf[key].to_numpy()
            cos = (m @ q_mat.T) / (
                np.linalg.norm(m, axis=1)[:, None] * q_norm[None, :]
            )
            # per-batch top-k per query: ship k rows/query/batch, not the
            # batch. Tie handling must match the final (cosine desc, key
            # asc) window rank: argpartition alone breaks ties arbitrarily
            # and can drop the lower-key member of a tie inside a batch, so
            # survivors are picked from ALL rows at or above the k-th score
            # with a lexsort tie-break (O(n) partition + O(m log m) on the
            # tie set only).
            rows = []
            kk = min(k, len(ids))
            for qi in range(len(q_ids)):
                part = np.argpartition(-cos[:, qi], kk - 1)[:kk]
                thresh = cos[part, qi].min()
                cand = np.flatnonzero(cos[:, qi] >= thresh)
                top = cand[np.lexsort((ids[cand], -cos[cand, qi]))[:kk]]
                rows.append(pd.DataFrame({
                    "q_id": q_ids[qi], key: ids[top], "cosine": cos[top, qi],
                }))
            yield pd.concat(rows, ignore_index=True)

    survivors = vectors.select(key, vec).mapInPandas(score, schema=out_schema)
    return _ranked_topk(
        survivors, "q_id", k, [F.desc("cosine"), F.asc(key)],
    ).select("q_id", key, "rank", "cosine")


def kmeans_centroids(
    vectors: DataFrame,
    c: int = 16,
    vec: str = "embedding",
    iters: int = 3,
    key: str | None = None,
) -> list[list[float]]:
    """Coarse k-means centroids by distributed Lloyd iteration: the FULL
    table participates (not a driver sample). Per iteration one mapInPandas
    pass emits per-partition partial stats (centroid id, count, component
    sums) — c rows per partition, so the driver merge touches
    c * num_partitions tiny rows and no table data is pulled to the driver.
    Partials carry their partition id and merge in sorted (cid, pid) order,
    keeping the float accumulation order — and hence the centroids —
    deterministic for a fixed input layout.

    Seeding is the c rows with the smallest xxhash64(key): deterministic,
    uniform over the table, no full-table sort (a top-c via min-heap agg).
    ``key`` names an id column to hash; None hashes the vector column
    itself, so callers without an id column stay deterministic too.
    """
    import pandas as pd
    from pyspark import TaskContext

    dim = vectors.select(F.size(vec).alias("d")).limit(1).collect()[0]["d"]
    seed_hash = (
        F.xxhash64(F.col(key).cast("string")) if key is not None
        else F.xxhash64(F.col(vec))
    )
    seed_rows = (
        vectors.select(vec, seed_hash.alias("__h"))
        .orderBy("__h")
        .limit(c)
        .collect()
    )
    cents = np.array([list(r[vec]) for r in seed_rows], dtype=np.float64)

    out_schema = (
        "cid long, pid long, cnt long, " "sums array<double>"
    )
    sel = vectors.select(vec)
    for _ in range(iters):
        cc = cents.copy()  # closure constant: broadcast with the task binary

        def partials(batches, _c=cc):
            pid = TaskContext.get().partitionId()
            k_, d_ = _c.shape
            cnt = np.zeros(k_, dtype=np.int64)
            sums = np.zeros((k_, d_), dtype=np.float64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf[vec].to_numpy()).astype(np.float64)
                d2 = ((m[:, None, :] - _c[None, :, :]) ** 2).sum(-1)
                assign = d2.argmin(1)
                cnt += np.bincount(assign, minlength=k_)
                np.add.at(sums, assign, m)
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame({
                "cid": nz, "pid": pid, "cnt": cnt[nz],
                "sums": [sums[i] for i in nz],
            })

        # Bounded driver collect: at most (#input partitions × c) rows of
        # (cid, pid, cnt, d-dim sum) — with c=4096 centroids, d=768 and
        # 10k partitions that's ~250 GB worst case BUT each partition emits
        # only its NON-EMPTY centroid rows, and realistic configs
        # (c ≤ 1k, ≤ 2k partitions) stay under ~12 GB; for larger c,
        # pre-aggregate with a (cid)-keyed groupBy before collecting.
        # Same contract style as sampling.py's stated collect bound.
        parts = sel.mapInPandas(partials, schema=out_schema).collect()
        cnt = np.zeros(len(cents), dtype=np.int64)
        sums = np.zeros_like(cents)
        for r in sorted(parts, key=lambda r: (r["cid"], r["pid"])):
            cnt[r["cid"]] += r["cnt"]
            sums[r["cid"]] += np.array(r["sums"], dtype=np.float64)
        nz = cnt > 0
        cents[nz] = sums[nz] / cnt[nz, None]
    assert cents.shape[1] == dim
    return [list(map(float, row)) for row in cents]


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    c: int = 16,
    vec: str = "embedding",
    key: str = "vec_id",
    iters: int = 3,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Build and PERSIST the IVF index in one job: train coarse centroids
    (``kmeans_centroids`` seeded from ``key`` unless ``centroids`` is
    supplied — the train-offline contract), assign every vector, and write
    ``(key, vec, ivf_list)`` partitioned by ``ivf_list`` so a query's
    nprobe lists prune to exactly those partitions at scan time, plus the
    centroid table at ``path + '/_centroids'``. Returns the centroids.

    Training happens once per corpus here; callers probe via
    ``load_ivf_index`` with zero training actions."""
    cents = centroids if centroids is not None else kmeans_centroids(
        vectors, c=c, vec=vec, key=key, iters=iters
    )
    assigned = ivf_assign(vectors, cents, vec=vec)
    assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
    spark = vectors.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cid long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_centroids")
    return cents


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Read back a persisted IVF index: the partition-pruned assignment
    table + the centroid list (ordered by cid)."""
    assigned = spark.read.parquet(path)
    cent_rows = spark.read.parquet(path + "/_centroids").orderBy("cid").collect()
    return assigned, [list(r["centroid"]) for r in cent_rows]


def _float_array(values, ndim: int) -> np.ndarray:
    """``values`` as a float64 array of exactly ``ndim`` dimensions; raises
    ValueError when it is ragged, empty or holds a NaN or infinity, any of
    which the array expressions below would null-pad or carry into their
    argmins without a sign."""
    try:
        a = np.asarray(values, dtype=np.float64)
    except ValueError:
        raise ValueError(f"ragged constant array: every level of the {ndim}-d "
                         "nesting must have one length") from None
    if a.ndim != ndim or a.size == 0:
        raise ValueError(f"expected a non-empty {ndim}-d array, got shape {a.shape}")
    if not np.isfinite(a).all():
        raise ValueError("constant array holds a NaN or infinite entry")
    return a


def _const_array_sql(values, ndim: int) -> str:
    """SQL text for a constant float64 array (a centroid table, a stack of
    PQ codebooks), validated by ``_float_array``.

    The whole array crosses to the JVM as ONE JSON string that ``from_json``
    parses and the optimizer constant-folds into a single Literal, so a plan
    costs the same few driver calls whatever the array's size (an ``F.lit``
    per number costs a py4j round trip per number: 16,384 for a 16x256x4
    codebook). Python writes each float as its shortest round-tripping
    decimal, so every value, subnormals and -0.0 included, arrives
    bit-exact; the JSON holds no quote, so it is safe inside the SQL
    string."""
    body = json.dumps(_float_array(values, ndim).tolist())
    return f"from_json('{body}', '{'array<' * ndim}double{'>' * ndim}')"


def ivf_assign(vectors: DataFrame, cents: list[list[float]], vec: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid id (the IVF list id),
    ties to the lowest id. At 100 TB this is the write-time partition
    column. The centroid table is one constant-folded literal
    (``_const_array_sql``), so building the plan costs the same at 16 or
    4096 centroids; raises ValueError on a ragged or non-finite table."""
    carr = F.expr(_const_array_sql(cents, 2))
    d2 = F.transform(
        carr,
        lambda cvec: F.aggregate(
            F.zip_with(F.col(vec), cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    return vectors.withColumn("ivf_list", F.array_position(d2, F.array_min(d2)) - 1)


def ivf_topk(
    vectors_assigned: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """IVF ANN: probe only the nprobe nearest centroid lists per query.
    Candidate scan fraction ~= nprobe / len(cents); exact cosine rank within
    the probed lists."""
    carr = F.expr(_const_array_sql(cents, 2))
    qd2 = F.transform(
        carr,
        lambda cvec: F.aggregate(
            F.zip_with(F.col(q_vec), cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    q = queries.withColumn("__d2", qd2).withColumn(
        "ivf_list",
        F.explode(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.zip_with(
                            F.col("__d2"),
                            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                        )
                    ),
                    lambda s: s["i"],
                ),
                1,
                nprobe,
            )
        ),
    ).drop("__d2")
    # norms hoisted out of the candidate join exactly as in cosine_topk:
    # ||v|| once per candidate row, ||q|| once per (query, probed list).
    lhs = vectors_assigned.withColumn("__vn", _norm(F.col(vec)))
    joined = lhs.join(
        F.broadcast(q.withColumn("__qn", _norm(F.col(q_vec)))), on="ivf_list"
    )
    cos = _dot(F.col(vec), F.col(q_vec)) / (F.col("__vn") * F.col("__qn"))
    return _ranked_topk(
        joined.withColumn("cosine", cos), q_key, k,
        [F.desc("cosine"), F.asc(key)],
    ).select(q_key, key, "rank", "cosine")


def quantize_embeddings(
    df: DataFrame,
    vec: str = "embedding",
    out: str = "q",
    scale_out: str = "scale",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4x shrink before shipping vectors into an ANN index (IVF lists,
    LSH buckets): per-row scale = amax/127, q_i = round(v_i / scale) in
    [-127, 127]; dequantize as q_i * scale.

    Pure Column expressions over the array (transform/array_max — JVM-side,
    map-only, zero shuffle). Rounding is floor(x + 0.5) written explicitly so
    the DuckDB oracle reproduces each int exactly (no HALF_UP-vs-HALF_EVEN
    dialect trap); math is double-precision from the float32 input, which
    both engines widen losslessly. Zero vectors (amax = 0) quantize to all
    zeros with scale 0.
    """
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    factor = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * factor + F.lit(0.5)).cast("int"))
    return df.withColumn(out, q).withColumn(
        scale_out, F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN (Jégou et al. 2011)
# ---------------------------------------------------------------------------

def _pq_dist_sql(vec: str, codebooks: list[list[list[float]]]) -> str:
    """SQL text for the m x K table of squared L2 distances from each
    dsub-slice of ``vec`` to every code of that subspace's codebook.

    One expression over the one codebook literal (``_const_array_sql``), so
    its size and its build cost do not grow with m, K or dsub. Each
    distance is the left-to-right fold from 0.0 over the slice, the order
    the DuckDB oracle replays. A vector whose length is not m*dsub raises
    at run time (``zip_with`` would null-pad a short slice, and the tail of
    a long one would be ignored)."""
    cb = _float_array(codebooks, 3)
    m, _, dsub = cb.shape
    return (
        f"CASE WHEN array_size(`{vec}`) != {m * dsub} THEN raise_error("
        f"'PQ: vector length is not {m}*{dsub}') ELSE "
        f"transform(sequence(0, {m - 1}), sub_i -> "
        f"transform({_const_array_sql(cb, 3)}[sub_i], code_v -> aggregate("
        f"zip_with(slice(`{vec}`, sub_i * {dsub} + 1, {dsub}), code_v, "
        f"(a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x))) END"
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec: str = "embedding",
) -> DataFrame:
    """Encode each vector into M uint8-sized codes (one per subspace):
    code_i = argmin_c ||sub_i(v) - codebook_i[c]||², ties -> lowest code.

    One Column expression (``_pq_dist_sql``'s distance table, then an
    ``array_position(min)`` argmin per subspace) evaluated JVM-side during
    the table scan, like ``ivf_assign``; the codebook is one constant-folded
    literal, so building the plan costs the same few driver calls at any
    codebook size. Raises ValueError on a ragged or non-finite codebook and
    fails the job on a vector whose length is not m*dsub. 64-dim float
    vectors compress 32× at M=8, which is what makes exhaustive ADC scans
    affordable at 10^9+ rows; at scale the codes column is written next to
    the IVF list id.
    """
    codes = F.expr(f"transform({_pq_dist_sql(vec, codebooks)}, "
                   "d -> array_position(d, array_min(d)) - 1)")
    return vectors.withColumn("pq_codes", codes)


def pq_encode_arrow(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec: str = "embedding",
) -> DataFrame:
    """Arrow/numpy variant of ``pq_encode`` — the 10^9-row encode kernel.

    ``pq_encode``'s Column HOFs evaluate interpreted (higher-order lambdas
    never enter whole-stage codegen), which measures ~20k rows/s/32-threads
    at m=8 x 16 codes: ~14 hours per 10^9 rows. Here each Arrow batch does
    one vectorized ``(n, codes, dsub)`` distance broadcast + argmin per
    subspace — same m x codes x dsub multiply count at numpy speed (~100x).
    Map-only (zero shuffle), exactly like the minhash signature stage.

    Parity with ``pq_encode`` is pinned in pytest: identical codes on the
    synth fixture (ties go to the lowest code in both — np.argmin and
    ``array_position(min)`` agree; fp summation order can differ in the
    last ulp, which only matters for exact distance ties between DISTINCT
    codes — measure-zero for real codebooks). Use the Column version when
    the DuckDB oracle must replay the encode; this one everywhere else."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cbs = _float_array(codebooks, 3)
    dsub = cbs.shape[2]

    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2, and ||x||^2 is constant across
    # codes so argmin drops it: argmin_c (||c||^2 - 2 x.c). The matmul form
    # is compute-dense (BLAS) where the broadcast-subtract form was
    # memory-bandwidth-bound — measured 2x faster AND it scales with cores
    # (the (n, codes, dsub) temporaries saturated the socket's bandwidth at
    # 16 workers; see BASELINE.md "Round-5 evidence").
    c2 = [np.square(cb).sum(1) for cb in cbs]  # ||c||^2 per subspace

    def _enc(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy()).astype(np.float64)
        if x.shape[1] != len(cbs) * dsub:
            raise ValueError(f"PQ: vector length {x.shape[1]} is not {len(cbs)}*{dsub}")
        codes = np.empty((len(x), len(cbs)), dtype=np.int64)
        for i, cb in enumerate(cbs):
            sub = x[:, i * dsub:(i + 1) * dsub]
            score = c2[i][None, :] - 2.0 * (sub @ cb.T)
            codes[:, i] = score.argmin(1)
        return pd.Series(list(codes))

    enc = pandas_udf(_enc, "array<long>")
    return vectors.withColumn("pq_codes", enc(F.col(vec)))


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    key: str = "vec_id",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds its
    M×K lookup table ONCE (on the tiny broadcast query side), then every
    code row scores with M table lookups — no float vectors are read at
    scan time, only the codes column.

    The lookup table is ``_pq_dist_sql`` over one constant-folded codebook
    literal and the ADC sum is one SQL expression, so building the plan
    costs the same few driver calls at any codebook size. Raises ValueError
    on a ragged or non-finite codebook; a query vector whose length is not
    m*dsub fails the job.

    Output: (q_key, key, rank, adc_dist); rank by (distance asc, key) —
    the deterministic tie-break every ANN oracle in this engine uses.
    """
    lut = F.expr(_pq_dist_sql(q_vec, codebooks))
    q = F.broadcast(queries.select(q_key, q_vec).withColumn("__lut", lut))
    joined = encoded.select(key, "pq_codes").crossJoin(q)
    # ADC = Σ_i lut[i][code_i]. m is known statically, so unroll the fold
    # into a plain sum of element_at terms: the unrolled expression enters
    # whole-stage codegen, whereas an aggregate(sequence(...)) lambda
    # evaluates interpreted row-at-a-time — on the (codes × queries)
    # scan, the one hot path of the whole ADC design. fp addition order is
    # the identical left-to-right i = 1..m fold, so scores (and the oracle
    # hash) are bit-identical.
    adc = F.expr("0D" + "".join(
        f" + element_at(element_at(__lut, {i}), CAST(element_at(pq_codes, {i}) + 1 AS INT))"
        for i in range(1, len(codebooks) + 1)))
    return _ranked_topk(
        joined.withColumn("adc_dist", adc), q_key, k,
        [F.asc("adc_dist"), F.asc(key)],
    ).select(q_key, key, "rank", "adc_dist")


def pq_topk_rerank(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 200,
    key: str = "vec_id",
    vec: str = "embedding",
    q_key: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Production PQ retrieval: ADC shortlist of ``shortlist`` candidates
    from the codes column, then EXACT squared-L2 re-rank of the shortlist
    against the float vectors — the standard two-stage pattern that
    recovers near-exact recall while the full-corpus scan still never
    touches the embeddings (measured on the synthetic corpus: recall@10
    0.33 ADC-only -> 0.86/0.965/1.0 at R=50/100/200; RECALL.md).

    ``encoded`` must carry BOTH ``pq_codes`` and the float ``vec`` column
    (the re-rank join pulls vectors for shortlist rows only).
    """
    short = pq_topk(encoded, queries, codebooks, k=shortlist,
                    key=key, q_key=q_key, q_vec=q_vec)
    rer = (
        short.select(q_key, key)
        .join(encoded.select(key, vec), key)
        .join(F.broadcast(queries.select(q_key, q_vec)), q_key)
    )
    d2 = F.aggregate(
        F.zip_with(F.col(vec), F.col(q_vec), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda s, x: s + x)
    return _ranked_topk(
        rer.withColumn("l2_dist", d2), q_key, k,
        [F.asc("l2_dist"), F.asc(key)],
    ).select(q_key, key, "rank", "l2_dist")
