"""Recall/precision report for the approximate operators vs their exact
counterparts, so band/plane/probe regressions can't land silently.

Run: python scripts/recall_report.py [sf_dir]   (default /root/testdata/sf0.1)
Prints one table row per (operator, config): candidate recall vs the exact
ground truth at the operator's own threshold, plus precision of the final
(verified) output — 1.0 by construction for the exact-verify operators, so
any dip flags a verify bug, not a tuning choice.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from geo_epic_spark.operators.dedup import (  # noqa: E402
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from geo_epic_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
)
from geo_epic_spark.session import get_spark  # noqa: E402


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def report(spark, sf_dir: str) -> list[dict]:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = []

    # --- MinHash LSH vs exact n-gram Jaccard, several thresholds ----------
    for thr in (0.125, 0.3, 0.5):
        exact = _pairs(ngram_jaccard_pairs(docs, threshold=thr))
        for bands in (16, 32, None):
            got = _pairs(
                minhash_lsh_pairs(docs, threshold=thr, num_hashes=64,
                                  bands=bands, partitions=64)
            )
            rec = len(got & exact) / len(exact) if exact else 1.0
            prec = len(got & exact) / len(got) if got else 1.0
            rows.append({
                "op": "minhash_lsh", "config": f"thr={thr} bands={bands or 'auto'}",
                "truth": len(exact), "found": len(got),
                "recall": round(rec, 4), "precision": round(prec, 4),
            })

    # --- hyperplane LSH vs exact cosine pairs ----------------------------
    # natural corpus tail (no planted dups): recall at a noise threshold is
    # expected to be low for selective configs — the table records it so the
    # tradeoff is explicit rather than hidden
    e2 = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    e1 = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0),
                      lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform("va", lambda a: a * a), F.lit(0.0),
                            lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda a: a * a), F.lit(0.0),
                            lambda s, x: s + x))
    for thr, planes, bands in ((0.45, 6, 8), (0.45, 4, 16), (0.35, 6, 8),
                               (0.45, None, None), (0.35, None, None)):
        exact = {
            (r["id_a"], r["id_b"])
            for r in e1.crossJoin(e2).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("c", dot / (na * nb)).filter(F.col("c") >= thr)
            .select("id_a", "id_b").collect()
        }
        got = _pairs(embedding_near_dup_pairs(emb, threshold=thr,
                                              planes=planes, bands=bands))
        rec = len(got & exact) / len(exact) if exact else 1.0
        prec = len(got & exact) / len(got) if got else 1.0
        cfg = f"{planes}px{bands}b" if planes else "auto"
        rows.append({
            "op": "embedding_lsh", "config": f"thr={thr} {cfg}",
            "truth": len(exact), "found": len(got),
            "recall": round(rec, 4), "precision": round(prec, 4),
        })

    # --- hyperplane LSH on a corpus WITH planted moderate-cosine pairs ----
    # (r2 VERDICT item 3 done-criterion): each vector gets a mixed copy
    # alpha*v + beta*n landing in the cosine 0.4-0.75 belt, so recall at
    # thresholds 0.35-0.45 is measured on TRUE near-dups, not the noise tail
    import numpy as np

    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    rng = np.random.Generator(np.random.PCG64(20240817))
    alphas = np.linspace(0.35, 0.65, len(mat))[rng.permutation(len(mat))]
    noise = rng.standard_normal(mat.shape)
    noise *= np.linalg.norm(mat, axis=1, keepdims=True) / np.linalg.norm(
        noise, axis=1, keepdims=True)
    mixed = alphas[:, None] * mat + (1.0 - alphas[:, None]) * noise
    off = int(ids.max()) + 1
    planted = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)]
        + [(int(i) + off, [float(x) for x in row]) for i, row in zip(ids, mixed)],
        "vec_id long, embedding array<double>",
    )
    pl1 = planted.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    pl2 = planted.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    for thr in (0.45, 0.35):
        exact = {
            (r["id_a"], r["id_b"])
            for r in pl1.crossJoin(pl2).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("c", dot / (na * nb)).filter(F.col("c") >= thr)
            .select("id_a", "id_b").collect()
        }
        got = _pairs(embedding_near_dup_pairs(planted, threshold=thr))
        rec = len(got & exact) / len(exact) if exact else 1.0
        prec = len(got & exact) / len(got) if got else 1.0
        rows.append({
            "op": "embedding_lsh", "config": f"thr={thr} auto planted",
            "truth": len(exact), "found": len(got),
            "recall": round(rec, 4), "precision": round(prec, 4),
        })

    # --- IVF top-k vs exact top-k ----------------------------------------
    q = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    k = 10
    exact_tk = {
        (r["q_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=k).collect()
    }
    cents = kmeans_centroids(emb, c=16)
    assigned = ivf_assign(emb, cents)
    for nprobe in (1, 2, 4, 8):
        got_tk = {
            (r["q_id"], r["vec_id"])
            for r in ivf_topk(assigned, q, cents, k=k, nprobe=nprobe).collect()
        }
        rec = len(got_tk & exact_tk) / len(exact_tk)
        rows.append({
            "op": "ivf_topk", "config": f"C=16 nprobe={nprobe} k={k}",
            "truth": len(exact_tk), "found": len(got_tk),
            "recall": round(rec, 4), "precision": round(rec, 4),
        })

    # --- PQ ADC top-k vs exact top-k --------------------------------------
    # L2-ground-truth for ADC (PQ approximates L2, not cosine): exact top-k
    # by squared distance, same (dist, id) tie-break as pq_topk
    from pyspark.sql import Window

    from geo_epic_spark.operators.similarity import pq_encode, pq_topk

    d2 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("q_vec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda s, x: s + x)
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact_l2 = {
        (r["q_id"], r["vec_id"])
        for r in emb.crossJoin(F.broadcast(q)).withColumn("d2", d2)
        .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
        .collect()
    }
    dim = len(emb.select("embedding").first()[0])
    first = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter("vec_id < 16").collect()}
    def measure_pq(cbs, label):
        enc = pq_encode(emb, cbs)
        got_pq = {
            (r["q_id"], r["vec_id"])
            for r in pq_topk(enc, q, cbs, k=k).collect()
        }
        rec = len(got_pq & exact_l2) / len(exact_l2)
        rows.append({
            "op": "pq_topk", "config": label,
            "truth": len(exact_l2), "found": len(got_pq),
            "recall": round(rec, 4), "precision": round(rec, 4),
        })

    for m in (4, 8):
        dsub = dim // m
        # oracle-style codebooks: deterministic data pick (correctness row)
        cbs = [[first[c][i * dsub:(i + 1) * dsub] for c in sorted(first)]
               for i in range(m)]
        measure_pq(cbs, f"M={m} K=16 pick k={k}")
        # production codebooks: per-subspace k-means (the quality path)
        kcbs = [
            kmeans_centroids(
                emb.select(F.slice("embedding", i * dsub + 1, dsub)
                           .alias("embedding")), c=16)
            for i in range(m)
        ]
        measure_pq(kcbs, f"M={m} K=16 kmeans k={k}")

    # two-stage (ADC shortlist -> exact re-rank): the production pattern
    from geo_epic_spark.operators.similarity import pq_topk_rerank

    dsub = dim // 8
    kcbs8 = [
        kmeans_centroids(
            emb.select(F.slice("embedding", i * dsub + 1, dsub)
                       .alias("embedding")), c=64)
        for i in range(8)
    ]
    enc8 = pq_encode(emb, kcbs8)
    for r_short in (50, 100, 200):
        got_rr = {
            (r["q_id"], r["vec_id"])
            for r in pq_topk_rerank(enc8, q, kcbs8, k=k,
                                    shortlist=r_short).collect()
        }
        rec = len(got_rr & exact_l2) / len(exact_l2)
        rows.append({
            "op": "pq_rerank", "config": f"M=8 K=64 R={r_short} k={k}",
            "truth": len(exact_l2), "found": len(got_rr),
            "recall": round(rec, 4), "precision": round(rec, 4),
        })
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()), "recall-report")
    rows = report(spark, sf_dir)
    hdr = f"{'op':<14} {'config':<24} {'truth':>6} {'found':>6} {'recall':>7} {'prec':>6}"
    print(hdr)
    print("-" * len(hdr))
    for r in rows:
        print(f"{r['op']:<14} {r['config']:<24} {r['truth']:>6} {r['found']:>6} "
              f"{r['recall']:>7} {r['precision']:>6}")
    spark.stop()


if __name__ == "__main__":
    main()


