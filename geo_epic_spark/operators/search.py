"""BM25 full-text relevance scoring (Robertson/Sparck Jones, public
methodology) — lexical top-k retrieval over the documents table.

The LLM-pipeline use case: given a small set of probe queries (benchmark
prompts, eval questions), rank a web-scale corpus by lexical relevance —
the retrieval side of decontamination and of retrieval-augmented data
curation. Everything is built-in Column expressions + hash aggregates;
the only join against the corpus-sized side is a BROADCAST semi-join that
prunes the exploded token stream down to query terms before any shuffle.
Per-doc length is computed from the token array BEFORE exploding, so it
rides along with each token row — no corpus⋈corpus join exists in the
plan at all. No UDFs, no driver-side loops.

At 100 TB: the token explode is map-side; the broadcast term filter drops
~everything (query vocabularies are tiny); the (doc, term) tf aggregate is
the only corpus-wide shuffle, with map-side partial aggregation; df/idf
per term is |query terms| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    q_key: str = "q_id",
    q_text: str = "q_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k docs per query by BM25.

    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); N = docs with ≥1 token,
    dl = doc token count, avgdl = mean dl, tf/df = term/document frequency.

    Ranking uses round(score, 6) with ``key`` as the tie-break so the
    result is reproducible bit-for-bit across engines (the DuckDB oracle
    ranks on the identically-rounded score). Output:
    (q_key, key, score, rank), rank 1..k.
    """
    qterms = queries.select(
        q_key,
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.lower(F.col(q_text)), TOKEN_SPLIT_RE),
                         lambda t: t != "")
            )
        ).alias("term"),
    )

    # dl is computed map-side from the token ARRAY before exploding, so it
    # travels with every token row — no corpus-sized dl join anywhere (a
    # tf⋈dl join on doc_id compiled to a static SortMergeJoin; this shape
    # has zero joins between corpus-derived frames)
    base = docs.select(
        key,
        F.filter(F.split(F.lower(F.col(text)), TOKEN_SPLIT_RE),
                 lambda t: t != "").alias("__toks"),
    ).withColumn("dl", F.size("__toks")).filter(F.col("dl") > 0)
    stats = base.agg(F.avg("dl").alias("avgdl"),
                     F.count(F.lit(1)).alias("n_docs"))
    toks = base.select(key, "dl", F.explode("__toks").alias("term"))

    # prune the corpus token stream to query terms BEFORE aggregating —
    # broadcast semi-join, map-side, no shuffle of non-matching tokens
    tf = (
        toks.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy(key, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        # tf feeds BOTH df_t and the scoring join below. The two branches
        # prune different columns, so their tf subtrees are not identical
        # and ReuseExchange does NOT fire (verified in the executed plan:
        # 0 ReusedExchange, the corpus tokenize+explode+semi-join+agg ran
        # once per branch). tf is the small frame here — pruned to query
        # terms, ≤ |docs|·|matched terms| rows of 4 scalar columns — so
        # truncate its lineage once (lazy localCheckpoint, materialized on
        # first action, executor-local storage) and both branches read the
        # materialized blocks instead of re-scanning the corpus. Same
        # pattern as cluster_pairs' per-round checkpoint (dedup.py).
        .localCheckpoint(eager=False)
    )
    # (key, term) is unique after the agg, so df = row count per term;
    # |rows| ≤ |query terms| — stays tiny
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    per_term = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            q_key,
            key,
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score_t"),
        )
    )
    scored = per_term.groupBy(q_key, key).agg(
        F.round(F.sum("score_t"), 6).alias("score")
    )
    # matched-doc counts are query-dependent — a stop-wordy query matches
    # most of the corpus — so the rank must trim map-side before any
    # per-query shuffle. _ranked_topk's shape makes the optimizer insert
    # WindowGroupLimit(Partial): each post-agg partition forwards at most
    # k rows per query (see _ranked_topk's docstring + plan pin).
    from geo_epic_spark.operators.similarity import _ranked_topk

    return _ranked_topk(
        scored, q_key, k, [F.desc("score"), F.col(key)]
    ).select(q_key, key, "score", "rank")


def sql_bm25_topk(
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    docs_table: str = "documents",
    text: str = "text",
    key: str = "doc_id",
) -> str:
    """DuckDB mirror of ``bm25_topk`` for a literal query list — same
    tokenizer regex, same formula, same round-then-rank tie-break."""
    qvals = ", ".join(
        f"('{qid}', '{qt}')" for qid, qt in queries
    )
    return f"""
    WITH q(q_id, q_text) AS (VALUES {qvals}),
    qterms AS (
      SELECT DISTINCT q_id, t.term
      FROM q, unnest(string_split_regex(lower(q_text), '{TOKEN_SPLIT_RE}')) AS t(term)
      WHERE t.term <> ''
    ),
    toks AS (
      SELECT {key}, t.term
      FROM {docs_table},
           unnest(string_split_regex(lower({text}), '{TOKEN_SPLIT_RE}')) AS t(term)
      WHERE t.term <> ''
    ),
    dl AS (SELECT {key}, COUNT(*) AS dl FROM toks GROUP BY {key}),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl),
    tf AS (
      SELECT {key}, term, COUNT(*) AS tf
      FROM toks WHERE term IN (SELECT term FROM qterms)
      GROUP BY {key}, term
    ),
    df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      -- CAST AS DOUBLE first in each subexpression: DuckDB parses float
      -- literals as DECIMAL, and decimal division would diverge from
      -- Spark's double math in the last ulps
      SELECT qterms.q_id, tf.{key},
             ROUND(SUM(
               ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - df_t.df + 0.5)
                        / (CAST(df_t.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {k1} * (1.0 - {b} + {b} * CAST(dl.dl AS DOUBLE) / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN qterms USING (term)
      JOIN df_t USING (term)
      JOIN dl USING ({key})
      CROSS JOIN stats
      GROUP BY qterms.q_id, tf.{key}
    )
    SELECT q_id, {key}, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY score DESC, {key}
      ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """
