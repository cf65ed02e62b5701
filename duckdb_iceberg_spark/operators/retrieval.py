"""Lexical retrieval: BM25 top-k over the documents corpus — the lexical
sibling of the ANN family (similarity.py), and the workhorse of
training-data contamination checks and retrieval-augmented pipelines
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
BM25 and Beyond").

Beyond the reference (a table-format layer with no text operators —
src/function/iceberg_functions.cpp:11-39 is its complete function list).

Cross-engine exactness: the scoring uses Lucene's non-negative idf form
``ln(1 + (N − df + 0.5)/(df + 0.5)) = ln(2N + 2) − ln(2df + 1)`` — a
difference of integer logs computed ONCE driver-side with the
correctly-rounded decimal ln (:mod:`.exactmath`) and quantized to 6dp, so
no engine ever runs a transcendental. With k1 = 6/5 and b = 3/4 (the
classic defaults, exact rationals) the per-(doc, term) score reduces to
one integer fraction::

    dlr     = round6(dl·N / T)·1e6          (dl = doc tokens, T = corpus
                                             tokens, N = docs — dl/avgdl
                                             quantized half-up to 6dp)
    D       = 20e6·tf + 6e6 + 18·dlr        (denominator × 20e6)
    term_µ  = round_half_up(idf_µ · 44e6 · tf / D)

summed over the query terms into ``score_micro``. Every step is integer
arithmetic (DECIMAL(38,0) intermediates — the products overflow int64 at
petabyte token counts), identical in Spark and any SQL oracle.

Scale shape (100 TB): the token stream filters to the LITERAL query-term
set before anything counts (an InSet, pushed into the scan projection's
explode — the stream that reaches the aggregate is |terms|-bounded per
doc); df and the corpus totals are one tiny collect each (|terms| + 1
rows); idf is a broadcast literal map; the final top-k is a TakeOrdered,
never a global sort. One linear shuffle (the per-(doc, term) tf groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..jrpc import local_frame
from .exactmath import dec_ln_int, q6
from .text import lm_repartition_guard, lm_tokens

__all__ = ["bm25_idf6", "bm25_topk"]


def bm25_idf6(n_docs: int, df_t: int):
    """Lucene-form BM25 idf, 6dp decimal: round6(ln(2N+2) − ln(2df+1)).
    Non-negative for every 0 ≤ df ≤ N, so the half-up integer division
    downstream never sees a sign."""
    return q6(dec_ln_int(2 * n_docs + 2) - dec_ln_int(2 * df_t + 1))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """BM25 top-k documents for ``query_terms`` (lowercased literal
    tokens; matching is exact-token after the shared LM-family
    tokenizer). Returns (id, n_matched terms, score_micro) — the exact
    micro-unit BIGINT score — ordered by (score desc, id asc), ties
    resolved deterministically. k1 = 6/5, b = 3/4 fixed (exact
    rationals; see module docstring for the integer reduction)."""
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    terms = sorted({t.lower() for t in query_terms})

    src = lm_repartition_guard(df, id_col)
    base = src.select(F.col(id_col).alias("__id"),
                      lm_tokens(text_col).alias("__t"))
    # per-doc length and the |terms|-bounded matched-token stream: the
    # array filter runs BEFORE explode, so the exploded stream carries at
    # most dl' = (occurrences of query terms) rows per doc
    hits = base.select(
        "__id", F.size("__t").alias("__dl"),
        F.explode(F.filter(
            F.col("__t"), lambda w: w.isin(terms))).alias("__w"))

    # corpus constants (N docs, T total tokens) AND per-term document
    # frequencies in ONE tagged-union action (r16, guide §2.6 — the NB
    # fit's r15 pattern): the two aggregates are independent bounded
    # reductions, so fusing them lets their subtrees schedule
    # concurrently inside a single job and one sequential driver
    # round-trip replaces two. Both remain |terms|/1-row bounded; the
    # hit stream still shuffles |terms|·partitions-bounded partials
    # (caching tf instead would pin an N·|terms|-row frame in executor
    # memory for no asymptotic win).
    tot_side = base.agg(
        F.count(F.lit(1)).alias("a"),
        F.coalesce(F.sum(F.size("__t")), F.lit(0)).alias("b")).select(
        F.lit(0).alias("__kind"),
        F.lit(None).cast("string").alias("__w"), "a", "b")
    df_side = (hits.groupBy("__w")
               .agg(F.countDistinct("__id").alias("a"))
               .select(F.lit(1).alias("__kind"), "__w", "a",
                       F.lit(None).cast("long").alias("b")))
    n_docs = t_tokens = 0
    dfs: dict = {}
    for r in tot_side.unionByName(df_side).collect():
        if r["__kind"] == 0:
            n_docs, t_tokens = int(r["a"]), int(r["b"])
        else:
            dfs[r["__w"]] = r["a"]
    if n_docs == 0:
        return local_frame(
            df.sparkSession, [], T.StructType([
                T.StructField(id_col, T.LongType()),
                T.StructField("n_matched", T.LongType()),
                T.StructField("score_micro", T.LongType())]))

    # per-(doc, term) tf — THE linear shuffle of the scoring pass
    tf = (hits.groupBy("__id", "__w")
          .agg(F.count(F.lit(1)).alias("__tf"),
               F.min("__dl").alias("__dl")))
    idf_rows = [(w, int(bm25_idf6(n_docs, dfs.get(w, 0)) * 1_000_000))
                for w in terms]
    idf = local_frame(
        df.sparkSession, idf_rows, "`__w` string, `__idf_u` long")

    dec = "decimal(38,0)"
    # dlr = round_half_up(dl·N·1e6 / T) — 6dp-quantized length norm
    dlr = F.expr(
        f"CAST((2 * CAST(__dl AS {dec}) * {n_docs} * 1000000 + {t_tokens})"
        f" DIV (2 * CAST({t_tokens} AS {dec})) AS {dec})")
    scored = (
        tf.join(F.broadcast(idf), "__w")
        .withColumn("__dlr", dlr)
        .withColumn(
            "__term_u",
            F.expr(
                f"CAST((2 * CAST(__idf_u AS {dec}) * 44000000 * __tf"
                f" + (20000000 * CAST(__tf AS {dec}) + 6000000"
                f"    + 18 * __dlr))"
                f" DIV (2 * (20000000 * CAST(__tf AS {dec}) + 6000000"
                f"           + 18 * __dlr)) AS BIGINT)"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_matched"),
             F.sum("__term_u").alias("score_micro"))
    )
    out = scored.select(
        F.col("__id").alias(id_col),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.col("score_micro").cast("long").alias("score_micro"),
    ).orderBy(F.col("score_micro").desc(), F.col(id_col).asc()).limit(k)
    return out
