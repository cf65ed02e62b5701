"""curate_docs: a seeded mix of LLM-data operators over an Iceberg
documents table.

The corpus (``datagen.documents``) plants exact copies, near copies and a
shared boilerplate footer, and spreads three rare query terms over a known
subset of documents. The op mix: minhash near-dedup, exact-substring
dedup, BM25 top-k, the naive-Bayes quality classifier, and a
filter-then-dedup pipeline. Each result is checked against DuckDB over the
generated rows (and, for minhash, against the planted duplicate clusters).

Each cycle runs every op once, BM25 once per query variant, in a seeded
order; a fixed mix per cycle keeps the work of a run the same across seeds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from duckdb_iceberg_spark.operators import classify
from duckdb_iceberg_spark.operators import dedup
from duckdb_iceberg_spark.operators import retrieval
from duckdb_iceberg_spark.operators import text
from duckdb_iceberg_spark.sources import scan
from duckdb_iceberg_spark.sources import writer

from perfbench import datagen
from perfbench.common import BaseWorkload, duck

N_BASE = 2_000
TERMS = ("zqalpha", "zqbeta", "zqgamma")
#: BM25 query variants
QUERIES = [list(TERMS), ["zqbeta"]]
TOP_K = 50
SUBSTR_LEN = 8
MIN_TOKENS = 70
KINDS = ["minhash", "substring", "bm25", "quality", "filter_dedup"]
#: one cycle: every (kind, variant) once
OPS = [(k, p) for k in KINDS for p in range(len(QUERIES) if k == "bm25" else 1)]


class Workload(BaseWorkload):
    CYCLE = len(OPS)

    def setup(self) -> None:
        docs = datagen.documents(self.data_rng(), N_BASE, query_terms=TERMS)
        self.loc = f"{self.root}/documents"
        writer.write_iceberg(self.spark.createDataFrame(docs), self.loc)
        self.docs = docs

    def oracle(self) -> None:
        self.expected = _expected(self.docs)

    def warmup(self) -> None:
        for kind, p in OPS:
            if not self._run(kind, p):
                self.setup_ok = False

    def op(self, i: int):
        if i % len(OPS) == 0:
            order = np.random.default_rng([self.seed, 2, i]).permutation(len(OPS))
            self._cycle = [OPS[j] for j in order]
        kind, p = self._cycle[i % len(OPS)]
        return kind, lambda: self._run(kind, p)

    def _run(self, kind: str, p: int) -> bool:
        docs = scan.iceberg_scan(self.spark, self.loc)
        want = self.expected[(kind, p)]
        if kind == "minhash":
            out = dedup.minhash_dedup(docs, "text", "doc_id")
            return self.collect(out.agg(F.count(F.lit(1))))[0][0] == want
        if kind == "substring":
            out = dedup.exact_substring_dedup(docs, min_len=SUBSTR_LEN)
            got = self.collect(out.agg(F.sum("n_tokens_removed"),
                                       F.count(F.when(F.col("n_tokens_removed") > 0, 1)),
                                       F.sum("n_tokens_kept")))[0]
            return tuple(got) == want
        if kind == "bm25":
            rows = self.collect(retrieval.bm25_topk(docs, QUERIES[p], k=TOP_K))
            matched, n_hits = want
            scores = [r["score_micro"] for r in rows]
            return (len(rows) == min(TOP_K, n_hits)
                    and all(matched.get(r["doc_id"]) == r["n_matched"] for r in rows)
                    and scores == sorted(scores, reverse=True))
        if kind == "quality":
            out = classify.nb_quality_score(docs, positive_cond="lang = 'en'")
            got = self.collect(out.agg(F.count(F.lit(1)), F.sum("n_tokens"),
                                       F.sum(F.col("pred_hq").cast("int"))))[0]
            return (got[0], got[1]) == want and 0 < got[2] < got[0]
        kept = docs.filter(text.token_count("text") >= MIN_TOKENS)
        out = dedup.exact_dedup(kept)
        return self.collect(out.agg(F.count(F.lit(1))))[0][0] == want


def _expected(docs) -> dict:
    con = duck(docs=docs)
    con.execute("CREATE VIEW toks AS SELECT doc_id, string_split(text, ' ') AS t FROM docs")
    out = {("minhash", 0): con.sql("SELECT count(DISTINCT cluster) FROM docs").fetchone()[0]}
    L = SUBSTR_LEN
    out[("substring", 0)] = con.sql(f"""
        WITH starts AS (
          SELECT doc_id, s, array_to_string(t[s:s + {L - 1}], ' ') AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - {L - 2})) AS s FROM toks)),
        occ AS (
          SELECT doc_id, s, row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn,
                 count(*) OVER (PARTITION BY g) AS cnt FROM starts),
        cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + {L})) AS p
                FROM occ WHERE cnt > 1 AND rn > 1)
        SELECT (SELECT count(*) FROM cov), (SELECT count(DISTINCT doc_id) FROM cov),
               (SELECT sum(len(t)) FROM toks) - (SELECT count(*) FROM cov)""").fetchone()
    for p, terms in enumerate(QUERIES):
        rows = con.sql(f"""
            SELECT doc_id, len(list_intersect(list_distinct(t), {terms!r})) AS m
            FROM toks WHERE m > 0""").fetchall()
        out[("bm25", p)] = ({d: m for d, m in rows}, len(rows))
    out[("quality", 0)] = con.sql("SELECT count(*), sum(len(t)) FROM toks").fetchone()
    out[("filter_dedup", 0)] = con.sql(
        f"SELECT count(DISTINCT text) FROM docs WHERE len(string_split(text, ' ')) >= "
        f"{MIN_TOKENS}").fetchone()[0]
    return out
