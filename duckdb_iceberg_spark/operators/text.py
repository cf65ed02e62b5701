"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side Column expressions (whole-stage codegen) — no
Python UDFs — so they scale linearly with executors at 100 TB:

- token_count: whitespace tokenization + a BPE-ish word/punct regex count
- language_id: n-gram/stopword-marker heuristic over a fixed marker table
- quality_score: length / punctuation / stopword-ratio / word-length signals
- doc_fingerprint: md5 of whitespace-normalized lowercased text (exact-dup key)

Each returns Columns so callers compose them into selects without extra
scans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..jrpc import local_frame

# marker words per language, chosen for testdata's en/de/fr/es-ish content;
# counted as substring hits on the space-padded lowercased text
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "por"],
}


def _norm(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(F.regexp_replace(col, r"\s+", " ")), F.lit(" "))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def _tokens(col: Column) -> Column:
    return F.split(F.lower(F.trim(col)), r"\s+")


def language_scores(col: Column | str) -> dict[str, Column]:
    """Marker-token counts per language: one tokenize, one array filter per
    language — instead of per-word regex passes (20× fewer scans of the
    text at 100 TB)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = _tokens(c)
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words))).cast("int")
        for lang, words in _LANG_MARKERS.items()
    }


def language_id(col: Column | str) -> Column:
    """Argmax language over marker-hit scores; 'und' when no marker hits.
    Deterministic tie-break: language name order en<de<es<fr via struct max."""
    scores = language_scores(col)
    # struct ordering: (score, -ord) — pick max score, then lexicographically
    # smallest language for ties via greatest over structs
    pairs = [
        F.struct(s.alias("s"), F.lit(-i).alias("prio"), F.lit(lang).alias("lang"))
        for i, lang in enumerate(sorted(scores))
        for s in [scores[lang]]
    ]
    best = F.greatest(*pairs)
    return F.when(best["s"] <= 0, F.lit("und")).otherwise(best["lang"])


def winnow_fingerprint(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
):
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken): rolling
    k-byte polynomial hashes, then the minimum of each sliding window of
    ``window`` hashes — guarantees any match of length >= k+window-1 shares
    a fingerprint, at ~2/(window+1) the storage of full shingles. Output:
    (id, fingerprints array<long> sorted distinct). Arrow-batched numpy; a
    fingerprint overlap-join on ``explode(fingerprints)`` finds candidate
    near-dups like LSH buckets do."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            norm = " ".join(t.lower().split())
            b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            if len(b) < k:
                b = np.pad(b, (0, k - len(b)), constant_values=95)
            h = _shingle_hashes_positional(b, k)
            if len(h) < window:
                sel = h
            else:
                win = np.lib.stride_tricks.sliding_window_view(h, window)
                sel = win.min(axis=1)
            vals = np.unique(sel.astype(np.int64) & np.int64(0x7FFFFFFFFFFFFFFF))
            out.append(vals.tolist())
        return pd.Series(out)

    return df.select(F.col(id_col), fp(F.col(text_col)).alias("fingerprints"))


def _shingle_hashes_positional(b, k: int):
    """Positional (non-deduplicated) k-byte rolling polynomial hashes —
    winnowing needs position order preserved, unlike MinHash shingles."""
    win = np.lib.stride_tricks.sliding_window_view(b, k)
    with np.errstate(over="ignore"):
        powers = np.empty(k, dtype=np.uint64)
        powers[0] = np.uint64(1)
        prime = np.uint64(1099511628211)
        for i in range(1, k):
            powers[i] = powers[i - 1] * prime
        return (win * powers[None, :]).sum(axis=1, dtype=np.uint64)


def quality_signals(col: Column | str) -> dict[str, Column]:
    """Quality-scoring signal set (each a Column, all codegen-able)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    digits = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", "")).cast("double")
    toks = token_count(c).cast("double")
    stop_hits = F.size(
        F.filter(_tokens(c), lambda x: x.isin(*_LANG_MARKERS["en"]))
    ).cast("double")
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    safe_t = F.when(toks > 0, toks).otherwise(F.lit(1.0))
    return {
        "n_chars": n.cast("long"),
        "n_tokens": toks.cast("long"),
        "alpha_ratio": F.round(alpha / safe_n, 6),
        "digit_ratio": F.round(digits / safe_n, 6),
        "punct_ratio": F.round(punct / safe_n, 6),
        "avg_token_len": F.round(n / safe_t, 6),
        "stopword_ratio": F.round(stop_hits / safe_t, 6),
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0, 1]: rewards alpha-heavy prose with sane
    token lengths and some stopwords; penalizes digit/punct soup."""
    s = quality_signals(col)
    score = (
        F.lit(0.35) * F.least(s["alpha_ratio"] / F.lit(0.7), F.lit(1.0))
        + F.lit(0.25) * F.least(s["stopword_ratio"] / F.lit(0.2), F.lit(1.0))
        + F.lit(0.20) * F.when((s["avg_token_len"] >= 3) & (s["avg_token_len"] <= 12), 1.0).otherwise(0.3)
        + F.lit(0.20) * (F.lit(1.0) - F.least(s["punct_ratio"] * 4 + s["digit_ratio"] * 2, F.lit(1.0)))
    )
    return F.round(score, 6)


def ngram_repetition_signals(
    df,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Gopher-style within-document repetition signals over word n-grams
    (Rae et al. 2021 §A1.1: "fraction of characters in the most common
    n-gram" / "fraction of characters in duplicated n-grams" — the filter
    family used to drop boilerplate-heavy pages before LLM training).

    Output per surviving doc (blank docs are dropped — no tokens, no
    n-grams): ``top_ngram`` (most frequent n-gram, lexicographic
    tie-break), ``top_ngram_frac`` (occurrences × n-gram chars /
    normalized text chars), ``dup_ngram_frac`` (same, summed over every
    n-gram occurring more than once; occurrence-weighted, NOT
    position-deduped, so overlapping repeats can push it past 1.0 — a
    documented simplification that keeps the spec engine-reproducible).
    Docs shorter than n tokens report frac 0 with NULL top_ngram.

    Scale: explode → two hash aggregations keyed by (doc, gram) then
    doc — all codegen Column work, shuffles proportional to token count,
    no Python. The alternative (array higher-order counting per doc) is
    interpreted per-row and quadratic in doc length."""
    from pyspark.sql.window import Window

    t = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), t.alias("__t"),
                F.length(F.array_join(t, " ")).alias("__norm_len"))
    )
    # sequence(0, size-n) counts DOWN when size < n (Spark picks step -1),
    # producing slice start 0 — short docs must be filtered out first
    grams = base.filter(F.size("__t") >= n).select(
        id_col, "__norm_len",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.array_join(F.slice("__t", i + 1, n), " "),
            )
        ).alias("__g"),
    )
    counts = grams.groupBy(id_col, "__norm_len", "__g").agg(
        F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cnt").desc(), F.col("__g").asc())
    per_doc = (
        counts.withColumn("__rn", F.row_number().over(w))
        .groupBy(id_col, "__norm_len")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("__g"))).alias("top_ngram"),
            F.max(F.when(F.col("__rn") == 1,
                         F.col("__cnt") * F.length("__g"))).alias("__top_chars"),
            F.sum(F.when(F.col("__cnt") > 1,
                         F.col("__cnt") * F.length("__g"))
                  .otherwise(F.lit(0))).alias("__dup_chars"),
        )
    )
    out = per_doc.select(
        id_col,
        "top_ngram",
        F.round(F.col("__top_chars") / F.col("__norm_len"), 6)
        .alias("top_ngram_frac"),
        F.round(F.col("__dup_chars") / F.col("__norm_len"), 6)
        .alias("dup_ngram_frac"),
    )
    # docs with < n tokens produce no grams: re-attach with zero signals
    short = (
        base.filter(F.size("__t") < n)
        .select(F.col(id_col), F.lit(None).cast("string").alias("top_ngram"),
                F.lit(0.0).alias("top_ngram_frac"),
                F.lit(0.0).alias("dup_ngram_frac"))
    )
    return out.unionByName(short)


def line_repetition_signals(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Gopher duplicate-line filters: per doc, the fraction of non-blank
    lines that are duplicates of another line, and the fraction of those
    lines' characters inside duplicated lines. Docs with no non-blank
    lines are dropped (nothing to measure).

    Same explode→aggregate shape as :func:`ngram_repetition_signals` —
    linear, codegen-only, shuffle keyed by (doc, line)."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col), F.explode(lines).alias("__line"))
    counts = base.groupBy(id_col, "__line").agg(
        F.count(F.lit(1)).alias("__cnt"))
    agg = counts.groupBy(id_col).agg(
        F.sum("__cnt").alias("__n_lines"),
        F.sum(F.when(F.col("__cnt") > 1, F.col("__cnt"))
              .otherwise(F.lit(0))).alias("__dup_lines"),
        F.sum(F.col("__cnt") * F.length("__line")).alias("__chars"),
        F.sum(F.when(F.col("__cnt") > 1, F.col("__cnt") * F.length("__line"))
              .otherwise(F.lit(0))).alias("__dup_chars"),
    )
    return agg.select(
        id_col,
        F.col("__n_lines").cast("long").alias("n_lines"),
        F.round(F.col("__dup_lines") / F.col("__n_lines"), 6)
        .alias("dup_line_frac"),
        F.round(F.when(F.col("__chars") > 0,
                       F.col("__dup_chars") / F.col("__chars"))
                .otherwise(F.lit(0.0)), 6).alias("dup_line_char_frac"),
    )


#: Gopher A1.1 "required words" (Rae et al. 2021): a doc must contain at
#: least two of these to survive the final rule
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have",
                         "with"]

#: leading characters that mark a bullet line for the bullet-ratio rule
_GOPHER_BULLETS = ["•", "‣", "▪", "-", "*"]


def gopher_document_filter(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    required_words: list[str] | None = None,
    min_required: int = 2,
):
    """The COMPLETE Gopher document-quality rule set (Rae et al. 2021
    §A1.1) as one composite keep/drop decision with the first failed rule
    named — the full filter the repetition/line signals above are pieces
    of:

    1.  ``n_words``       — word count in [min_words, max_words]
    2.  ``mean_word_len`` — mean word length in [3, 10] chars
    3.  ``symbol_ratio``  — (hash '#' + ellipsis '...'/'…') per word ≤ 0.1
    4.  ``bullet_lines``  — ≤ 90% of lines start with a bullet
    5.  ``ellipsis_lines``— ≤ 30% of lines end with an ellipsis
    6.  ``alpha_words``   — ≥ 80% of words contain an alphabetic char
    7.  ``required_words``— ≥ ``min_required`` distinct required words
        present (default GOPHER_REQUIRED_WORDS — Gopher's fixed English
        set; corpora in other domains/registers configure their own)

    Every rule compares CROSS-MULTIPLIED integers (symbols·10 ≤ words,
    alpha·5 ≥ words·4, …), never a float ratio, so the boundary cases
    land identically in any engine. Output: (id, n_words, n_lines, the
    raw rule counts, ``keep`` boolean, ``fail_reason`` — the first rule
    failed in the order above, NULL when kept). Pure Column expressions
    end-to-end: no shuffle at all (the whole filter is map-side), no
    Python in the row path."""
    toks = lm_tokens(F.coalesce(F.col(text_col), F.lit("")))
    raw_lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    lines = F.filter(F.transform(raw_lines, lambda x: F.trim(x)),
                     lambda x: x != "")
    c = F.coalesce(F.col(text_col), F.lit(""))
    hash_hits = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    uni_ell = (F.length(c)
               - F.length(F.replace(c, F.lit("…"), F.lit(""))))
    ascii_ell = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("__w"),
        F.coalesce(F.aggregate(
            toks, F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x)), F.lit(0)).alias("__wchars"),
        (hash_hits + uni_ell + ascii_ell.cast("long")).alias("__sym"),
        F.size(lines).alias("__l"),
        F.size(F.filter(
            lines, lambda x: F.substring(x, 1, 1).isin(_GOPHER_BULLETS)
        )).alias("__bullet"),
        F.size(F.filter(
            lines,
            lambda x: x.endswith("...") | x.endswith("…")
        )).alias("__ell"),
        F.size(F.filter(
            toks, lambda x: x.rlike("[a-z]"))).alias("__alpha"),
        F.size(F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in
                      (required_words or GOPHER_REQUIRED_WORDS)])
        )).alias("__req"),
    )
    w = F.col("__w")
    rules = [
        ("n_words", (w >= min_words) & (w <= max_words)),
        # 3 ≤ sum(len)/n ≤ 10  ⇔  3n ≤ sum ≤ 10n
        ("mean_word_len", (F.col("__wchars") >= 3 * w)
                          & (F.col("__wchars") <= 10 * w)),
        ("symbol_ratio", F.col("__sym") * 10 <= w),
        ("bullet_lines", F.col("__bullet") * 10 <= F.col("__l") * 9),
        ("ellipsis_lines", F.col("__ell") * 10 <= F.col("__l") * 3),
        ("alpha_words", F.col("__alpha") * 5 >= w * 4),
        ("required_words", F.col("__req") >= min_required),
    ]
    keep = F.lit(True)
    reason = F.lit(None).cast("string")
    for name, ok in reversed(rules):
        reason = F.when(~ok, F.lit(name)).otherwise(reason)
    for _, ok in rules:
        keep = keep & ok
    return base.select(
        F.col(id_col),
        w.cast("long").alias("n_words"),
        F.col("__l").cast("long").alias("n_lines"),
        F.col("__sym").cast("long").alias("n_symbols"),
        F.col("__bullet").cast("long").alias("n_bullet_lines"),
        F.col("__ell").cast("long").alias("n_ellipsis_lines"),
        F.col("__alpha").cast("long").alias("n_alpha_words"),
        F.col("__req").cast("long").alias("n_required_words"),
        keep.alias("keep"),
        reason.alias("fail_reason"),
    )


#: C4's terminal punctuation set (a line must end in one to survive)
_C4_TERMINALS = (".", "!", "?", '"', "”")


def c4_clean(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    require_terminal_punct: bool = True,
    banned_substrings: list[str] | None = None,
):
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2) — the other
    canonical web-text filter beside Gopher, and unlike Gopher it REWRITES
    the document (line-level retention), not just keep/drop:

    line rules — a line survives if it has ≥ ``min_words_per_line`` words,
    (optionally) ends in terminal punctuation (. ! ? " ”), and does not
    contain the word "javascript" (case-insensitive);
    doc rules — the doc survives if it keeps ≥ ``min_kept_lines`` lines,
    contains no curly brace '{' (code), and none of ``banned_substrings``
    (default ["lorem ipsum"]; C4 also used a long bad-word list — supply
    your own).

    Output: (id, text_clean — the kept lines joined by newline, NULL when
    dropped — n_lines, n_lines_kept, keep, fail_reason with the first
    failed doc rule in order [kept_lines, curly_brace, banned]). Pure
    map-side Column work: zero shuffles, no Python in the row path. C4's
    remaining step — corpus-level three-sentence-span dedup — composes
    from this family's exact/ExactSubstr dedup operators."""
    banned = [b.lower() for b in (banned_substrings or ["lorem ipsum"])]
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
                     lambda x: x != "")

    def line_ok(x):
        words = F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
        ok = words >= min_words_per_line
        if require_terminal_punct:
            term = F.lit(False)
            for t in _C4_TERMINALS:
                term = term | x.endswith(t)
            ok = ok & term
        ok = ok & ~F.lower(x).rlike(r"\bjavascript\b")
        return ok

    kept = F.filter(lines, line_ok)
    low = F.lower(c)
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("__l"),
        F.size(kept).alias("__k"),
        F.array_join(kept, "\n").alias("__clean"),
        F.coalesce(low.contains("{"), F.lit(False)).alias("__curly"),
        sum([low.contains(b).cast("int") for b in banned],
            F.lit(0)).alias("__banned"),
    )
    rules = [
        ("kept_lines", F.col("__k") >= min_kept_lines),
        ("curly_brace", ~F.col("__curly")),
        ("banned", F.col("__banned") == 0),
    ]
    keep = F.lit(True)
    reason = F.lit(None).cast("string")
    for name, ok in reversed(rules):
        reason = F.when(~ok, F.lit(name)).otherwise(reason)
    for _, ok in rules:
        keep = keep & ok
    return base.select(
        F.col(id_col),
        F.when(keep, F.col("__clean")).alias("text_clean"),
        F.col("__l").cast("long").alias("n_lines"),
        F.col("__k").cast("long").alias("n_lines_kept"),
        keep.alias("keep"),
        reason.alias("fail_reason"),
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of lowercased
    whitespace-normalized text. Identical across engines (exact-dedup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def normalize_text(
    col: Column | str,
    *,
    form: str = "NFC",
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> Column:
    """Canonical text normalization for pre-dedup cleaning: unicode
    normalization (NFC by default — composed form, what most dedup
    pipelines key on) + optional lowercase + whitespace collapse.

    The unicode step has no JVM builtin, so it is an Arrow-batched
    pandas UDF (`Series.str.normalize`, vectorized C under the hood) —
    the one Python hop; lowercase/trim/collapse stay Column ops around
    it. Output matches SQL engines' ``nfc_normalize`` (DuckDB oracle
    pins the cross-engine agreement)."""
    import pandas as pd  # noqa: F811 — local for the UDF closure
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    @pandas_udf(T.StringType())
    def _norm_udf(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    c = F.col(col) if isinstance(col, str) else col
    out = _norm_udf(c)
    if lowercase:
        out = F.lower(out)
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


# PII patterns restricted to the regex intersection of Java (Spark) and
# RE2 (DuckDB/Go/Rust engines): no lookaround, no backrefs — so the same
# pattern string redacts identically everywhere. Order matters: emails
# before the bare-domain-ish URL rule would, e.g., double-redact.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}",
     "[PHONE]"),
    ("ssn_like", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[ID]"),
]


def redact_pii(col: Column | str, kinds: list[str] | None = None) -> Column:
    """Redact common PII shapes (emails, IPv4, phone-ish numbers,
    SSN-like ids) with typed placeholders — the standard scrub step
    before corpus release/training. Pure chained ``regexp_replace``
    Column ops: JVM-side, codegen, linear scans, no Python.

    ``kinds`` selects a subset of :data:`PII_PATTERNS` by name (applied
    in the canonical order regardless of the list order given)."""
    c = F.col(col) if isinstance(col, str) else col
    selected = set(kinds) if kinds is not None else None
    for name, pat, repl in PII_PATTERNS:
        if selected is None or name in selected:
            c = F.regexp_replace(c, pat, repl)
    return c


def corpus_report(
    df,
    text_col: str = "text",
    group_col: str = "source",
    lang_col: str = "lang",
    id_col: str = "doc_id",
):
    """Per-domain corpus card: the summary table a curation pipeline
    publishes per source before mixing — doc counts, token mass, exact
    token-count percentiles (p50/p90 — `percentile` is the EXACT
    interpolated quantile, matching ANSI ``quantile_cont``/
    ``percentile_cont`` so any SQL engine reproduces it), language
    diversity, and the dominant language with its share.

    Scale: two hash aggregations (per (group, lang), then per group) +
    one exact-percentile agg per group. Exact percentiles sort within
    the aggregation buffer — fine for per-GROUP cardinalities (docs per
    domain); for trillion-row single groups switch the caller to
    approx_percentile and drop the oracle claim."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(group_col), F.col(lang_col),
        token_count(text_col).alias("__nt"))
    base = toks.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.round(F.percentile("__nt", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("__nt", F.lit(0.9)), 6).alias("p90_tokens"),
        F.countDistinct(lang_col).alias("n_langs"),
    )
    lang_counts = toks.groupBy(group_col, lang_col).agg(
        F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("__cnt").desc(), F.col(lang_col).asc())
    top = (
        lang_counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(group_col), F.col(lang_col).alias("top_lang"),
                F.col("__cnt").alias("__top_cnt"))
    )
    return base.join(top, group_col).select(
        group_col, "n_docs", "total_tokens", "p50_tokens", "p90_tokens",
        "n_langs", "top_lang",
        F.round(F.col("__top_cnt") / F.col("n_docs"), 6)
        .alias("top_lang_frac"),
    )


def chunk_documents(
    df,
    budget: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Split documents into training-window chunks of at most ``budget``
    whitespace tokens with ``overlap`` tokens carried between adjacent
    chunks (the standard sliding-window prep for context-limited
    training/embedding). Chunk starts step by ``stride = budget -
    overlap``; chunk count is ``max(1, ceil((n - overlap) / stride))``
    so a trailing window is emitted only if it adds new tokens. Blank
    docs are dropped.

    Output: (id, chunk_id, chunk_text, n_tokens). Pure Column work —
    tokenize once, transform+posexplode the chunk windows, array_join
    back to text; a stateless map over the scan at any scale."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if not 0 <= overlap < budget:
        raise ValueError("overlap must be in [0, budget)")
    stride = budget - overlap
    t = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), t.alias("__t"), F.size(t).alias("__n"))
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("__n") - overlap) / F.lit(stride)).cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("__t", i * stride + 1, budget),
    )
    return base.select(
        id_col,
        F.posexplode(chunks).alias("chunk_id", "__c"),
    ).select(
        id_col, "chunk_id",
        F.array_join("__c", " ").alias("chunk_text"),
        F.size("__c").cast("long").alias("n_tokens"),
    )


def ngram_array(col: Column, n_max: int = 2) -> Column:
    """Lowercase whitespace tokens and word n-grams up to ``n_max``, as one
    flat array column. n-grams build as zip_with over n shifted slices —
    NOT element_at/get with a dynamic index, which re-evaluates the
    tokenization per element access (measured 11× slower, O(len²) per
    doc). greatest() clamps the slice length so sub-n-token docs yield
    empty arrays (also dodging sequence()'s descending mode)."""
    toks = F.filter(F.split(F.lower(F.trim(col)), r"\s+"),
                    lambda x: x != "")

    def _ngrams(n):
        cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        cur = F.slice(toks, 1, cnt)
        for j in range(1, n):
            cur = F.zip_with(cur, F.slice(toks, 1 + j, cnt),
                             lambda a, b: F.concat_ws(" ", a, b))
        return cur

    gram_arrays = [toks]
    for n in range(2, n_max + 1):
        gram_arrays.append(_ngrams(n))
    return F.flatten(F.array(*gram_arrays))


def vocab_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_max: int = 2,
    top_k: int = 1000,
):
    """Corpus vocabulary for tokenizer training: lowercase whitespace
    tokens and n-grams up to ``n_max``, with global occurrence counts and
    document frequency; deterministic top-``top_k``
    (count desc, n asc, gram asc).

    Scale shape: one shuffle keyed on (gram, doc) with map-side partial
    counts (so a gram repeated within a doc combines before moving),
    one on gram, and the final top-k is Spark's TakeOrderedAndProject —
    a per-partition heap + driver merge of top_k rows, never a full
    vocabulary sort. All Column expressions, no Python."""
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(ngram_array(F.col(text_col), n_max)).alias("gram"),
    )
    per_doc = exploded.groupBy("gram", "__id").agg(
        F.count(F.lit(1)).alias("__c"))
    return (
        per_doc.groupBy("gram")
        .agg(F.sum("__c").alias("count"),
             F.count(F.lit(1)).alias("doc_freq"))
        .withColumn("n", F.size(F.split(F.col("gram"), " ")).cast("int"))
        .select("gram", "n", "count", "doc_freq")
        .orderBy(F.col("count").desc(), F.col("n").asc(), F.col("gram").asc())
        .limit(top_k)
    )


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
    n_docs: int | None = None,
):
    """Per-document top-``top_n`` terms by tf-idf (smooth idf:
    ln((N+1)/(df+1)) + 1) — the classic relevance/keyword-extraction pass
    a curation pipeline runs before clustering or routing.

    Returns (id, term, tf, score, rank); score is rounded to 6dp and the
    rank orders by (rounded score desc, term asc) so ranking is
    cross-engine stable (a libm ln() differing in the last ulp could in
    principle flip a 6th-decimal rounding boundary — same accepted-risk
    class as the SRP sign notes in __spark_entry__).

    Scale shape: term counts are one (id, term) shuffle with map-side
    combine; document frequency is one vocabulary-sized aggregate joined
    back on the term key (AQE broadcasts it when small); the per-doc
    ranking windows on the id key. ``n_docs`` lets callers pass a known
    corpus size instead of paying a count() job."""
    from pyspark.sql.window import Window

    if n_docs is None:
        n_docs = df.count()
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda x: x != "")
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1
    scored = tf.join(dfreq, "term").select(
        F.col(id_col), "term", "tf",
        F.round(F.col("tf") * idf, 6).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
    )


def laplace_lp6(c2: int, c1: int, vocab_n: int) -> "Decimal":
    """round6(ln((c2+1)/(c1+V))) as DECIMAL(18,6) — the per-bigram
    log-prob of the Laplace bigram LM. Module-level and CPython-side so
    :func:`ngram_lm_score` (which broadcasts the table) and the
    cross-engine oracle builder share one implementation: both engines
    then consume the SAME rounded literals instead of re-deriving ln()
    with their own libm (whose last-ulp differences flipped 6dp rounding
    boundaries in the r8 driver's DuckDB).

    r10: computed as ln(c2+1) − ln(c1+V) with correctly-rounded
    ``decimal`` ln (:mod:`~duckdb_iceberg_spark.operators.exactmath`)
    instead of ``math.log`` — the literal is now identical no matter
    which process/platform generates it, so an oracle built in one
    environment grades an operator run in another without a libm-ulp
    flipping a 6dp boundary (the r8/r9 driver hash-red class)."""
    from .exactmath import dec_ln_int, q6

    return q6(dec_ln_int(c2 + 1) - dec_ln_int(c1 + vocab_n))


def lm_tokens(text_col: str | Column):
    """The shared whitespace tokenizer of the LM/classifier/filter
    family: lower → trim → split on runs of whitespace → drop empties.
    One expression used by :func:`_lm_fit`,
    :mod:`~duckdb_iceberg_spark.operators.classify`,
    :mod:`~duckdb_iceberg_spark.operators.retrieval`, and
    :func:`gopher_document_filter` so the operator families (and their
    oracle CTE replicas) cannot drift. Accepts a Column for callers that
    pre-coalesce NULL text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"),
                    lambda x: x != "")


def lm_repartition_guard(df, id_col: str):
    """Pre-shuffle parallelism guard shared by the tokenize-heavy
    operators: tokenize+explode run BEFORE any shuffle, so they inherit
    the source's split count — a single-file parquet would serialize the
    whole pass on one task (the DSIR lesson). At real scale the source
    already has >= parallelism splits and this never fires."""
    para = df.sparkSession.sparkContext.defaultParallelism
    try:
        few = df.rdd.getNumPartitions() < para
    except Exception:
        few = False
    if few:
        return df.repartition(para, F.col(id_col))
    return df


def _lm_unkmap(tcol, vocab):
    """Map every token outside ``vocab`` to ``<unk>`` (the Laplace model's
    single OOV symbol)."""
    if not vocab:
        return F.transform(tcol, lambda w: F.lit("<unk>"))
    return F.transform(
        tcol,
        lambda w: F.when(w.isin(vocab), w).otherwise(F.lit("<unk>")))


def _lm_bigrams(tcol):
    """Adjacent-pair bigrams of a token array as 'a b' strings."""
    cnt = F.greatest(F.size(tcol) - 1, F.lit(0))
    return F.zip_with(F.slice(tcol, 1, cnt), F.slice(tcol, 2, cnt),
                      lambda a, b: F.concat_ws(" ", a, b))


def _lm_fit(df, text_col, id_col, reference_cond, vocab_size):
    """The shared model fit of :func:`ngram_lm_score` / :func:`lm_probe`:
    tokenize the corpus, take the top-``vocab_size`` reference-slice
    vocabulary (count desc, token asc), count unk-mapped bigrams.

    Returns ``(base, vocab_counts, c2map, c1map)`` — the tokenized
    (id, tokens) frame, the ordered [(word, count)] vocabulary, the
    bigram counts, and the context (first-word) counts. Factored out so
    the driver-correctness probe exercises EXACTLY the Spark expressions
    the scorer uses (not a reimplementation that could mask a
    divergence)."""
    toks = lm_tokens(text_col)
    src = lm_repartition_guard(df, id_col)
    base = src.select(F.col(id_col).alias("__id"), toks.alias("__t"))
    if reference_cond is None:
        ref = base.select("__t")
    else:
        ref = src.filter(reference_cond).select(toks.alias("__t"))
    # the fit consumes ref TWICE (vocab top-k, then bigram counts) — cache
    # the tokenized slice across the two bounded collects and release it
    # before the scoring job (which reads only the broadcast lp tables)
    ref = ref.persist()
    vocab_counts = [
        (r["w"], r["c"])
        for r in (
            ref.select(F.explode("__t").alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("w").asc())
            .limit(vocab_size)
            .collect()
        )
    ]
    vocab = [w for w, _ in vocab_counts]
    ref_bi = ref.select(
        F.explode(_lm_bigrams(_lm_unkmap(F.col("__t"), vocab))).alias("g"))
    c2map = {
        r["g"]: r["c2"]
        for r in ref_bi.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
        .collect()
    }
    ref.unpersist()
    c1map: dict[str, int] = {}
    for g, c in c2map.items():
        w1 = g.split(" ", 1)[0]
        c1map[w1] = c1map.get(w1, 0) + c
    return base, vocab_counts, c2map, c1map


def lm_probe(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference_cond: str | Column | None = None,
    vocab_size: int = 1024,
):
    """Stage-bisect probe for :func:`ngram_lm_score`'s cross-engine
    contract (VERDICT r9 task 1b): every INTEGER/STRING intermediate of
    the model fit as (metric, k, v) rows — no floats, no logs, so a
    grading engine that disagrees with this probe has a tokenize/count
    divergence, and one that agrees but still fails the scorer has a
    literal/decimal-layer divergence. Metrics:

    - ``doc_toks``: per-document token count (NULL text → NULL count) —
      pins Spark-vs-checker tokenization (regex ``\\s+`` split, lower,
      trim) per document;
    - ``vocab``: the top-``vocab_size`` reference-slice vocabulary with
      counts — pins the count-desc/word-asc selection and any collation
      or grouping difference;
    - ``bigram``: every unk-mapped reference bigram with its count c2 —
      pins the model table;
    - ``ctx``: every context (first word) with its count c1.

    The fit runs through :func:`_lm_fit` — the scorer's own code — and
    the model-side rows are the scorer's own driver collections
    re-parallelized, so a green probe certifies the scorer's inputs."""
    base, vocab_counts, c2map, c1map = _lm_fit(
        df, text_col, id_col, reference_cond, vocab_size)
    spark = df.sparkSession
    doc_toks = base.select(
        F.lit("doc_toks").alias("metric"),
        F.col("__id").cast("string").alias("k"),
        F.when(F.col("__t").isNull(), F.lit(None).cast("long"))
        .otherwise(F.size("__t").cast("long")).alias("v"))
    side_rows = (
        [("vocab", w, int(c)) for w, c in vocab_counts]
        + [("bigram", g, int(c)) for g, c in c2map.items()]
        + [("ctx", w1, int(c1)) for w1, c1 in c1map.items()]
    )
    side = local_frame(spark, side_rows, "metric string, k string, v long")
    return doc_toks.unionByName(side).orderBy("metric", "k")


def ngram_lm_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference_cond: str | Column | None = None,
    vocab_size: int = 1024,
    micro_units: bool = False,
):
    """CCNet-style LM quality scoring (the KenLM-perplexity pass of
    Wenzek et al. 2020): train a Laplace-smoothed bigram LM on a
    high-quality reference slice of the corpus (``reference_cond``, e.g.
    ``"lang = 'en'"``; None trains on the whole corpus), then score every
    document by its negative log-likelihood under that model. Downstream
    filtering keeps the low-perplexity head, exactly like CCNet's
    head/middle/tail split.

    Returns (id, n_bigrams, nll_sum, avg_nll) where nll_sum is exact
    DECIMAL(28,6) (each bigram's log-prob rounds to 6dp BEFORE summation
    — the DSIR trick, so cross-engine float accumulation can't drift) and
    avg_nll = round-half-up(nll_sum / n_bigrams, 6) (null for sub-2-token
    docs), computed as EXACT INTEGER arithmetic in micro-units —
    ``(2·N + n) div (2·n)`` over N = nll_sum·1e6 — then one IEEE divide
    by 1e6. A double round(nll/n, 6) would hit exact 6dp ties (sf0.1's
    258.481054/76 = 3.4010665 precisely) that engines round differently;
    the integer form has no boundary to disagree on.

    ``micro_units=True`` instead returns (id, n_bigrams, nll_sum_micro,
    avg_nll_micro) as exact BIGINTs = value × 1e6 (the half-up quotient
    is ALREADY an integer micro-unit value before the final divide; this
    mode simply skips the divide). DECIMAL/DOUBLE output columns render
    scale-sensitively in some result harnesses (VERDICT r10 task 1) while
    a BIGINT has exactly one rendering — the representation the r10
    integer probes proved safe end-to-end.

    Scale shape: the vocabulary is a bounded driver collect
    (<= vocab_size rows, like DSIR's bucket model); unk-mapping is an
    InSet literal — O(1) hash per token, JVM-side, no join; the bigram
    model is a bounded driver collect too (<= (vocab_size+1)^2 distinct
    mapped bigrams — ~1M rows / tens of MB at vocab 1024, independent of
    corpus size) whose log-probs are computed ONCE driver-side
    (:func:`laplace_lp6`) and broadcast; the corpus side is explode ->
    two broadcast joins -> one groupBy(id) with map-side partials — ONE
    linear shuffle total, nothing keyed on a gram, and no per-row ln()
    anywhere. Driver-side lp also makes the cross-engine oracle
    literal-replay exact: both engines sum the same DECIMAL(18,6)
    literals (the r8 driver's DuckDB recomputed ln() with a different
    libm and flipped 6dp boundaries)."""
    base, vocab_counts, c2map, c1map = _lm_fit(
        df, text_col, id_col, reference_cond, vocab_size)
    vocab = [w for w, _ in vocab_counts]
    n_vocab = len(vocab) + 1  # + <unk>

    def unkmap(tcol):
        return _lm_unkmap(tcol, vocab)

    bigrams = _lm_bigrams
    lp_t = T.StructType([
        T.StructField("g", T.StringType()),
        T.StructField("__lp2", T.DecimalType(18, 6))])
    ctx_t = T.StructType([
        T.StructField("w1", T.StringType()),
        T.StructField("__lp1", T.DecimalType(18, 6))])
    spark = df.sparkSession
    model_lp = local_frame(
        spark,
        [(g, laplace_lp6(c, c1map[g.split(" ", 1)[0]], n_vocab))
         for g, c in c2map.items()], lp_t)
    ctx_lp = local_frame(
        spark,
        [(w1, laplace_lp6(0, c1, n_vocab)) for w1, c1 in c1map.items()],
        ctx_t)
    unseen = laplace_lp6(0, 0, n_vocab)
    corp = base.select(
        "__id", F.explode(bigrams(unkmap(F.col("__t")))).alias("g"))
    lp = F.coalesce(F.col("__lp2"), F.col("__lp1"),
                    F.lit(unseen).cast("decimal(18,6)"))
    scored = (
        corp.withColumn("w1", F.split("g", " ", 2).getItem(0))
        .join(F.broadcast(model_lp), "g", "left")
        .join(F.broadcast(ctx_lp), "w1", "left")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             (-F.sum(lp)).alias("__nll"))
    )
    joined = df.select(F.col(id_col)).join(
        scored.withColumnRenamed("__id", id_col), id_col, "left")
    if micro_units:
        return joined.select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            # DECIMAL(.,6) × 1e6 is exact; cast drops a zero fraction
            (F.coalesce(F.col("__nll"), F.lit(0)) * F.lit(1000000))
            .cast("long").alias("nll_sum_micro"),
            F.when(
                F.col("n_bigrams") > 0,
                # the half-up micro-unit quotient, WITHOUT the final /1e6
                F.expr(
                    "(2 * CAST(__nll * 1000000 AS BIGINT) + n_bigrams)"
                    " DIV (2 * n_bigrams)"
                ),
            ).alias("avg_nll_micro"),
        )
    return (
        joined
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("__nll"), F.lit(0))
            .cast("decimal(28,6)").alias("nll_sum"),
            F.when(
                F.col("n_bigrams") > 0,
                # half-up 6dp quotient in exact micro-unit integers:
                # N = nll·1e6 (exact — nll has scale 6), then
                # (2N + n) div (2n); the final /1e6 is one IEEE divide of
                # identical operands, bit-equal in any engine
                F.expr(
                    "CAST((2 * CAST(__nll * 1000000 AS BIGINT) + n_bigrams)"
                    " DIV (2 * n_bigrams) AS DOUBLE) / 1000000.0"
                ),
            ).alias("avg_nll"),
        )
    )


def lm_perplexity_buckets(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    reference_cond: str | Column | None = None,
    vocab_size: int = 1024,
):
    """CCNet's head/middle/tail split: per-``group_col`` (language)
    perplexity terciles over the ngram_lm_score NLL — 'head' is the
    lowest-NLL (most reference-like) third, the slice CCNet keeps for LM
    training. Docs with no score (sub-2-token) get a NULL bucket.

    Thresholds are EXACT percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, the corpus_report-proven pairing), rounded
    to 6dp so an interpolation ulp can't move a boundary. At 100 TB swap
    in approx_percentile for the threshold pass (a per-group t-digest
    instead of exact per-group sorted aggregation); the exact form here
    is what the cross-engine oracle can replay.

    Scale shape: the scoring pass is ngram_lm_score's one linear
    shuffle; thresholds are one tiny per-group aggregate broadcast back;
    labeling is a Column CASE. Nothing global-sorts. The scored frame is
    persisted and eagerly materialized because BOTH branches (thresholds,
    labels) consume it — unpersisted, the whole LM pipeline ran twice
    (plan audit showed exactly doubled exchanges), and lazy persist would
    still double-build under AQE's parallel stage submission (the
    verify_jaccard lesson). Caller owns the cache lifetime, as everywhere
    in the dedup family."""
    scored = ngram_lm_score(df, text_col, id_col, reference_cond, vocab_size)
    j = (df.select(F.col(id_col), F.col(group_col))
         .join(scored, id_col).persist())
    j.count()
    th = (
        j.filter(F.col("avg_nll").isNotNull())
        .groupBy(group_col)
        .agg(
            F.expr("round(percentile(avg_nll, 1.0D/3), 6)").alias("__t1"),
            F.expr("round(percentile(avg_nll, 2.0D/3), 6)").alias("__t2"),
        )
    )
    return (
        j.join(F.broadcast(th), group_col, "left")
        .select(
            F.col(id_col), F.col(group_col), "avg_nll",
            F.when(F.col("avg_nll").isNull(), F.lit(None).cast("string"))
            .when(F.col("avg_nll") <= F.col("__t1"), F.lit("head"))
            .when(F.col("avg_nll") <= F.col("__t2"), F.lit("middle"))
            .otherwise(F.lit("tail")).alias("bucket"),
        )
    )
