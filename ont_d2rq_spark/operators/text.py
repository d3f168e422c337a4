"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting.  All pure Catalyst expressions so the same
logic is expressible as the DuckDB oracle SQL (queries.py) — and so the
hot path never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# function words for the n-gram/stopword language heuristic
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _token_stat_cols(text_col: str) -> list:
    toks = F.split(F.col(text_col), " ")
    return [
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
    ]


def fingerprint_expr(col):
    """md5 of whitespace-normalized lowercase text (cross-engine
    reproducible, unlike xxhash64 which DuckDB lacks)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), *_token_stat_cols(text_col))


def _quality_cols(text_col: str) -> list:
    """Quality features + composite score as aliased Columns — the ONE
    place the formula/weights live; quality_score and quality_language
    both project from it."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(EN_STOPWORDS))
    ).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    punct = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    ).cast("double")
    mean_word_len = (F.length(text_col) - (n - 1)) / n
    score = (
        F.when(n < 5, 0.0).otherwise(
            F.round(
                0.4 * F.least(distinct_ratio * 2, F.lit(1.0))
                + 0.3 * F.least(stop_hits / n * 10, F.lit(1.0))
                + 0.3 * F.when((mean_word_len >= 3) & (mean_word_len <= 8), 1.0).otherwise(0.3),
                6,
            )
        )
    )
    return [
        F.round(stop_hits / n, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(punct / F.length(text_col), 6).alias("punct_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        score.alias("quality"),
    ]


def _language_cols(text_col: str) -> list:
    """Language-ID columns (English function-word hit ratio) — shared by
    language_id and quality_language."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS))).cast("double")
    ratio = F.round(hits / F.size(toks), 6)
    return [
        ratio.alias("en_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unk").alias("lang_guess"),
    ]


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score (deterministic,
    SQL-expressible): length, mean word length, stopword ratio,
    punctuation ratio, repetition ratio."""
    return df.select(F.col(id_col), *_quality_cols(text_col))


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rule-based language ID: English function-word hit ratio.
    (Real models need external data; the heuristic is deterministic and
    exercises the same plan shape: tokenize → dictionary semi-match →
    ratio → classify.)"""
    return df.select(F.col(id_col), *_language_cols(text_col))


def clean_expr(t):
    """Normalization/redaction expression a pretraining corpus runs
    before tokenization: collapse whitespace, strip non-printables, mask
    number runs and email-shaped tokens.  Pure Catalyst regexp chain."""
    t = F.regexp_replace(t, r"[\x00-\x1f]", " ")
    t = F.regexp_replace(t, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    t = F.regexp_replace(t, r"\d[\d,.]*", "<NUM>")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def clean_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), clean_expr(F.col(text_col)).alias("clean_text"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fingerprint"))


# GPT-2-style pre-tokenization shape: letter runs / digit runs /
# punctuation runs with leading-space attachment.
BPE_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def text_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    clean_text_col: str | None = None,
) -> DataFrame:
    """Per-document text-ops profile in ONE narrow projection (no
    shuffle, no self-joins): token stats + BPE-ish token count +
    content fingerprint + cleaned text.  ``clean_text_col`` lets the
    redaction run over a different column (e.g. an augmented copy) than
    the stats; defaults to ``text_col``."""
    return df.select(
        F.col(id_col),
        *_token_stat_cols(text_col),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_RE}', 0)"))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        fingerprint_expr(F.col(text_col)).alias("fingerprint"),
        clean_expr(F.col(clean_text_col or text_col)).alias("clean_text"),
    )


def quality_language(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality features + language ID in ONE narrow projection (the
    fused form of :func:`quality_score` + :func:`language_id` — the
    corpus-filter stage computes both anyway, so fusing halves the
    scans at 100 TB).  Projects from the SAME shared expression
    builders as the unfused operators, so the formulas cannot drift."""
    return df.select(
        F.col(id_col), *_quality_cols(text_col), *_language_cols(text_col)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprinting by WINNOWING (Schleimer et
    al., SIGMOD'03 — the MOSS scheme): hash every char k-gram, then keep
    the minimum hash of each `window` of consecutive k-grams; the
    distinct minima are the document's fingerprint set.  Guarantees at
    least one shared fingerprint for any common substring of length ≥
    k + window − 1 — the partial-overlap detector exact-dup md5 can't be.

    md5-derived 60-bit hashes so the DuckDB oracle replays it exactly.
    Docs shorter than k + window − 1 chars produce no fingerprints.
    → (doc_id, fp) one row per distinct fingerprint.

    r7 shape: normalization stays Catalyst (Java regex semantics are
    the oracle contract); the per-position k-gram hashing + window
    minima run in ONE Arrow pass — the former transform/slice chain
    evaluated one interpreted md5 per CHARACTER plus a window-slice
    array_min per position (CodegenFallback throughout).
    Each batch's distinct k-grams are hashed once and scattered back to
    their positions; :func:`md5_top60` is the bit-exact twin of
    conv(substr(md5(…),1,15),16,10); Spark's
    substring/length count code points exactly as Python slicing does;
    the rolling minimum is one numpy sliding-window reduction over the
    batch.  Parity pinned by
    tests/test_dedup_similarity.py::test_winnow_prep_parity and the
    doc_winnow oracle row."""
    import pandas as pd

    from ont_d2rq_spark.operators.dedup import md5_top60, spread

    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    # per-char k-gram hashing is CPU-explosive: spread an under-split
    # source across cores before the hashing pass
    base = spread(df.select(F.col(id_col).alias("id"), norm.alias("nt"))).filter(
        F.length("nt") >= k + window - 1
    )
    id_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[
        id_col
    ]

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            grams = [[s[i : i + k] for i in range(len(s) - k + 1)] for s in pdf["nt"]]
            # hash each distinct k-gram of the batch once, scatter back:
            # the repo's corpora repeat most 8-grams (3-19 % distinct per
            # batch); on text with no repeats this costs ~25 % over
            # hashing every k-gram
            codes, uniq = pd.factorize(
                pd.Series([g for gs in grams for g in gs], dtype=object)
            )
            H = md5_top60([u.encode("utf-8") for u in uniq])[codes, 0]
            # window minima over the concatenation; document d's minima
            # are the windows that start inside its own k-grams
            mins = np.lib.stride_tricks.sliding_window_view(H, window).min(axis=1)
            fps, start = [], 0
            for gs in grams:
                own = mins[start : start + len(gs) - window + 1]
                fps.append(list(dict.fromkeys(own.tolist())))
                start += len(gs)
            yield pd.DataFrame({"id": pdf["id"], "fps": fps})

    return (
        base.mapInPandas(gen, f"id {id_type}, fps array<bigint>")
        .select(F.col("id").alias(id_col), F.explode("fps").alias("fp"))
    )
