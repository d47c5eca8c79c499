"""Text-analysis operators (beyond-reference, mandated by BASELINE.json):
language-ID, document fingerprinting, BPE-ish token counting.

All md5-based so the DuckDB oracle computes identical values; all
higher-order column expressions — no Python, no shuffle, one narrow
pass per document.  At 100 TB these run as map-only stages fused into
the scan by whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import TOKEN_RUN_RE, WORD_SPLIT_RE, bind1, pystrip

# Stopword profiles for the n-gram/stopword language heuristic.  Small
# on purpose: the signal is the *ratio* of profile hits, and ties break
# by profile order (then 'unknown' when nothing matches).
LANG_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a")),
    ("de", ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf")),
    ("fr", ("le", "la", "et", "les", "des", "est", "pour", "dans", "une", "que")),
    ("es", ("el", "la", "de", "que", "los", "para", "con", "una", "por", "es")),
)

# "BPE-ish" pretokenizer: word pieces OR single non-word-non-space marks
# (the public GPT-2 pretokenizer shape, simplified to an RE2-safe form).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _lang_tokens(col: Column) -> Column:
    """Lowercase whitespace tokens in ONE regex pass (r15: \\S+ runs ==
    the old strip → empty-check → split fields, same NULL)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RUN_RE), 0)


def _lang_score_vec(toks: Column) -> Column:
    """The four profile-coverage scores of a BOUND token array, as one
    array<double> in LANG_PROFILES order.  ``toks`` must be a lambda
    variable / attribute: the distinct-token set is bound once and each
    score reads it, where the old per-language dict re-inlined the
    whole tokenize tree into every score (and detect_language's argmax
    then duplicated each score ~6x more — ~40 tokenize runs per row,
    all interpreted because these trees sit in HOF/fallback
    projections; guide §1.2 step 2)."""
    n = F.size(toks)
    return bind1(
        F.array_distinct(toks),
        lambda dist: F.array(*[
            F.when(n == 0, F.lit(0.0)).otherwise(
                F.size(F.array_intersect(
                    dist, F.array(*[F.lit(w) for w in words])))
                .cast("double") / len(words))
            for _, words in LANG_PROFILES]))


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio over whitespace tokens.

    Kept as the per-language dict API; each entry evaluates its own
    bound pipeline.  detect_language does NOT call this (it needs all
    four scores per row and binds the score vector once instead)."""
    toks = _lang_tokens(col)
    vec = {lang: i for i, (lang, _) in enumerate(LANG_PROFILES)}
    return {lang: F.element_at(bind1(toks, _lang_score_vec), i + 1)
            for lang, i in vec.items()}


def detect_language(col: Column, min_score: float = 0.05) -> Column:
    """Language-ID: argmax profile coverage, 'unknown' below min_score.
    Ties break in LANG_PROFILES order (first wins) — deterministic and
    mirrored exactly in the oracle SQL's CASE chain.

    r15: tokenize → score-vector → argmax with each stage bound once
    via ``bind1`` (same sub-expressions, same order, evaluated once per
    row).  The old form lexically inlined the tokenize tree into every
    score and every argmax comparison — ~40 evaluations per row."""
    def pick(scores: Column) -> Column:
        vals = [F.element_at(scores, i + 1)
                for i in range(len(LANG_PROFILES))]
        best = F.greatest(*vals)
        expr = None
        for val, (lang, _) in zip(vals, LANG_PROFILES):
            cond = val == best
            expr = (F.when(cond, F.lit(lang)) if expr is None
                    else expr.when(cond, F.lit(lang)))
        return F.when(best < min_score, F.lit("unknown")).otherwise(expr)

    return bind1(_lang_tokens(col),
                 lambda toks: bind1(_lang_score_vec(toks), pick))


def with_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("detected_lang", detect_language(F.col(text_col)))


def bpe_token_count(col: Column) -> Column:
    """Token count under the BPE-ish pretokenizer (regex extract-all).
    Whitespace count is functions.text.word_count (F3)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


# English stopwords for the quality-ratio signal (superset of the 'en'
# language profile; public/ubiquitous list).
STOPWORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "a",
    "on", "as", "are", "was", "by", "at", "an", "be", "this", "it",
)
PUNCT_RE = r"[^A-Za-z0-9\s]"
DIGIT_RE = r"[0-9]"
UPPER_RE = r"[A-Z]"


def quality_ratios(col: Column) -> dict[str, Column]:
    """Training-data quality signals: punctuation / digit / uppercase
    character ratios and stopword token ratio (a document with almost
    no stopwords is usually not prose; one that is mostly punctuation
    or digits is usually markup or tables)."""
    n_chars = F.greatest(F.length(col), F.lit(1))
    counts = {
        "punct_ratio": F.size(F.regexp_extract_all(col, F.lit(PUNCT_RE), 0)),
        "digit_ratio": F.size(F.regexp_extract_all(col, F.lit(DIGIT_RE), 0)),
        "upper_ratio": F.size(F.regexp_extract_all(col, F.lit(UPPER_RE), 0)),
    }
    out = {k: v.cast("double") / n_chars for k, v in counts.items()}
    # r15: tokenize once (one \S+ pass — see _lang_tokens) and bind the
    # array so numerator and denominator read the same slot.
    out["stopword_ratio"] = bind1(
        _lang_tokens(col),
        lambda toks: F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
        .cast("double") / F.greatest(F.size(toks), F.lit(1)))
    return out


def with_quality_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    for name, col in quality_ratios(F.col(text_col)).items():
        df = df.withColumn(name, F.round(col, 6))
    return df


def char_shingles(col: Column, k: int = 8) -> Column:
    """Character k-grams of the lowercased, whitespace-normalized text.

    r15: the normalized string is bound once — the old inline form
    re-ran the strip+normalize regexes once per character position
    inside the substring lambda (the shingle_frame disease at the
    character level)."""
    t = F.regexp_replace(F.lower(pystrip(col)), WORD_SPLIT_RE, " ")
    return bind1(t, lambda tv: F.when(
        F.length(tv) < k, F.array(tv)).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(tv) - k + 1),
                    lambda i: F.substr(tv, i, F.lit(k)))))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 8,
                mod: int = 16) -> DataFrame:
    """Document fingerprinting (0-mod-p sampling of k-gram hashes — the
    public Broder/'mod p' sketch; winnowing's fixed-sample-rate cousin).

    hash = int32(md5(gram)); keep grams with hash % mod == 0; the
    fingerprint is the sorted distinct kept hashes.  Two documents'
    fingerprint overlap estimates their k-gram resemblance at 1/mod the
    cost.  Map-only: no explode, no shuffle.
    """
    grams = char_shingles(F.col(text_col), k)
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
    kept = F.array_sort(F.array_distinct(
        F.filter(hashes, lambda h: h % mod == 0)))
    # r15: project kept once, size the attribute — one Project with
    # kept twice evaluated the whole shingle+hash chain twice per row
    # (CollapseProject keeps the split: kept is non-cheap and
    # referenced twice, so the projects are not re-merged).
    return (df.select(F.col(id_col), kept.alias("fingerprint"))
            .select(F.col(id_col), F.col("fingerprint"),
                    F.size("fingerprint").alias("fingerprint_size")))


# PII/URL redaction patterns — RE2-safe so Spark (Java regex) and the
# DuckDB oracle agree; EMAIL is the classic conservative form.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher/MassiveText-style repetition signals (public quality
    rules from the Gopher paper's repetition filters): per document,
    the fraction of non-empty lines that are duplicates, the fraction
    of characters sitting in duplicated lines, and the share of the
    single most-frequent token.

    Plan: two explode pipelines (lines, tokens), each a partial-agg +
    one shuffle on (id, line)/(id, token), joined on id.  At 100 TB
    both are map-side-combined narrow aggregations — no corpus-wide
    state, parallel in the number of documents.
    """
    from ..operators.dedup import tokens

    lines = (df.select(F.col(id_col),
                       F.explode(F.split(F.col(text_col), "\n"))
                        .alias("__line"))
             .filter(F.length("__line") > 0)
             .groupBy(id_col, "__line")
             .agg(F.count("*").alias("__cnt"))
             .groupBy(id_col)
             .agg(F.sum("__cnt").alias("__n_lines"),
                  F.count("*").alias("__n_distinct"),
                  F.sum(F.length("__line") * F.col("__cnt")).alias("__chars"),
                  F.sum(F.when(F.col("__cnt") > 1,
                               F.length("__line") * F.col("__cnt"))
                         .otherwise(F.lit(0))).alias("__dup_chars")))
    toks = (df.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("__tok"))
            .groupBy(id_col, "__tok")
            .agg(F.count("*").alias("__cnt"))
            .groupBy(id_col)
            .agg(F.sum("__cnt").alias("__n_toks"),
                 F.max("__cnt").alias("__top_cnt")))
    base = df.select(F.col(id_col))
    out = (base.join(lines, id_col, "left").join(toks, id_col, "left"))
    return out.select(
        F.col(id_col),
        F.coalesce("__n_lines", F.lit(0)).alias("n_lines"),
        F.round(F.lit(1.0) - F.coalesce("__n_distinct", F.lit(0))
                / F.greatest(F.col("__n_lines"), F.lit(1)), 6)
         .alias("dup_line_frac"),
        F.round(F.coalesce("__dup_chars", F.lit(0))
                / F.greatest(F.col("__chars"), F.lit(1)), 6)
         .alias("dup_line_char_frac"),
        F.round(F.coalesce("__top_cnt", F.lit(0))
                / F.greatest(F.col("__n_toks"), F.lit(1)), 6)
         .alias("top_word_frac"))


def source_cap(df: DataFrame, cap: int = 5, key_col: str = "source",
               score_col: str = "quality_score",
               id_col: str = "doc_id") -> DataFrame:
    """C4-style per-domain cap (public C4/RefinedWeb practice: bound
    any one domain's contribution): keep the top ``cap`` documents per
    source by quality.  One window shuffle on the source key; skewed
    sources cost one partition each — salt the key if a single domain
    dominates (operators.skew has the pattern)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.desc(score_col), id_col)
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= cap))


def redact(df: DataFrame, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """PII/URL redaction pass: count and mask emails and URLs (the
    standard pre-training scrub step).  Pure column expressions —
    map-only, codegen-fused into the scan."""
    from ..functions.text import URL_RE

    n_emails = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(EMAIL_RE), 0))
    n_urls = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(URL_RE), 1))
    red = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "[EMAIL]"),
        URL_RE, "[URL]")
    return df.select(
        F.col(id_col), n_emails.alias("n_emails"), n_urls.alias("n_urls"),
        F.length(red).cast("int").alias("redacted_len"))
