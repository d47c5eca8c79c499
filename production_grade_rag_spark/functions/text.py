"""Scalar text functions (SURVEY §2.7 F1-F17) and the cleaner/scorer
transforms (T1/T2).

Everything here is a JVM-side column expression (whole-stage codegen;
no Python in the hot path).  The regex patterns are defined ONCE as
module constants and reused to generate the DuckDB oracle SQL in
``plans.catalog`` — Spark (Java regex) and DuckDB (RE2) agree on this
pattern subset (no lookaround/backrefs; inline ``(?i)``/``(?m)`` flags).

Semantics ported from the reference (behavior, not code):
- T1 cleaner  : document_processor.py:20-33
- T2 scorer   : document_processor.py:35-81
- word count  : document_processor.py:41 (``len(s.split())``)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- T1 cleaning rules (pattern, replacement), applied in order -------------
# document_processor.py:25-31.  Python .strip() becomes the final rule
# (Spark/DuckDB trim() only strips spaces; Python strips all whitespace).
CLEAN_RULES: tuple[tuple[str, str], ...] = (
    (r"\n\s*\n\s*\n", "\n\n"),                                # collapse 3+ blank-ish lines
    (r" +", " "),                                             # collapse space runs
    (r"(?i)Cookie Policy|Privacy Policy|Terms of Service", ""),  # boilerplate
    (r"(?i)Subscribe to.*newsletter", ""),
    (r"(?i)Follow us on.*", ""),
    (r"<[^>]+>", ""),                                         # HTML tags
    (r"&\w+;", ""),                                           # HTML entities
    (r"^\s+|\s+$", ""),                                       # Python str.strip()
)

# --- T2 structure regexes (multiline) ---------------------------------------
HEADER_RE = r"(?m)^#{1,6}\s+.+"                # document_processor.py:48
LIST_RE = r"(?m)^\s*[-*+]\s+.+"                # :51
RICHNESS_RE = r"(?m)^#{1,6}\s+.+|^\s*[-*+]\s+.+|^\s*\d+\.\s+.+"   # :55
SENTENCE_SPLIT_RE = r"[.!?]+"                  # :58
WORD_SPLIT_RE = r"\s+"
PY_STRIP_RE = r"^\s+|\s+$"  # Python str.strip(); trim() strips spaces only

# Lucene "standard" analyzer twin: the reference's Atlas $search text
# index declares analyzer "lucene.standard" on every text field
# (index_manager.py:117-152), which tokenizes at UAX#29 word
# boundaries and lowercases — so "vector," and "Vector" both index as
# "vector", unlike the whitespace tokenizer.  ASCII approximation:
# token chars are [0-9a-z_] (UAX#29 ExtendNumLet keeps underscore
# inside words); mid-word apostrophes and non-ASCII word categories
# are documented deviations.  The pattern is shared verbatim with the
# DuckDB oracle (Java regex and RE2 agree on this class).
STD_TOKEN_DELIM_RE = r"[^0-9a-z_]+"


def pystrip(col: Column) -> Column:
    return F.regexp_replace(col, PY_STRIP_RE, "")


def bind1(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and let ``fn``'s body reference
    the value many times: ``transform`` over a one-element array runs
    the lambda exactly once with ``expr`` bound to a lambda variable,
    and lambda-variable references are plain slot reads.  Catalyst
    cannot substitute an expression tree through a lambda variable the
    way it re-inlines projection aliases into pushed-down filters, so
    this is the expression-level twin of the ``shingle_frame``
    projection barrier (optimization guide §1.2 step 2): without it, an
    expression like the language-ID argmax re-evaluates its token-split
    subtree once per REFERENCE (~40x per row), and the whole tree is
    duplicated again under every filter that predicate pushdown copies
    below the defining projection.

    The wrapped tree is evaluated via the higher-order-function
    interpreter (CodegenFallback) rather than whole-stage codegen —
    a constant-factor cost that is orders of magnitude smaller than
    the duplicated evaluation it removes.  Semantics are identical:
    same sub-expressions, same order, evaluated once.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def nd_pin(col: Column) -> Column:
    """Pin an expensive PROJECTED column in place: wrap its defining
    tree in a constant-true nondeterministic ``when`` so the optimizer
    may not substitute the tree anywhere else (the built-in-expression
    analog of guide §4.4's ``asNondeterministic()`` fix for duplicated
    UDF evaluation).  Unpinned, a filter on a derived column like the
    curation gate's quality score is rewritten by predicate pushdown
    with the column's WHOLE defining tree and pushed below the
    parallelizing exchange — the tree then runs twice per row, the
    first time single-threaded in the one-task parquet scan.

    Shape matters (all verified against 4.1.2): ANDing a
    nondeterministic term onto the FILTER does not help — conjunctions
    are split and the deterministic conjuncts pushed anyway; and
    nondeterministic filter conditions still push through deterministic
    Projects (row-preserving, so it is legal).  What stops substitution
    is nondeterminism in the PROJECT FIELD itself: every pushdown /
    collapse rule requires the producing projection's fields to be
    deterministic.  The guard ``spark_partition_id() >= 0`` is true on
    every row (partition ids are non-negative), is marked
    nondeterministic but costs no RNG draw, and is not constant-folded
    (unlike ``rand() >= 0``, whose [0,1) range Spark 4 can prove).
    Values are identical on every evaluation, including under task
    retry."""
    return F.when(F.spark_partition_id() >= F.lit(0), col)


# Non-whitespace runs: ``regexp_extract_all(col, TOKEN_RUN_RE)`` is
# exactly the strip-then-split-on-\s+ token sequence (Python
# ``s.split()``) in ONE regex pass — Java \S is the complement of the
# \s class PY_STRIP_RE/WORD_SPLIT_RE use, so maximal \S+ runs are the
# split fields with leading/trailing/empty fields already dropped.
TOKEN_RUN_RE = r"\S+"


def std_tokens(col: Column) -> Column:
    """Lucene-standard-analyzed tokens: lowercase, split at
    non-alphanumeric runs, drop empties (leading/trailing delimiters
    produce '' elements from split)."""
    parts = F.split(F.lower(col), STD_TOKEN_DELIM_RE)

    def nonempty(x):
        return F.length(x) > 0

    return F.filter(parts, nonempty)


def std_analyze_py(text: str) -> list[str]:
    """Driver-side twin of ``std_tokens`` for query analysis — the
    reference analyzes queries with the same Lucene analyzer as the
    index (Atlas $search applies it to both sides)."""
    import re
    return re.findall(r"[0-9a-z_]+", (text or "").lower())


# Porter-lite stemmer: the deterministic suffix-stripping subset of the
# reference's remaining Lucene gap (its $search index could declare
# lucene.english = standard + stopwords + Porter, index_manager.py:
# 117-152).  Ordered rules applied in sequence to each standard-analyzed
# token; every pattern is RE2-safe (DuckDB) AND Java-regex-safe (Spark):
# no lookaround, no pattern backrefs (the double-consonant collapse
# enumerates letters instead).  Plural rules run BEFORE ed/ing so
# "meetings" -> "meeting" -> "meet" matches query "meeting" -> "meet".
# A lite stemmer's contract is CONSISTENCY (document and query tokens
# map through the same chain), not linguistic perfection.
STEM_RULES: tuple[tuple[str, str], ...] = (
    (r"^([a-z]+)sses$", "ss"),      # classes -> class
    (r"^([a-z]{2,})ies$", "y"),     # queries -> query
    (r"^([a-z]*[^su])s$", ""),      # filters -> filter (keep -ss, -us)
    (r"^([a-z]{3,})ing$", ""),      # filtering -> filter
    (r"^([a-z]{3,})ed$", ""),       # filtered -> filter
    (r"^([a-z]{4,})ness$", ""),     # robustness -> robust
    (r"^([a-z]{3,})ly$", ""),       # quickly -> quick
    (r"^([a-z]+b)b$", ""), (r"^([a-z]+d)d$", ""), (r"^([a-z]+g)g$", ""),
    (r"^([a-z]+m)m$", ""), (r"^([a-z]+n)n$", ""), (r"^([a-z]+p)p$", ""),
    (r"^([a-z]+r)r$", ""), (r"^([a-z]+t)t$", ""),  # runn -> run
    (r"^([a-z]{4,})e$", ""),        # remove/removed -> remov
)


def stem_token(col: Column) -> Column:
    """Porter-lite stem of one (already lowercased) token — chained
    regexp_replace, pure codegen."""
    out = col
    for pat, keep in STEM_RULES:
        out = F.regexp_replace(out, pat, "$1" + keep)
    return out


def stemmed_tokens(col: Column) -> Column:
    """analyzer="stemmed": Lucene-standard tokenization then the
    Porter-lite suffix chain per token."""
    return F.transform(std_tokens(col), stem_token)


def stem_py(token: str) -> str:
    """Driver-side twin of ``stem_token`` (query analysis)."""
    import re
    for pat, keep in STEM_RULES:
        token = re.sub(pat, r"\g<1>" + keep, token)
    return token


def stem_analyze_py(text: str) -> list[str]:
    """Driver-side twin of ``stemmed_tokens``."""
    return [stem_py(t) for t in std_analyze_py(text)]


# Lucene EnglishAnalyzer's default stop set (public constant,
# ENGLISH_STOP_WORDS_SET) — filtered BEFORE stemming, as Lucene chains
# StandardTokenizer -> LowerCase -> StopFilter -> PorterStemFilter.
EN_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
    "such", "that", "the", "their", "then", "there", "these", "they",
    "this", "to", "was", "will", "with",
)


def english_tokens(col: Column) -> Column:
    """analyzer="english": the lucene.english-shaped chain — standard
    tokens, stop-word filter, Porter-lite stem."""
    kept = F.filter(std_tokens(col),
                    lambda x: ~x.isin(*EN_STOPWORDS))
    return F.transform(kept, stem_token)


def english_analyze_py(text: str) -> list[str]:
    """Driver-side twin of ``english_tokens`` (query analysis)."""
    return [stem_py(t) for t in std_analyze_py(text)
            if t not in EN_STOPWORDS]

# intent keywords (advanced_search.py:125-146), used by F5 intent classifier
INTENT_RULES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("technical", ("api", "code", "function", "class", "implement")),
    ("how-to", ("how to", "how do", "steps", "tutorial")),
    ("problem-solving", ("error", "problem", "issue", "fix", "debug")),
    ("conceptual", ("what is", "explain", "concept", "theory")),
)

# credibility domains (document_processor.py:66-69)
CREDIBLE_DOMAINS: tuple[str, ...] = (
    "yahoo", "org", "realmadrid", "psg", "inter", "porto", "benfica",
    "apple", "ai", "nvidia", "google", "microsoft", "amazon", "meta",
)


def clean_text(col: Column) -> Column:
    """T1: chained regexp_replace per CLEAN_RULES (document_processor.py:20-33)."""
    out = col
    for pat, rep in CLEAN_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def word_count(col: Column) -> Column:
    """F3: Python ``len(s.split())`` — whitespace split dropping empties.

    r15: counted as non-whitespace runs in ONE regex pass.  The prior
    strip → empty-check → split form ran the strip regex twice per row
    and its ``when`` branches blocked codegen subexpression
    elimination; counting \\S+ runs is the same number for every
    string (split fields == maximal non-space runs) and the same NULL
    (regexp_extract_all propagates it)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RUN_RE), 0))


def regex_count(col: Column, pattern: str) -> Column:
    """F2: count of regex matches (``len(re.findall(...))``)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def avg_sentence_words(col: Column) -> Column:
    """Mean words per sentence, sentences split on ``[.!?]+`` keeping
    empty boundary strings — exactly ``re.split`` semantics
    (document_processor.py:58-61)."""
    # r15: bind the sentence array once (the inline form re-ran the
    # sentence split for the denominator) and count each sentence's
    # words as \S+ runs in one regex instead of strip-check-strip-split
    # (three regex passes per sentence).  Same totals: a blank sentence
    # has zero \S+ runs, exactly the old empty-after-strip 0 branch.
    def _avg(sentences: Column) -> Column:
        total_words = F.aggregate(
            sentences,
            F.lit(0),
            lambda s_acc, s: s_acc
            + F.size(F.regexp_extract_all(s, F.lit(TOKEN_RUN_RE), 0)),
        )
        return total_words.cast("double") / F.size(sentences)

    return bind1(F.split(col, SENTENCE_SPLIT_RE), _avg)


def clamp01(col: Column) -> Column:
    """F17: clamp to [0, 1] (document_processor.py:79)."""
    return F.least(F.greatest(col, F.lit(0.0)), F.lit(1.0))


def quality_components(text_col: Column,
                       title_col: Column | None = None,
                       url_col: Column | None = None) -> dict[str, Column]:
    """T2 quality signals (document_processor.py:35-81).

    Testdata documents carry no title/url, so those terms default to
    their reference fallbacks (title term 0, credibility 0.5).
    Returns the five component columns plus the weighted, clamped score.
    """
    # r15: bind the word count once — the condition and the value both
    # reference it, and these projections evaluate interpreted (the
    # sentence aggregate below is CodegenFallback), so nothing CSEs the
    # duplicate regex away.
    length_score = bind1(
        word_count(text_col),
        lambda wc: F.when(
            wc > 100, F.least(F.lit(1.0), wc.cast("double") / 1000.0)
        ).otherwise(F.lit(0.0)),
    )

    header_cnt = regex_count(text_col, HEADER_RE)
    list_cnt = regex_count(text_col, LIST_RE)
    title_term = (
        F.when(F.length(F.trim(title_col)) > 5, F.lit(0.3)).otherwise(F.lit(0.0))
        if title_col is not None else F.lit(0.0)
    )
    structure_score = F.least(
        F.lit(1.0),
        title_term
        + F.when(header_cnt > 0, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(list_cnt > 0, F.lit(0.3)).otherwise(F.lit(0.0)),
    )

    richness_score = F.least(
        F.lit(1.0), regex_count(text_col, RICHNESS_RE).cast("double") / 10.0
    )

    readability_score = F.greatest(
        F.lit(0.0), 1.0 - F.abs(avg_sentence_words(text_col) - 17.0) / 17.0
    )

    if url_col is not None:
        url = F.lower(url_col)
        credible = F.lit(False)
        for d in CREDIBLE_DOMAINS:
            credible = credible | url.contains(d)
        comnet = url.contains("com") | url.contains("net")
        credibility_score = F.when(url_col.isNull(), F.lit(0.5)) \
            .when(credible, F.lit(0.8)).when(comnet, F.lit(0.6)).otherwise(F.lit(0.4))
    else:
        credibility_score = F.lit(0.5)

    quality = clamp01(
        0.2 * length_score + 0.15 * structure_score + 0.25 * richness_score
        + 0.2 * readability_score + 0.2 * credibility_score
    )
    # empty content -> score 0 (document_processor.py:38-39)
    quality = F.when(F.length(text_col) == 0, F.lit(0.0)).otherwise(quality)
    return {
        "length_score": length_score,
        "structure_score": structure_score,
        "richness_score": richness_score,
        "readability_score": readability_score,
        "credibility_score": credibility_score,
        "quality_score": quality,
    }


def quality_score_from(comps: Column, text_col: Column) -> Column:
    """The T2 weighted score over an ALREADY-PROJECTED component struct
    (fields named like quality_components' keys) — the same arithmetic
    quality_components builds inline, reading attribute slots instead
    of re-inlining each component's tree."""
    quality = clamp01(
        0.2 * comps["length_score"] + 0.15 * comps["structure_score"]
        + 0.25 * comps["richness_score"] + 0.2 * comps["readability_score"]
        + 0.2 * comps["credibility_score"]
    )
    return F.when(F.length(text_col) == 0, F.lit(0.0)).otherwise(quality)


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """T2 as a DataFrame transform: documents -> documents_enriched.

    r15: the five component trees are materialized ONCE in a struct
    projection and both the component columns and the weighted score
    read the struct's slots — the old per-column form evaluated every
    component twice per row (its own column + its copy inside
    quality_score), and these projections run interpreted (the
    sentence aggregate is CodegenFallback) so no codegen CSE saved it.
    Same expressions, same order, same rounding — values identical
    (tests/test_text_sem.py)."""
    comps = quality_components(F.col(text_col))
    parts = {k: v for k, v in comps.items() if k != "quality_score"}
    out = df.withColumn(
        "__qc", F.struct(*[v.alias(k) for k, v in parts.items()]))
    for name in parts:
        out = out.withColumn(name, F.round(F.col("__qc")[name], 6))
    out = out.withColumn(
        "quality_score",
        F.round(quality_score_from(F.col("__qc"), F.col(text_col)), 6))
    return out.drop("__qc")


def quality_filter(df: DataFrame, threshold: float = 0.5,
                   col: str = "quality_score") -> DataFrame:
    """T3: NULL scores pass (backward compat, rag_pipeline.py:45-68)."""
    return df.filter(F.col(col).isNull() | (F.col(col) >= F.lit(threshold)))


def token_estimate(col: Column, chars_per_token: int = 4) -> Column:
    """F8: ``len(s) // 4`` (rag_engine.py:243)."""
    return F.floor(F.length(col) / chars_per_token).cast("long")


def truncate_ellipsis(col: Column, max_chars: int) -> Column:
    """F9: truncate + '...' (rag_engine.py:252)."""
    return F.when(
        F.length(col) > max_chars,
        F.concat(F.substring(col, 1, max_chars), F.lit("...")),
    ).otherwise(col)


def classify_intent(col: Column) -> Column:
    """F5: keyword intent classifier (advanced_search.py:125-146)."""
    lowered = F.lower(col)
    expr = None
    for intent, terms in INTENT_RULES:
        cond = F.lit(False)
        for t in terms:
            cond = cond | lowered.contains(t)
        expr = F.when(cond, F.lit(intent)) if expr is None else expr.when(cond, F.lit(intent))
    return expr.otherwise(F.lit("general"))


def jaccard(a: Column, b: Column) -> Column:
    """F14: Jaccard over token arrays; both-empty -> 1.0, one-empty -> 0.0
    (advanced_search.py:297-311)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (
        F.when((F.size(a) == 0) & (F.size(b) == 0), F.lit(1.0))
        .when((F.size(a) == 0) | (F.size(b) == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union)
    )


# URL pattern shared with the DuckDB oracle — RE2-safe (no lookaround):
# markdown targets and bare URLs both match; punctuation-stripped by the
# trailing character class (notion_collector.py:340-398).
URL_RE = r"(https?://[^\s)\]>'\"]+)"


def extract_links(col: Column) -> Column:
    """S4/F10: extract URLs, dedupe, drop notion.so links
    (notion_collector.py:340-398)."""
    urls = F.array_distinct(F.regexp_extract_all(col, F.lit(URL_RE), 1))
    return F.filter(urls, lambda u: ~u.contains("notion.so"))
