"""DuckDB oracle-SQL generators.

The driver compares every ``queries()`` entry against ANSI SQL run by
DuckDB on the same parquet views (row-count + schema + order-insensitive
value-hash).  To keep the two sides from drifting, the regex-heavy SQL
here is GENERATED from the same pattern constants the Spark expressions
use (production_grade_rag_spark.functions.text).

Dialect notes (Spark <-> DuckDB parity):
- regex: both Java regex and RE2 accept this pattern subset
  (inline (?i)/(?m), no lookaround/backrefs).
- ``trim()`` strips spaces only in both; Python ``str.strip()`` is the
  ``^\\s+|\\s+$`` regexp_replace in both.
- floats are rounded IN the query on both sides, so value-hashes match.
"""

from __future__ import annotations

from ..functions.text import (
    CLEAN_RULES,
    HEADER_RE,
    INTENT_RULES,
    LIST_RE,
    PY_STRIP_RE,
    RICHNESS_RE,
    SENTENCE_SPLIT_RE,
    URL_RE,
    WORD_SPLIT_RE,
)


def sql_str(s: str) -> str:
    """Escape a string for a single-quoted SQL literal (backslashes stay
    literal — DuckDB plain strings don't interpret escapes)."""
    return "'" + s.replace("'", "''") + "'"


def esc_str(s: str) -> str:
    """E'...' escape-string literal for replacement text with newlines."""
    return "e'" + s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n") + "'"


def pystrip_sql(expr: str) -> str:
    return f"regexp_replace({expr}, {sql_str(PY_STRIP_RE)}, '', 'g')"


def clean_sql(expr: str) -> str:
    """T1 cleaner as nested regexp_replace, generated from CLEAN_RULES."""
    out = expr
    for pat, rep in CLEAN_RULES:
        out = f"regexp_replace({out}, {sql_str(pat)}, {esc_str(rep)}, 'g')"
    return out


def word_count_sql(expr: str) -> str:
    """F3: len(s.split()) with Python-strip semantics."""
    s = pystrip_sql(expr)
    return (f"(CASE WHEN {s} = '' THEN 0 "
            f"ELSE len(regexp_split_to_array({s}, {sql_str(WORD_SPLIT_RE)})) END)")


def regex_count_sql(expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({expr}, {sql_str(pattern)}, 0))"


def avg_sentence_words_sql(expr: str) -> str:
    sentences = f"regexp_split_to_array({expr}, {sql_str(SENTENCE_SPLIT_RE)})"
    per = ("CASE WHEN regexp_replace(s, " + sql_str(PY_STRIP_RE) + ", '', 'g') = '' THEN 0 "
           "ELSE len(regexp_split_to_array(regexp_replace(s, " + sql_str(PY_STRIP_RE) +
           ", '', 'g'), " + sql_str(WORD_SPLIT_RE) + ")) END")
    return (f"(coalesce(list_sum(list_transform({sentences}, s -> {per})), 0)::DOUBLE"
            f" / len({sentences}))")


def quality_sql(expr: str) -> str:
    """T2 score (no title/url columns in testdata -> title term 0,
    credibility 0.5), mirrors quality_components()."""
    wc = word_count_sql(expr)
    length_score = f"(CASE WHEN {wc} > 100 THEN least(1.0, {wc} / 1000.0) ELSE 0.0 END)"
    header = regex_count_sql(expr, HEADER_RE)
    lst = regex_count_sql(expr, LIST_RE)
    structure = (f"least(1.0, (CASE WHEN {header} > 0 THEN 0.4 ELSE 0.0 END)"
                 f" + (CASE WHEN {lst} > 0 THEN 0.3 ELSE 0.0 END))")
    richness = f"least(1.0, {regex_count_sql(expr, RICHNESS_RE)} / 10.0)"
    readability = f"greatest(0.0, 1.0 - abs({avg_sentence_words_sql(expr)} - 17.0) / 17.0)"
    credibility = "0.5"
    total = (f"(0.2 * {length_score} + 0.15 * {structure} + 0.25 * {richness}"
             f" + 0.2 * {readability} + 0.2 * {credibility})")
    return (f"(CASE WHEN length({expr}) = 0 THEN 0.0 "
            f"ELSE least(greatest({total}, 0.0), 1.0) END)")


def quality_components_sql(expr: str) -> dict[str, str]:
    wc = word_count_sql(expr)
    header = regex_count_sql(expr, HEADER_RE)
    lst = regex_count_sql(expr, LIST_RE)
    return {
        "length_score": f"(CASE WHEN {wc} > 100 THEN least(1.0, {wc} / 1000.0) ELSE 0.0 END)",
        "structure_score": (f"least(1.0, (CASE WHEN {header} > 0 THEN 0.4 ELSE 0.0 END)"
                            f" + (CASE WHEN {lst} > 0 THEN 0.3 ELSE 0.0 END))"),
        "richness_score": f"least(1.0, {regex_count_sql(expr, RICHNESS_RE)} / 10.0)",
        "readability_score": (f"greatest(0.0, 1.0 - "
                              f"abs({avg_sentence_words_sql(expr)} - 17.0) / 17.0)"),
        "credibility_score": "0.5",
        "quality_score": quality_sql(expr),
    }


def intent_sql(expr: str) -> str:
    """F5 keyword intent classifier, generated from INTENT_RULES."""
    low = f"lower({expr})"
    cases = []
    for intent, terms in INTENT_RULES:
        cond = " OR ".join(f"contains({low}, {sql_str(t)})" for t in terms)
        cases.append(f"WHEN ({cond}) THEN '{intent}'")
    return "(CASE " + " ".join(cases) + " ELSE 'general' END)"


def links_sql(expr: str) -> str:
    """S4: distinct URLs minus notion.so, as a list expression."""
    return (f"list_filter(list_distinct(regexp_extract_all({expr}, "
            f"{sql_str(URL_RE)}, 1)), u -> NOT contains(u, 'notion.so'))")


def chunk_fixed_sql(chunk_size: int = 1000, overlap: int = 200,
                    min_chars: int = 50, src: str = "documents") -> str:
    """M1-lite fixed-stride chunking over cleaned documents, mirroring
    chunking.chunk_fixed (enumerate-then-filter, md5 of unstripped).
    ``src`` lets a caller chunk a CTE (e.g. a quality-filtered doc
    set) instead of the raw view."""
    stride = chunk_size - overlap
    return f"""
WITH cleaned AS (
  SELECT doc_id, {clean_sql('text')} AS clean FROM {src}
), seq AS (
  SELECT doc_id, clean,
         unnest(range(0, CASE WHEN length(clean) = 0 THEN 0
                             ELSE (length(clean) - 1) // {stride} + 1 END)) AS chunk_index
  FROM cleaned
), raw AS (
  SELECT doc_id, chunk_index::INT AS chunk_index,
         substr(clean, (chunk_index * {stride})::INT + 1, {chunk_size}) AS raw_chunk
  FROM seq
)
SELECT md5(doc_id::VARCHAR || '_' || chunk_index::VARCHAR || '_' || substr(raw_chunk, 1, 100)) AS chunk_id,
       doc_id,
       {pystrip_sql('raw_chunk')} AS content,
       chunk_index,
       (chunk_index * {stride})::INT AS start_char,
       (chunk_index * {stride} + length(raw_chunk))::INT AS end_char,
       {word_count_sql(pystrip_sql('raw_chunk'))}::INT AS word_count
FROM raw
WHERE length({pystrip_sql('raw_chunk')}) >= {min_chars}
"""


# Fixed-stride parent/child hierarchy (chunking.chunk_parent_child_fixed:
# 2000-char parents at stride 1600, 400-char children at stride 300) as
# the CTE chain parents -> p2 -> p3 that its oracles select from.
PARENT_CHILD_FIXED_CTE = """
WITH parents AS (
  SELECT doc_id, p_idx::INT AS p_idx,
         substr(text, p_idx::INT * 1600 + 1, 2000) AS p_content
  FROM documents, LATERAL unnest(range(0,
    CASE WHEN length(text) = 0 THEN 0
         ELSE (length(text) - 1) // 1600 + 1 END)) AS t(p_idx)
), p2 AS (
  SELECT *, (CASE WHEN length(p_content) = 0 THEN 0
                  ELSE (length(p_content) - 1) // 300 + 1 END)::INT AS child_count
  FROM parents
), p3 AS (
  SELECT *, coalesce(sum(child_count + 1) OVER (
              PARTITION BY doc_id ORDER BY p_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS p_global,
         doc_id || '_parent_' || p_idx AS parent_id
  FROM p2
)
"""
