"""Round-15 session-2 expression-rewrite pins: every text-path
optimization in this batch (single-pass \\S+ tokenization, bind1-bound
language argmax / sentence stats / char shingles, nd_pin'd curation
gate) must produce byte-identical values to the pre-r15 inline forms,
which are reproduced here verbatim as the reference."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from production_grade_rag_spark.functions import text as X
from production_grade_rag_spark.functions.text import (
    SENTENCE_SPLIT_RE, WORD_SPLIT_RE, pystrip)
from production_grade_rag_spark.operators import dedup, textstats
from production_grade_rag_spark.operators.textstats import LANG_PROFILES

SF001 = "/root/testdata/sf0.001"

EDGE_ROWS = [
    (900001, ""), (900002, "   \t\n"), (900003, None),
    (900004, "\n\t x \n"), (900005, "the the and of to in is that for"),
    (900006, "der die und das ist nicht ein mit"),
    (900007, "a.b!c? d. "), (900008, "único tökensmore"),
    (900009, "x"), (900010, "one two. three four five!  six?"),
]


@pytest.fixture(scope="module")
def docs(spark):
    base = (spark.read.parquet(f"{SF001}/documents.parquet")
            .select("doc_id", "text"))
    edge = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    return base.unionByName(edge)


def _old_tokens(c):
    t = F.lower(pystrip(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, WORD_SPLIT_RE))


def _old_word_count(c):
    t = pystrip(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, WORD_SPLIT_RE)))


def _old_avg_sentence_words(c):
    sentences = F.split(c, SENTENCE_SPLIT_RE)
    total = F.aggregate(
        sentences, F.lit(0),
        lambda acc, s: acc + F.when(F.length(pystrip(s)) == 0, F.lit(0))
        .otherwise(F.size(F.split(pystrip(s), WORD_SPLIT_RE))))
    return total.cast("double") / F.size(sentences)


def _old_lang_scores(c):
    toks = _old_tokens(c)
    n = F.size(toks)
    out = {}
    for lang, words in LANG_PROFILES:
        hits = F.size(F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in words])))
        out[lang] = F.when(n == 0, F.lit(0.0)) \
                     .otherwise(hits.cast("double") / len(words))
    return out


def _old_detect_language(c, min_score=0.05):
    scores = _old_lang_scores(c)
    best = F.greatest(*scores.values())
    expr = None
    for lang, _ in LANG_PROFILES:
        cond = scores[lang] == best
        expr = (F.when(cond, F.lit(lang)) if expr is None
                else expr.when(cond, F.lit(lang)))
    return F.when(best < min_score, F.lit("unknown")).otherwise(expr)


def _old_char_shingles(c, k=8):
    t = F.regexp_replace(F.lower(pystrip(c)), WORD_SPLIT_RE, " ")
    n = F.length(t)
    return F.when(n < k, F.array(t)).otherwise(
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.substr(t, i, F.lit(k))))


def _assert_equal(docs, old, new, name):
    bad = (docs.select("doc_id", old.alias("o"), new.alias("n"))
           .filter(~F.col("o").eqNullSafe(F.col("n"))))
    rows = bad.limit(3).collect()
    assert not rows, f"{name} drifted: {rows}"


def test_word_count_single_pass(docs):
    _assert_equal(docs, _old_word_count(F.col("text")),
                  X.word_count(F.col("text")), "word_count")


def test_dedup_tokens_single_pass(docs):
    _assert_equal(docs, _old_tokens(F.col("text")),
                  dedup.tokens(F.col("text")), "dedup.tokens")


def test_avg_sentence_words_bound(docs):
    _assert_equal(docs, _old_avg_sentence_words(F.col("text")),
                  X.avg_sentence_words(F.col("text")), "avg_sentence_words")


def test_detect_language_bound_argmax(docs):
    _assert_equal(docs, _old_detect_language(F.col("text")),
                  textstats.detect_language(F.col("text")),
                  "detect_language")


def test_char_shingles_bound(docs):
    _assert_equal(docs, _old_char_shingles(F.col("text")),
                  textstats.char_shingles(F.col("text")), "char_shingles")


def test_fingerprint_two_step_projection(docs):
    fp_new = textstats.fingerprint(docs)
    grams = _old_char_shingles(F.col("text"))
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"))
    kept = F.array_sort(F.array_distinct(
        F.filter(hashes, lambda h: h % 16 == 0)))
    fp_old = docs.select(F.col("doc_id"), kept.alias("fingerprint"),
                         F.size(kept).alias("fingerprint_size"))
    assert fp_new.exceptAll(fp_old).count() == 0
    assert fp_old.exceptAll(fp_new).count() == 0


def test_nd_pin_is_identity(docs):
    _assert_equal(docs, F.length("text"),
                  X.nd_pin(F.length("text")), "nd_pin")


def test_cc_gate_keyed_matches_unpinned_old_forms(docs):
    """The pinned, pushdown-shielded gate keeps the exact row set of
    the pre-r15 gate built from the old inline expressions."""
    import production_grade_rag_spark.plans.catalog  # noqa: F401 (registration order)
    from production_grade_rag_spark.plans.catalog_r6 import cc_gate_keyed

    new_gate = cc_gate_keyed(docs)

    def old_quality(c):
        wc = _old_word_count(c)
        length_score = F.when(
            wc > 100, F.least(F.lit(1.0), wc.cast("double") / 1000.0)
        ).otherwise(F.lit(0.0))
        header = X.regex_count(c, X.HEADER_RE)
        lst = X.regex_count(c, X.LIST_RE)
        structure = F.least(
            F.lit(1.0),
            F.lit(0.0)
            + F.when(header > 0, F.lit(0.4)).otherwise(F.lit(0.0))
            + F.when(lst > 0, F.lit(0.3)).otherwise(F.lit(0.0)))
        richness = F.least(
            F.lit(1.0), X.regex_count(c, X.RICHNESS_RE).cast("double") / 10.0)
        readability = F.greatest(
            F.lit(0.0), 1.0 - F.abs(_old_avg_sentence_words(c) - 17.0) / 17.0)
        q = X.clamp01(0.2 * length_score + 0.15 * structure
                      + 0.25 * richness + 0.2 * readability + 0.2 * 0.5)
        return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(q)

    old_scored = docs.select(
        "doc_id",
        X.clean_text(F.col("text")).alias("clean_text"),
        old_quality(F.col("text")).alias("q"),
        _old_detect_language(F.col("text")).alias("detected_lang"))
    old_gate = (old_scored.filter(
        (F.col("q").isNull() | (F.col("q") >= 0.2))
        & (F.col("detected_lang") == "en"))
        .withColumn("content_hash",
                    F.md5(F.lower(pystrip(F.col("clean_text"))))))
    assert new_gate.exceptAll(old_gate).count() == 0
    assert old_gate.exceptAll(new_gate).count() == 0


def test_with_quality_struct_projection(docs):
    """with_quality's struct-shared projection must equal the old
    per-column form (each component tree re-evaluated inside
    quality_score) column for column, row for row."""
    from production_grade_rag_spark.functions.text import (
        quality_components, with_quality)

    new = with_quality(docs)
    old = docs
    for name, col in quality_components(F.col("text")).items():
        old = old.withColumn(name, F.round(col, 6))
    assert new.columns == old.columns
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_jaccard_verify_equals_inline_union(docs, spark):
    """jaccard_verify (inclusion-exclusion denominator, pinned
    intersection) must return exactly the inline
    size(intersect)/size(union) pairs — values and row set — for the
    minhash candidate path at a permissive threshold."""
    from production_grade_rag_spark.operators.dedup import (
        minhash_band_table, minhash_dedup_pairs, minhash_signatures,
        shingle_frame)

    d = docs.filter(F.col("text").isNotNull()).limit(300)
    got = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in
                 minhash_dedup_pairs(d, threshold=0.3).collect())

    # inline reference: same candidates, old verify expression
    sigs = minhash_signatures(d)
    banded = minhash_band_table(sigs)
    from pyspark.sql import Window
    w = Window.partitionBy("band", "band_hash")
    banded = (banded.withColumn("__n", F.count("*").over(w))
              .filter(F.col("__n") <= 1000).drop("__n"))
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    cands = (a.join(b, ["band", "band_hash"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    sh = shingle_frame(d, "text", "doc_id")
    jac = (F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
           / F.size(F.array_union("__sh_a", "__sh_b")))
    want = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in
                  (cands
                   .join(sh.select(F.col("doc_id").alias("id_a"),
                                   F.col("__sh").alias("__sh_a")), "id_a")
                   .join(sh.select(F.col("doc_id").alias("id_b"),
                                   F.col("__sh").alias("__sh_b")), "id_b")
                   .withColumn("jaccard", F.round(jac, 6))
                   .filter(F.col("jaccard") >= 0.3)
                   .select("id_a", "id_b", "jaccard")).collect())
    assert got == want
    assert len(got) > 0
