"""Catalog extension 4 (round 7).

- Raw-row emission twins for the recursive chunkers, whose in-window
  entries became constant-pinned invariant gates (operators/chunk_gates
  explains why the raw rows cannot be value-oracled): rows-only by
  design, semantics pinned by tests/test_chunking*.py and the gates.
- The round's retrieval entries (two-stage IVFPQ, the stemmed and
  English-analyzer BM25 hybrids) now live in plans/retrieval.py.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import chunking
from .registry import _t, register


# ===========================================================================
# Raw chunk rows for the recursive splitters (rows-only twins of the
# m1_chunk_recursive / m2_parent_child / r2_parent_context_recursive gates)
# ===========================================================================

@register("m1_chunk_recursive_rows")   # rows-only: splitter is not SQL
def m1_chunk_recursive_rows(spark: SparkSession, d: str) -> DataFrame:
    """M1 raw rows: recursive character splitter output
    (document_processor.py:96-123); invariants driver-checked by the
    m1_chunk_recursive gate, semantics by tests/test_chunking_fuzz.py."""
    docs = _t(spark, d, "documents")
    return chunking.chunk_recursive(docs).select(
        "chunk_id", "doc_id", "content", "chunk_index", "word_count")


@register("m2_parent_child_rows")      # rows-only: splitter is not SQL
def m2_parent_child_rows(spark: SparkSession, d: str) -> DataFrame:
    """M2 raw rows: parent/child hierarchy
    (parent_child_chunker.py:40-136); invariants driver-checked by the
    m2_parent_child gate."""
    docs = _t(spark, d, "documents")
    return chunking.chunk_parent_child(docs).select(
        "chunk_id", "doc_id", "chunk_index", "chunk_type", "parent_id",
        "child_count", "child_index", "word_count")


# ===========================================================================
# Incremental end-to-end curation: custom-source stream -> per-batch
# curation -> versioned keeper upsert (VERDICT r6 item 5 — composes
# st_custom_source_stream + foreachBatch + s24 versioned tables into
# one continuous cc_curate)
# ===========================================================================

def _cc_incremental_merge(spark: SparkSession, batch_docs: DataFrame,
                          store_path: str, epoch_id: int) -> None:
    """Fold one micro-batch of documents into the versioned curated
    store.  Per-batch work: the SAME fused gate projection as batch
    cc_curate (cc_gate_keyed), partial-aggregated per content_hash;
    the fold re-aggregates store + increment with min-struct keeper
    election and group_size summation (algebraic partials — a keeper
    can be displaced by a smaller doc_id arriving later, and counts
    add, which is why the fold is epoch-keyed).  Cost per batch:
    O(batch + store), never O(history)."""
    from ..functions import text as X
    from ..sources.tables import fold_version
    from .catalog_r6 import cc_gate_keyed

    keep = ("content_hash", "__k.doc_id", "__k.detected_lang", "__k.q",
            "__k.est_tokens", "group_size")
    inc = (cc_gate_keyed(batch_docs).groupBy("content_hash")
           .agg(F.min(F.struct("doc_id", "detected_lang", "q",
                               X.token_estimate(F.col("clean_text"))
                               .alias("est_tokens"))).alias("__k"),
                F.count("*").alias("group_size"))
           .select(*keep))

    def combine(prior: DataFrame, inc: DataFrame) -> DataFrame:
        return (prior.unionByName(inc).groupBy("content_hash")
                .agg(F.min(F.struct("doc_id", "detected_lang", "q",
                                    "est_tokens")).alias("__k"),
                     F.sum("group_size").alias("group_size"))
                .select(*keep))

    fold_version(spark, store_path, epoch_id, inc, combine)


def _cc_curate_oracle() -> str:
    """The streaming twin's oracle IS batch cc_curate's: a full
    incremental drain must equal the one-shot curation."""
    from .registry import CATALOG
    return CATALOG["cc_curate"].oracle


@register("st_cc_curate", oracle=_cc_curate_oracle)
def st_cc_curate(spark: SparkSession, d: str) -> DataFrame:
    """Continuous corpus curation end to end: each micro-batch of the
    paged tranches runs the cc_curate gate and folds keeper partials
    into a versioned store; the final snapshot must equal batch
    cc_curate over the full corpus — same oracle, value-hashed.
    (reference: the feature pipeline re-runs curation per crawl batch,
    rag_pipeline.py:40-210 — here it is one incremental loop with
    time-travelable history.)"""
    import shutil
    from ..session import scratch
    from ..sources.tables import read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_cc_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        batch_docs = rows.select(F.col("page_id").cast("long").alias("doc_id"),
                                 F.col("title").alias("text"))
        _cc_incremental_merge(rows.sparkSession, batch_docs, store, epoch_id)

    SP.drain_paged_tranches(spark, "st_cc",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)
    return (read_version(spark, store)
            .select("doc_id", "detected_lang",
                    F.round("q", 6).alias("quality_score"),
                    "est_tokens", "group_size"))


# ===========================================================================
# Published curation-rule families: Gopher quality heuristics and C4
# line cleaning (operators/curation_rules.py) — the pretraining-corpus
# gates a 100 TB ingest applies next to the reference's own scorer
# ===========================================================================

def _dsir_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH toks AS (
  SELECT d.doc_id, d.lang, unnest({OV.tokens_sql('d.text')}) AS tok
  FROM documents d
), src AS (
  SELECT tok, count(*)::DOUBLE AS f_s FROM toks GROUP BY tok
), tgt AS (
  SELECT tok, count(*)::DOUBLE AS f_t FROM toks
  WHERE lang = 'en' GROUP BY tok
), consts AS (
  SELECT (SELECT sum(f_s) FROM src) AS n_s,
         (SELECT count(*) FROM src) AS v,
         (SELECT coalesce(sum(f_t), 0) FROM tgt) AS n_t
)
SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(ln((coalesce(g.f_t, 0) + 1.0) / (c.n_t + c.v))
                 - ln(s.f_s / c.n_s)), 6) AS log_ratio
FROM toks t
JOIN src s USING (tok)
LEFT JOIN tgt g USING (tok)
CROSS JOIN consts c
GROUP BY t.doc_id
"""


@register("t16_dsir_weight", oracle=_dsir_oracle())
def t16_dsir_weight(spark: SparkSession, d: str) -> DataFrame:
    """DSIR-lite importance weight (Xie et al. 2023, public: Data
    Selection via Importance Resampling — here with the library-free
    unigram features the ta_unigram_logprob entry establishes): per
    document, the mean log importance ratio between a TARGET
    distribution (the lang='en' slice's unigram LM, add-one smoothed
    over the shared vocabulary) and the SOURCE distribution (the whole
    corpus).  Sampling proportional to exp(log_ratio) shifts the
    training mix toward the target domain.

    Plan: one token explode, two vocabulary-sized aggregations (source
    and target LMs), a broadcastable 1-row constants frame, one join
    of tokens->freqs, one per-doc agg — at 100 TB the only
    corpus-level state is the two vocab tables.  The LM tables are
    vocabulary-sized by construction, so they broadcast EXPLICITLY
    (r8): the Zipf-skewed token stream ("the" alone is a hot key)
    never shuffles on tok — both joins are map-side, pinned in
    tests/test_plan_shapes.py."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    toks = docs.select("doc_id", "lang",
                       F.explode(tokens(F.col("text"))).alias("tok"))
    src = toks.groupBy("tok").agg(
        F.count("*").cast("double").alias("f_s"))
    tgt = (toks.filter(F.col("lang") == "en")
           .groupBy("tok").agg(F.count("*").cast("double").alias("f_t")))
    consts = src.agg(
        F.sum("f_s").alias("n_s"),
        F.count("*").cast("double").alias("v")).crossJoin(
        tgt.agg(F.coalesce(F.sum("f_t"), F.lit(0.0)).alias("n_t")))
    lr = (F.log((F.coalesce(F.col("f_t"), F.lit(0.0)) + 1.0)
                / (F.col("n_t") + F.col("v")))
          - F.log(F.col("f_s") / F.col("n_s")))
    return (toks.join(F.broadcast(src), "tok")
            .join(F.broadcast(tgt), "tok", "left")
            .crossJoin(F.broadcast(consts))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg(lr), 6).alias("log_ratio")))


# ===========================================================================
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023)
# ===========================================================================

@register("dd_semdedup")   # rows-only: KMeans cell scoping is not SQL
def dd_semdedup(spark: SparkSession, d: str) -> DataFrame:
    """SemDeDup pairs at (k=4 clusters, cosine >= 0.3): the
    cluster-scoped form of dd_embedding_neardup — quadratic work
    bounded per cluster, shuffle on the cell key.  Precision 1.0 by
    construction (every pair exact-cosine-verified); recall vs the
    exact pairwise set is gated by dd_semdedup_recall."""
    from ..operators import dedup
    emb = _t(spark, d, "embeddings")
    return dedup.semdedup_pairs(emb, n_clusters=4, threshold=0.3)


def _semdedup_recall_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH exact AS ({OV.embedding_pairs_sql(0.3)})
SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
       0::BIGINT AS n_false, TRUE AS floor_met
"""


@register("dd_semdedup_recall", oracle=_semdedup_recall_oracle())
def dd_semdedup_recall(spark: SparkSession, d: str) -> DataFrame:
    """Quality gate for SemDeDup, with a REAL data-dependent oracle:
    n_exact is recomputed by DuckDB's own exact pairwise cosine (not a
    pinned constant), n_false pins precision 1.0 (cluster scoping can
    only MISS pairs, never invent them), and floor_met gates recall
    >= 0.3 at this operating point (measured 0.48-0.54 across
    sf0.001/sf0.01 at k=4; cross-cluster pairs are the designed
    loss — SemDeDup targets the high-threshold near-identical regime,
    pinned separately in tests/test_dedup_sem.py)."""
    from ..operators import dedup, similarity
    emb = _t(spark, d, "embeddings")
    exact = similarity.pairwise_similar(emb, 0.3).select("id_a", "id_b")
    approx = dedup.semdedup_pairs(emb, n_clusters=4, threshold=0.3) \
        .select("id_a", "id_b")
    n_exact = exact.count()
    n_hit = approx.join(exact, ["id_a", "id_b"], "left_semi").count()
    n_false = approx.join(exact, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_exact, n_false, bool(n_hit / max(1, n_exact) >= 0.3))],
        "n_exact long, n_false long, floor_met boolean")


@register("s28_orc_roundtrip", oracle="""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
""")
def s28_orc_roundtrip(spark: SparkSession, d: str) -> DataFrame:
    """Columnar-format coverage beyond parquet: write the documents
    table as ORC (Spark built-in, predicate pushdown + column pruning
    preserved), read it back, and emit a value fingerprint per row —
    the oracle compares against the parquet original, so any
    encode/decode fidelity loss (strings, ints) flips the hash."""
    import shutil
    from ..session import scratch
    docs = _t(spark, d, "documents")
    path = scratch("s28_orc")
    shutil.rmtree(path, ignore_errors=True)
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.select("doc_id", "lang",
                       F.col("n_chars").cast("long").alias("n_chars"),
                       F.md5("text").alias("text_md5"))


@register("s27_vacuum_versions", oracle="""
SELECT 4::BIGINT AS n_before, 2::BIGINT AS n_removed,
       2::BIGINT AS n_after, 4::BIGINT AS latest,
       TRUE AS latest_intact, TRUE AS horizon_enforced
""")
def s27_vacuum_versions(spark: SparkSession, d: str) -> DataFrame:
    """Snapshot retention for the versioned-table layer (Delta VACUUM /
    Iceberg expire_snapshots, directory-convention form): build 4
    snapshots of the documents table, vacuum keep_last=2, and verify
    IN-PLAN that exactly the two oldest are gone, the latest snapshot
    still reads back complete, and a time-travel read older than the
    horizon now fails — the lifecycle bound that keeps st_cc_curate's
    per-batch version history from growing without limit."""
    import shutil
    from ..sources.tables import (fold_version, list_versions,
                                  read_version, vacuum_versions)
    from ..session import scratch
    docs = _t(spark, d, "documents")
    path = scratch("s27_versions")
    shutil.rmtree(path, ignore_errors=True)
    for v in range(1, 5):
        fold_version(spark, path, v - 1,
                     docs.filter(F.col("doc_id") % 4 < v)
                     .select("doc_id", "lang"))
    n_before = len(list_versions(spark, path))
    removed = vacuum_versions(spark, path, keep_last=2)
    after = list_versions(spark, path)
    latest_intact = (read_version(spark, path).count()
                     == docs.count())
    try:
        read_version(spark, path, as_of=removed[-1])
        horizon = False      # a pre-horizon read must not succeed
    except ValueError:
        horizon = True
    return spark.createDataFrame(
        [(n_before, len(removed), len(after), max(after),
          bool(latest_intact), bool(horizon))],
        "n_before long, n_removed long, n_after long, latest long, "
        "latest_intact boolean, horizon_enforced boolean")


@register("mm_resize", oracle="""
WITH h AS (
  SELECT doc_id, length(text)::BIGINT AS n_bytes, md5(text) AS hex,
         text FROM documents
), dims AS (
  SELECT doc_id, n_bytes, text,
         (1 + ('0x' || substr(hex, 1, 4))::BIGINT % 2048) AS w,
         (1 + ('0x' || substr(hex, 5, 4))::BIGINT % 2048) AS h
  FROM h
), fit AS (
  SELECT doc_id, n_bytes, text, w, h,
         CASE WHEN greatest(w, h) <= 224 THEN w
              ELSE greatest(1, (w * 224) // greatest(w, h)) END AS nw,
         CASE WHEN greatest(w, h) <= 224 THEN h
              ELSE greatest(1, (h * 224) // greatest(w, h)) END AS nh
  FROM dims
)
SELECT doc_id, w::INT AS width, h::INT AS height,
       nw::INT AS new_width, nh::INT AS new_height,
       greatest(1, (n_bytes * nw * nh) // (w * h))::BIGINT AS n_out_bytes,
       md5(substr(text, 1,
                  greatest(1, (n_bytes * nw * nh) // (w * h))::INT))
         AS out_md5
FROM fit
""")
def mm_resize(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal resize plumbing (brief mandate: decode /
    feature-extract / RESIZE / frame-sample): aspect-preserving fit to
    224 via mapInPandas, fake backend with exact integer resampling so
    the ENTIRE path — Arrow batches, dimension math, and the actual
    output BYTES (md5-checked) — is value-oracled; a real PIL
    thumbnail drops into the same iterator (multimodal.resize_fit).
    ASCII testdata makes utf-8 bytes == DuckDB's text functions."""
    from ..operators import multimodal
    docs = _t(spark, d, "documents")
    media = multimodal.attach_binary(docs)
    out = multimodal.resize_fit(media)
    return out.select(
        "doc_id", "width", "height", "new_width", "new_height",
        F.length("resized_bytes").cast("long").alias("n_out_bytes"),
        F.md5("resized_bytes").alias("out_md5"))


def _cc_modern_oracle() -> str:
    from . import oracle_sql as O
    from . import oracle_vec as OV
    from ..operators.curation_rules import c4_sql, gopher_sql
    return f"""
WITH g AS (
  SELECT doc_id, {gopher_sql('text')} FROM documents
), c AS (
  SELECT doc_id, {c4_sql('text')} FROM documents
), scored AS (
  SELECT d.doc_id,
         {O.clean_sql('d.text')} AS clean_text,
         {OV.detect_language_sql('d.text')} AS detected_lang,
         g.gopher_pass, g.n_words, c.page_drop, c.n_kept, c.n_lines
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  JOIN c ON c.doc_id = d.doc_id
), gated AS (
  SELECT * FROM scored
  WHERE gopher_pass AND NOT page_drop AND detected_lang = 'en'
), keyed AS (
  SELECT *, md5(lower({O.pystrip_sql('clean_text')})) AS content_hash
  FROM gated
), grouped AS (
  SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keeper_id,
            count(*) OVER (PARTITION BY content_hash) AS group_size
  FROM keyed
)
SELECT doc_id, n_words, n_kept AS c4_lines_kept, n_lines AS c4_lines,
       (length(clean_text) // 4)::BIGINT AS est_tokens, group_size
FROM grouped WHERE doc_id = keeper_id
"""


@register("cc_curate_modern", oracle=_cc_modern_oracle())
def cc_curate_modern(spark: SparkSession, d: str) -> DataFrame:
    """The modern open-corpus curation recipe end to end, value-checked:
    Gopher quality rules AND C4 page rules AND language gate -> clean
    -> exact near-identical dedup (min-id keeper) -> token accounting.
    Composes ta_gopher_gate / t14_c4_line_filter / cc_curate's gate
    into ONE fused projection over the scan plus the single
    content-hash shuffle — the published-rules twin of cc_curate
    (whose gate is the reference's own scorer,
    document_processor.py:36-79)."""
    from ..functions import text as X
    from ..operators import textstats
    from ..operators.curation_rules import c4_line_stats, gopher_flags
    docs = _t(spark, d, "documents")
    gf = gopher_flags(F.col("text"))
    cf = c4_line_stats(F.col("text"))
    scored = docs.select(
        "doc_id",
        X.clean_text(F.col("text")).alias("clean_text"),
        textstats.detect_language(F.col("text")).alias("detected_lang"),
        gf["gopher_pass"].alias("gopher_pass"),
        gf["n_words"].alias("n_words"),
        cf["page_drop"].alias("page_drop"),
        cf["n_kept"].alias("c4_lines_kept"),
        cf["n_lines"].alias("c4_lines"))
    gated = scored.filter(
        F.col("gopher_pass") & ~F.col("page_drop")
        & (F.col("detected_lang") == "en"))
    keyed = gated.withColumn(
        "content_hash", F.md5(F.lower(X.pystrip(F.col("clean_text")))))
    w = Window.partitionBy("content_hash")
    grouped = (keyed
               .withColumn("keeper_id", F.min("doc_id").over(w))
               .withColumn("group_size", F.count("*").over(w)))
    return (grouped.filter(F.col("doc_id") == F.col("keeper_id"))
            .select("doc_id", "n_words", "c4_lines_kept", "c4_lines",
                    X.token_estimate(F.col("clean_text"))
                     .alias("est_tokens"),
                    "group_size"))


# ===========================================================================
# Iterative graph analytics: weighted PageRank over the nation trade
# graph — the oracle-able twin of the dd_components fixed-point family
# ===========================================================================

_PR_SCALE = 1_000_000_000
_PR_ITERS = 5


def _pr_edges_sql() -> str:
    return """
edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         count(*)::BIGINT AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), outw AS (
  SELECT src, sum(w)::BIGINT AS tot FROM edges GROUP BY src
), nodes AS (
  SELECT n_nationkey AS node FROM nation
)"""


def _pr_oracle() -> str:
    S, K = _PR_SCALE, _PR_ITERS
    base = (f"(({S}::BIGINT * 15) // (100 * (SELECT count(*) FROM nodes)))"
            f"::BIGINT")
    init = (f"r0 AS (SELECT node, ({S}::BIGINT // "
            f"(SELECT count(*) FROM nodes))::BIGINT AS r FROM nodes)")
    its = []
    for k in range(K):
        its.append(f"""
r{k + 1} AS (
  SELECT n.node,
         ({base} + (85 * coalesce(sum((p.r * e.w) // o.tot), 0)) // 100)
           ::BIGINT AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r{k} p ON p.node = e.src
  LEFT JOIN outw o ON o.src = e.src
  GROUP BY n.node
)""")
    return (f"WITH {_pr_edges_sql()}, {init}, {','.join(its)} "
            f"SELECT nat.n_name AS nation, r.r AS rank_scaled "
            f"FROM r{K} r JOIN nation nat ON nat.n_nationkey = r.node "
            f"ORDER BY rank_scaled DESC, nation")


@register("g1_trade_pagerank", oracle=_pr_oracle())
def g1_trade_pagerank(spark: SparkSession, d: str) -> DataFrame:
    """Weighted PageRank over the supplier-nation -> customer-nation
    trade graph (edge weight = lineitem count), 5 exact iterations.

    The usual blocker for value-oracling iterative rank is FP
    accumulation order; here every quantity is exact BIGINT
    arithmetic — ranks live in 1e-9 units, per-edge contribution is
    (r_src * w) DIV out_weight, damping is integer 15/85 splits — so
    Spark and DuckDB produce bit-identical trajectories (the same
    trick as q9's integer-scaled sums, applied to a fixed-point loop).
    Dangling-mass renormalization is deliberately omitted (documented
    simplification; every nation has outgoing trade in TPC-H-ish
    data).

    Scale shape: the edge list aggregates once (nations x nations, at
    most 625 rows — broadcast-sized forever); each iteration is a
    broadcast join against the current rank vector, so K iterations
    cost K tiny stages, not K corpus scans.  For billion-node graphs
    the same loop runs with hash-partitioned joins + checkpointing
    every few iterations (dd_components' lineage discipline)."""
    li = _t(spark, d, "lineitem")
    o = _t(spark, d, "orders")
    c = _t(spark, d, "customer")
    s = _t(spark, d, "supplier")
    nat = _t(spark, d, "nation")
    edges = (li
             .join(o, li.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(s, li.l_suppkey == s.s_suppkey)
             .groupBy(s.s_nationkey.alias("src"),
                      c.c_nationkey.alias("dst"))
             .agg(F.count("*").alias("w")))
    outw = edges.groupBy("src").agg(F.sum("w").alias("tot"))
    nodes = nat.select(F.col("n_nationkey").alias("node"))
    n_nodes = nodes.count()
    S = _PR_SCALE
    base = (S * 15) // (100 * n_nodes)
    ranks = nodes.withColumn("r", F.lit(S // n_nodes).cast("long"))
    ew = edges.join(outw, "src")
    for _ in range(_PR_ITERS):
        contrib = (ew.join(ranks.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.expr("(r * w) div tot").alias("c")))
        ranks = (nodes.join(contrib, nodes.node == contrib.dst, "left")
                 .groupBy("node")
                 .agg((F.lit(base)
                       + F.expr("(85 * coalesce(sum(c), 0)) div 100"))
                      .cast("long").alias("r")))
    out = (ranks.join(nat, ranks.node == nat.n_nationkey)
           .select(F.col("n_name").alias("nation"),
                   F.col("r").alias("rank_scaled")))
    return out.orderBy(F.desc("rank_scaled"), "nation")


@register("dd_line_dedup", headline=True, oracle="""
WITH raw AS (
  SELECT doc_id,
         unnest(list_transform(string_split(text, chr(10)),
                (x, i) -> struct_pack(i := i, ln := x))) AS s
  FROM documents
), ls AS (
  SELECT doc_id, s.i AS i, s.ln AS ln FROM raw
), flagged AS (
  SELECT doc_id, i, ln,
         (row_number() OVER (PARTITION BY md5(ln)
                             ORDER BY doc_id, i) = 1
          OR regexp_replace(ln, '^\\s+|\\s+$', '') = '') AS keep
  FROM ls
)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       sum(keep::INT)::BIGINT AS n_kept,
       md5(coalesce(string_agg(ln, chr(10) ORDER BY i)
                    FILTER (WHERE keep), '')) AS dedup_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
""")
def dd_line_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-WIDE exact line dedup with positional reassembly (the
    C4-style duplicated-span removal, Raffel et al. 2020 §2.2 — their
    unit is three-sentence spans; the line is the deterministic
    testable unit): every non-blank line keeps only its FIRST
    occurrence across the whole corpus (ordered by doc_id, then
    position), blank lines always survive (they carry structure, and
    would otherwise all collapse to one), and each document is
    reassembled in original line order.

    Scale shape (skew-safe, r8): blank lines NEVER enter the dedup
    shuffle — their keep is decided map-side (they'd otherwise all
    funnel into the single md5('') reducer, the classic hot-key
    scale-killer at 100 TB).  First occurrence is elected with
    `groupBy(md5(ln)).agg(min(struct(doc_id, pos, ln)))` — min() is
    partial-aggregable, so even a billion-copy boilerplate line costs
    one combiner cell per map task, not one giant window partition
    (row_number windows cannot partially combine) — and because the
    struct CARRIES the line text, the election's output IS the kept
    line set: no join back over the corpus at all.  Downstream, only
    keepers + blanks (the surviving text) and doc_id-keyed counts
    shuffle — both uniform keys, both partial-aggregated."""
    docs = _t(spark, d, "documents")
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "ln"))
    blank = F.regexp_replace("ln", r"^\s+|\s+$", "") == ""
    lines = lines.withColumn("blank", blank)
    counts = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    kept_nb = (lines.filter(~F.col("blank"))
               .groupBy(F.md5("ln").alias("h"))
               .agg(F.min(F.struct("doc_id", "pos", "ln")).alias("f"))
               .select("f.doc_id", "f.pos", "f.ln"))
    blanks = lines.filter(F.col("blank")).select("doc_id", "pos", "ln")
    keepers = kept_nb.unionByName(blanks)
    agg = (keepers.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"]),
            "\n")).alias("dedup_md5")))
    assembled = (counts.join(agg, "doc_id", "left")
                 .select("doc_id", "n_lines",
                         F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                         F.coalesce("dedup_md5", F.md5(F.lit("")))
                          .alias("dedup_md5")))
    return assembled.orderBy("doc_id")


def _gopher_oracle() -> str:
    from ..operators.curation_rules import gopher_sql
    return (f"SELECT doc_id, {gopher_sql('text')} "
            f"FROM documents ORDER BY doc_id")


@register("ta_gopher_gate", oracle=_gopher_oracle())
def ta_gopher_gate(spark: SparkSession, d: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 A1.1) per document: one
    fused projection computes word/line statistics over split arrays
    and the seven rule booleans + overall verdict — no UDF, no
    shuffle, map-side at any scale.  Constants shared verbatim with
    the DuckDB oracle."""
    from ..operators.curation_rules import gopher_flags
    docs = _t(spark, d, "documents")
    flags = gopher_flags(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()]
    ).orderBy("doc_id")


def _c4_oracle() -> str:
    from ..operators.curation_rules import c4_sql
    return (f"SELECT doc_id, {c4_sql('text')} "
            f"FROM documents ORDER BY doc_id")


@register("t14_c4_line_filter", oracle=_c4_oracle())
def t14_c4_line_filter(spark: SparkSession, d: str) -> DataFrame:
    """C4 line-cleaning rules (Raffel et al. 2020 §2.2) per document:
    terminal-punctuation + >=3-words + no-'javascript' line keeps,
    lorem-ipsum / curly-brace page drops — line filtering as array
    expressions inside one projection (the 100 TB form: no explode,
    no shuffle; the kept text is reassembled per row)."""
    from ..operators.curation_rules import c4_line_stats
    docs = _t(spark, d, "documents")
    stats = c4_line_stats(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in stats.items()]
    ).orderBy("doc_id")
