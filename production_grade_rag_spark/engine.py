"""User-facing engine facade — the reference's API surface, Spark-first.

Mirrors the entry points a user of the reference calls today:

- feature pipeline ``build_index``   (rag_pipeline.py:189-236)
- ``search`` with search_type dispatch semantic/hybrid/filtered
  (vector_store.py:183-243, VectorSearchQuery base.py:16-23)
- ``multi_strategy_search`` orchestrator: strategy selection by intent
  + feature flags, fusion, diversity (advanced_search.py:68-206)
- ``attribute`` source attribution  (source_attribution.py:23-129)
- ``budget`` context token budget   (rag_engine.py:230-258)

Every method returns a DataFrame (lazy plan); nothing collects except
the caller.  The LLM generation layer is out of scope (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, EngineConfig
from .functions import text as X
from .functions.vector import cosine, to_double_array
from .operators import fusion, textscore
from .operators.budget import greedy_token_budget
from .operators.chunking import (chunk_fixed, chunk_parent_child_fixed,
                                 chunk_recursive)
from .operators import embedding
from .operators.embedding import embed_text_py
from .operators.similarity import knn_topk
from .operators.attribution import attribution_join


def resolved_probe_cap(config: EngineConfig) -> int | None:
    """The adaptive-probe ceiling actually passed to the searcher:
    ``ann_n_probe_max`` when a positive int (absolute cap), ``0`` for
    UNCAPPED (adaptive_probe_cells(cap=None) — every cell probeable;
    the pre-r11 meaning of None, restored as an explicit sentinel per
    ADVICE r11), else — None — 4x the adaptive floor ``ann_n_probe``,
    ratio-based so raising the floor keeps the documented 4x headroom
    instead of silently shrinking it against a stale absolute (ADVICE
    r10).  At EngineConfig defaults this resolves to 16, the pre-r11
    behavior."""
    if config.ann_n_probe_max is not None:
        if config.ann_n_probe_max <= 0:
            return None
        return config.ann_n_probe_max
    if config.ann_n_probe is None:
        # derived-knob configs (ann_n_probe=None) only dispatch the
        # inline ivf backend, which never reaches this cap; a PREBUILT
        # ivfpq store has its own list count the engine cannot see,
        # so it keeps explicit knobs
        raise ValueError("ann_n_probe=None (derived) is only supported "
                         "for ann_backend='ivf'; ivfpq stores need an "
                         "explicit probe floor")
    return 4 * config.ann_n_probe


def query_intent(query_text: str) -> str:
    """Keyword intent detection (advanced_search.py:125-146) — the
    driver-side twin of functions.text.classify_intent, same
    INTENT_RULES keyword lists."""
    low = query_text.lower()
    for intent, terms in X.INTENT_RULES:
        if any(t in low for t in terms):
            return intent
    return "general"


def select_strategies(intent: str, config: EngineConfig) -> list[str]:
    """Strategy selection by intent + feature flags
    (advanced_search.py:172-206): similarity always; parent_child for
    every intent except problem-solving when the flag allows; hybrid
    when its flag allows."""
    strategies = ["similarity"]
    if intent != "problem-solving" and config.enable_parent_retrieval:
        strategies.append("parent_child")
    if config.enable_hybrid_search:
        strategies.append("hybrid")
    return strategies


class SparkRagEngine:
    """The reference's engine object, re-expressed as plan builders."""

    def __init__(self, spark: SparkSession,
                 config: EngineConfig = DEFAULT_CONFIG):
        config.validate()
        self.spark = spark
        self.config = config

    # -- feature pipeline ---------------------------------------------------

    def build_index(self, documents: DataFrame, text_col: str = "text",
                    recursive: bool = False) -> DataFrame:
        """rag_pipeline: quality (T2) -> filter (T3) -> clean+chunk
        (T1/M1/T4/W2) -> embed (M3, backend per config).  Returns the
        chunk index frame (chunk_id, doc_id, content, chunk_index, ...,
        embedding).  With a model backend, ``embed_query`` encodes
        queries through the SAME factory, so the index is searchable
        end-to-end."""
        c = self.config
        scored = X.with_quality(documents, text_col=text_col)
        kept = X.quality_filter(scored, c.quality_threshold)
        chunker = chunk_recursive if recursive else chunk_fixed
        chunks = chunker(kept, text_col=text_col,
                         chunk_size=c.chunk_size, overlap=c.chunk_overlap,
                         min_chars=c.min_chunk_chars)
        return self._embed(chunks)

    def build_parent_child_index(self, documents: DataFrame,
                                 text_col: str = "text") -> DataFrame:
        """Parent-child variant of build_index
        (document_processor.py:119-120 + parent_child_chunker.py:84-135):
        quality gate, then the fixed-stride parent/child hierarchy, then
        every chunk — parents AND children — embedded and searchable.
        Children carry ``parent_id``; parent text is NOT denormalized
        onto them (the reference stores parent_content in child
        metadata, parent_child_chunker.py:118-124 — here it is
        recovered by a join at search time, see multi_strategy_search).
        """
        c = self.config
        scored = X.with_quality(documents, text_col=text_col)
        kept = X.quality_filter(scored, c.quality_threshold)
        chunks = chunk_parent_child_fixed(
            kept, text_col=text_col,
            parent_size=c.parent_chunk_size,
            parent_overlap=c.parent_chunk_overlap,
            child_size=c.child_chunk_size,
            child_overlap=c.child_chunk_overlap)
        return self._embed(chunks)

    def _embed(self, chunks: DataFrame) -> DataFrame:
        """M3 on the chunk frame with the configured backend."""
        c = self.config
        return embedding.embed(chunks, backend=c.embedding_backend,
                               dim=c.embedding_dim,
                               normalize=c.normalize_embeddings,
                               model_name=c.model_name,
                               batch_size=c.model_batch_size,
                               encoder_factory=c.encoder_factory)

    def embed_query(self, query_text: str) -> list[float]:
        """Encode a query with the SAME embedder build_index used
        (reference: advanced_search.py:320-324) — the model backend's
        driver-side encoder when active, else the hash twin."""
        c = self.config
        if embedding.uses_model_backend(c.embedding_backend,
                                        c.encoder_factory):
            return embedding.encode_query(
                query_text, model_name=c.model_name,
                normalize=c.normalize_embeddings,
                encoder_factory=c.encoder_factory)
        return embed_text_py(query_text, dim=c.embedding_dim,
                             normalize=c.normalize_embeddings)

    # -- retrieval ----------------------------------------------------------

    def _vector_topk(self, index: DataFrame, query_vector: list[float],
                     k: int, id_col: str) -> DataFrame:
        """Vector-branch top-k behind the ANN-backend dispatch — the
        engine's analog of the reference's index choice + numCandidates
        knob (index_manager.py:63-76, vector_search.py:67).  "exact"
        (default) preserves the reference's semantics; "ivf" probes
        ann_n_probe of ann_n_lists KMeans cells inline — the approximate
        path for corpus sizes where a full scan per query is wrong.
        "ivfpq" serves from a PREBUILT compressed store
        (config.ann_store_path) with an ADC-shortlist -> exact-rerank
        two-stage.  Every backend returns the index columns + raw
        cosine ``score`` with id tiebreaks, so downstream strategies
        are backend-agnostic."""
        c = self.config
        if c.ann_backend == "exact":
            return knn_topk(index, query_vector, k=k, id_col=id_col)
        if c.ann_backend == "ivf":
            from .operators.similarity import ivf_topk
            n_lists, n_probe = c.ann_n_lists, c.ann_n_probe
            if n_lists is None or n_probe is None:
                # derived operating point (VERDICT r13 #2 at the
                # facade): ~sqrt(n) lists; probe fraction from the
                # MEASURED corpus geometry — one footer count + one
                # bounded <=4096-pair anisotropy read per dispatch
                # (an ingest pipeline caches both with the index)
                from .operators.knn_graph import (derived_n_lists,
                                                  derived_n_probe,
                                                  measured_anisotropy)
                n = index.count()
                if n_lists is None:
                    n_lists = derived_n_lists(n)
                if n_probe is None:
                    n_probe = derived_n_probe(
                        n_lists,
                        measured_anisotropy(index, n, id_col=id_col))
            return ivf_topk(index, query_vector, k=k, id_col=id_col,
                            n_lists=n_lists, n_probe=n_probe)
        if c.ann_backend == "ivfpq":
            # production shape: a PREBUILT compressed store (offline
            # index at ingest) answers the top-k two-stage (ADC
            # shortlist -> exact rerank); the k winners then join back
            # to the live index so downstream strategies see the same
            # columns as every other backend.  The join is k-row
            # broadcast work.
            from .operators.pq import ivfpq_search_store
            if not c.ann_store_path:
                raise ValueError(
                    "ann_backend='ivfpq' requires ann_store_path "
                    "(build one with pq.ivfpq_build_store)")
            hits = ivfpq_search_store(
                index.sparkSession, c.ann_store_path, query_vector,
                k=k, n_probe=c.ann_n_probe,
                n_candidates=c.ann_n_candidates, id_col=id_col,
                round_to=None,
                mass_target=c.ann_mass_target,
                n_probe_max=resolved_probe_cap(c))
            return (index.join(F.broadcast(hits), id_col)
                    .orderBy(F.desc("score"), F.col(id_col)))
        if c.ann_backend == "lsh":
            # MLlib BucketedRandomProjectionLSH: fixed seed makes the
            # random projections deterministic; approxNearestNeighbors
            # prunes to same-bucket candidates (any of num_tables
            # hashes) before the exact distance sort — the hash-bucket
            # analog of the ivf cell probe.  The k winners re-join the
            # live index and get the RAW cosine score so downstream
            # strategies see exactly the exact-backend columns.
            from pyspark.ml.feature import BucketedRandomProjectionLSH
            from pyspark.ml.functions import array_to_vector
            from pyspark.ml.linalg import Vectors

            from .functions.vector import cosine, to_double_array
            if not c.normalize_embeddings:
                # the BRP shortlist is selected by EUCLIDEAN bucket
                # distance but rescored by cosine; the two orders
                # agree only on unit vectors, so an unnormalized
                # index would silently collapse recall (ADVICE r9)
                raise ValueError(
                    "ann_backend='lsh' requires "
                    "normalize_embeddings=True: Euclidean bucket "
                    "pruning preserves cosine order only on "
                    "unit-norm embeddings")
            feat = index.select(
                F.col(id_col),
                array_to_vector(
                    to_double_array(F.col("embedding"))).alias("__f"))
            lsh = BucketedRandomProjectionLSH(
                inputCol="__f", outputCol="__h", seed=42,
                bucketLength=c.ann_lsh_bucket_length,
                numHashTables=c.ann_lsh_num_tables)
            model = lsh.fit(feat)
            hits = (model.approxNearestNeighbors(
                        feat, Vectors.dense(query_vector), k)
                    .select(id_col))
            q = F.array(*[F.lit(float(x)) for x in query_vector])
            return (index.join(F.broadcast(hits), id_col)
                    .withColumn("score", cosine(
                        to_double_array(F.col("embedding")), q))
                    .orderBy(F.desc("score"), F.col(id_col)))
        raise ValueError(f"unknown ann_backend {c.ann_backend!r}")

    def prf_terms(self, index: DataFrame, terms: list[str],
                  n_top_docs: int = 5, n_terms: int = 3) -> DataFrame:
        """The PRF expansion-mining half as a public surface:
        (term, w) the hybrid text branch would add under
        config.query_expansion='prf' — auditable standalone (and
        value-oracled end to end by the eng_prf_terms entry)."""
        from .operators.textscore import prf_expansion_terms
        return prf_expansion_terms(index, terms, text_col="content",
                                   n_top_docs=n_top_docs,
                                   n_terms=n_terms)

    def search(self, index: DataFrame, query_text: str | None = None,
               query_vector: list[float] | None = None,
               search_type: str = "semantic", limit: int | None = None,
               min_score: float | None = None,
               filters: dict | None = None,
               id_col: str = "chunk_id") -> DataFrame:
        """VectorSearchQuery semantics (base.py:16-23): one of
        query_text / query_vector; search_type in {semantic, hybrid,
        filtered}.  Filter placement follows the reference's pipelines
        exactly:

        - semantic  : $match filters run AFTER $vectorSearch's internal
          limit (vector_search.py:61-95), so the top-k is taken over the
          UNFILTERED corpus and filters/min_score then drop rows — fewer
          than k results can come back.
        - filtered  : $vectorSearch retrieves limit*2 candidates, then
          the score threshold and filters apply, then the final $limit
          (vector_search.py:234-275).
        - hybrid    : candidate branches are unfiltered; filters apply
          after fusion, before the final sort+limit
          (vector_search.py:193-205).
        """
        c = self.config
        k = min(limit or c.default_k, c.max_k)
        if query_vector is None:
            if query_text is None:
                raise ValueError("need query_text or query_vector")
            query_vector = self.embed_query(query_text)

        def eq_filters(df: DataFrame) -> DataFrame:
            for col, val in (filters or {}).items():
                df = df.filter(F.col(col) == val)
            return df

        if search_type == "semantic":
            # top-k over the unfiltered index, THEN $match (post-limit).
            out = self._vector_topk(index, query_vector, k, id_col)
            out = eq_filters(out)
            if min_score is not None:
                out = out.filter(F.col("score") >= min_score)
        elif search_type == "filtered":
            # retrieve 2k candidates, threshold, filter, final limit.
            cand = self._vector_topk(index, query_vector, 2 * k, id_col)
            cand = cand.filter(
                F.col("score") >= (min_score if min_score is not None
                                   else c.similarity_threshold))
            out = eq_filters(cand) \
                .orderBy(F.desc("score"), F.col(id_col)).limit(k)
        elif search_type == "hybrid":
            out = self._hybrid(index, query_text or "", query_vector, k,
                               id_col, min_score=min_score,
                               filters=filters)
        else:
            raise ValueError(f"unknown search_type {search_type!r}")
        return out

    def _hybrid(self, index: DataFrame, query_text: str,
                query_vector: list[float], k: int,
                id_col: str, min_score: float | None = None,
                filters: dict | None = None) -> DataFrame:
        """R7: vector branch (2k) ∪ text-overlap branch (2k) -> dedup
        by id (max per score) -> 0.7/0.3 fusion -> $match filters ->
        top-k (vector_search.py:98-204; candidate sizing :131,158;
        post-fusion filter placement :193-205).  Candidate pools are
        UNFILTERED — filters only drop rows from the fused set."""
        c = self.config
        qv = F.array(*[F.lit(float(x)) for x in query_vector])
        vec = (index.select(
                   F.col(id_col).alias("id"),
                   cosine(to_double_array(F.col("embedding")), qv)
                   .alias("vector_score"))
               .orderBy(F.desc("vector_score"), "id").limit(2 * k))
        # text branch: Okapi BM25 over the query terms (the reference's
        # Lucene-$search scoring model, vector_search.py:141-160);
        # config.text_relevance="tfidf" selects the lighter smoothed
        # TF-IDF fallback.
        # query terms go through the SAME analyzer as the document side
        # (Atlas $search applies the index analyzer to the query too)
        if c.text_analyzer == "standard":
            terms = X.std_analyze_py(query_text)
        elif c.text_analyzer == "stemmed":
            terms = X.stem_analyze_py(query_text)
        elif c.text_analyzer == "english":
            terms = X.english_analyze_py(query_text)
        else:
            terms = [t for t in query_text.lower().split() if t]
        if c.query_expansion == "prf":
            # Rocchio widening before the text branch scores: mined
            # terms are a <=3-row driver-side list (bounded metadata,
            # like centroids) from the SAME shared miner the r11
            # catalog entries value-oracle.  Mining uses whitespace
            # tokens; analyzer-specific scoring applies unchanged to
            # the widened list.
            terms = terms + [
                r["tok"] for r in self.prf_terms(index, terms).collect()]
        if c.text_relevance == "bm25":
            txt = textscore.bm25_score(index, terms, text_col="content",
                                       k1=c.bm25_k1, b=c.bm25_b,
                                       analyzer=c.text_analyzer)
        elif c.text_relevance == "tfidf":
            txt = textscore.tfidf_score(index, terms, text_col="content",
                                        analyzer=c.text_analyzer)
        else:
            raise ValueError(f"unknown text_relevance {c.text_relevance!r}")
        txt = (txt.select(F.col(id_col).alias("id"), "text_score")
               .orderBy(F.desc("text_score"), "id").limit(2 * k))
        if c.hybrid_fusion == "rrf":
            # reciprocal-rank fusion (the Atlas $rankFusion / Elastic
            # standard; scale-free across branch score ranges): rank
            # WITHIN each branch before merging, each membership
            # contributes 1/(60+rank); branch scores ride along for
            # the API's vector_score/text_score columns.
            wv = Window.orderBy(F.desc("vector_score"), "id")
            wt = Window.orderBy(F.desc("text_score"), "id")
            contrib = (vec.withColumn("__r", F.row_number().over(wv))
                       .select("id", "vector_score",
                               F.lit(None).cast("double")
                               .alias("text_score"),
                               (1.0 / (60 + F.col("__r"))).alias("__c"))
                       .unionByName(
                           txt.withColumn("__r",
                                          F.row_number().over(wt))
                           .select("id",
                                   F.lit(None).cast("double")
                                   .alias("vector_score"),
                                   "text_score",
                                   (1.0 / (60 + F.col("__r")))
                                   .alias("__c"))))
            fused = (contrib.groupBy("id")
                     .agg(F.max("vector_score").alias("vector_score"),
                          F.max("text_score").alias("text_score"),
                          F.sum("__c").alias("score")))
        else:
            merged = fusion.hybrid_union(vec, txt)
            fused = fusion.weighted_fusion(merged, c.hybrid_vector_weight,
                                           c.hybrid_text_weight)
        # post-fusion $match (vector_search.py:193-205): attribute
        # filters need the index columns back — join only the filtered
        # attributes (broadcast-sized: <= 4k fused candidate ids).
        # Attributes are aliased __f_<col> so a filter key named
        # "score"/"vector_score"/"text_score"/"id" can't collide with
        # the fused frame's own columns.
        if filters:
            attrs = index.select(
                F.col(id_col).alias("id"),
                *[F.col(col).alias(f"__f_{col}") for col in filters])
            fused = fused.join(attrs, "id", "left")
            for col, val in filters.items():
                fused = fused.filter(F.col(f"__f_{col}") == val)
            fused = fused.drop(*[f"__f_{col}" for col in filters])
        if min_score is not None:
            fused = fused.filter(F.col("score") >= min_score)
        return (fused.orderBy(F.desc("score"), "id").limit(k)
                     .withColumnRenamed("id", id_col))

    def multi_strategy_search(self, index: DataFrame, query_text: str,
                              limit: int | None = None,
                              strategies: list[str] | None = None,
                              id_col: str = "chunk_id") -> DataFrame:
        """Orchestrator (advanced_search.py:68-206): run the selected
        strategies, fuse per-id with strategy weights (A3), then greedy
        diversity (W5), then top-k.  Strategy selection honors the
        feature flags when not given explicitly."""
        c = self.config
        k = min(limit or c.default_k, c.max_k)
        qv = self.embed_query(query_text)
        if strategies is None:
            strategies = select_strategies(query_intent(query_text), c)
        branches = []
        # per the reference's _execute_single_strategy
        # (advanced_search.py:204-226): each strategy RETRIEVES its own
        # config.max_results first (similarity 15, parent_child 8 —
        # advanced_search.py:53-66), THEN filters by its threshold
        # (similarity 0.7; parent_child 0.65 on top of the 0.75
        # search-internal threshold of its filtered-search retrieval,
        # advanced_search.py:350-356), then truncates to the caller's
        # limit.  The repo-only hybrid strategy has no reference config
        # row and enters fusion unfiltered at the caller's limit.
        for s in strategies:
            if s == "similarity":
                # .get with the reference defaults (advanced_search.py:
                # 53-66) so a user-supplied partial dict doesn't KeyError.
                m = c.strategy_max_results.get("similarity", 15)
                b = (self._vector_topk(index, qv, m, id_col)
                     .select(F.col(id_col).alias("id"), "score")
                     .filter(F.col("score") >= c.similarity_threshold)
                     .orderBy(F.desc("score"), "id").limit(k))
            elif s == "hybrid":
                b = self._hybrid(index, query_text, qv, k, id_col) \
                    .select(F.col(id_col).alias("id"), "score")
            elif s == "parent_child":
                m = c.strategy_max_results.get("parent_child", 8)
                # filtered-search retrieval: 2m candidates -> 0.75
                # threshold -> limit m (vector_search.py:234-275), then
                # the orchestrator's 0.65 threshold + caller truncation.
                b = (self._vector_topk(index, qv, 2 * m, id_col)
                     .select(F.col(id_col).alias("id"), "score")
                     .filter(F.col("score") >= c.parent_child_search_threshold)
                     .orderBy(F.desc("score"), "id").limit(m)
                     .filter(F.col("score") >= c.parent_child_threshold)
                     .orderBy(F.desc("score"), "id").limit(k))
            else:
                raise ValueError(f"unknown strategy {s!r}")
            branches.append(b.withColumn("strategy", F.lit(s)))
        unioned = branches[0]
        for b in branches[1:]:
            unioned = unioned.unionByName(b)
        fused = fusion.multi_strategy_fusion(unioned,
                                             weights=c.strategy_weights)
        ranked = (fused.join(index.select(F.col(id_col).alias("id"),
                                          "content"), "id", "left")
                  .select(F.lit("q").alias("query_id"), "id",
                          F.col("fused_score").alias("score"),
                          "strategies_used", "content"))
        # diversity pass: the reference's threshold filter ("MMR-lite",
        # advanced_search.py:275-311) by default; config.diversity_mode
        # = "mmr" swaps in the full continuous trade-off
        # (fusion.mmr_rerank) — same token-Jaccard similarity, so the
        # two modes agree on what "near-duplicate" means.
        if c.diversity_mode == "mmr":
            diverse = fusion.mmr_rerank(
                ranked, lam=c.mmr_lambda, k=k, id_col="id") \
                .drop("mmr_rank")
        else:
            diverse = fusion.greedy_diversity(
                ranked, threshold=c.diversity_jaccard_cutoff, id_col="id")
        out = (diverse.orderBy(F.desc("score"), "id").limit(k)
                      .withColumnRenamed("id", id_col)
                      .drop("query_id"))
        # parent-context attachment (the reference stores parent text in
        # child metadata at chunk time, parent_child_chunker.py:118-124,
        # and exposes it per result via get_parent_context :138-151;
        # here the denormalization is replaced by a search-time join
        # when the index carries the hierarchy columns): child results
        # gain parent_content, parents and flat-index rows get NULL.
        if ("parent_child" in strategies
                and {"parent_id", "chunk_type"} <= set(index.columns)):
            out = self._attach_parent_content(index, out, id_col)
        return out

    def _attach_parent_content(self, index: DataFrame, out: DataFrame,
                               id_col: str) -> DataFrame:
        """R2 restricted to the k result rows: two pruned index scans,
        each joined against a broadcast k-row frame — no corpus-sized
        shuffle at any scale (operators.chunking.parent_context is the
        corpus-wide form of the same join)."""
        kids = (index.filter(F.col("chunk_type") == "child")
                .select(F.col(id_col), "parent_id"))
        hit = kids.join(F.broadcast(out.select(id_col)), id_col, "inner")
        parents = (index.filter(F.col("chunk_type") == "parent")
                   .select(F.col(id_col).alias("parent_id"),
                           F.col("content").alias("parent_content")))
        pc = (parents.join(F.broadcast(hit), "parent_id", "inner")
              .select(id_col, "parent_content"))
        return out.join(F.broadcast(pc), id_col, "left")

    # -- introspection ------------------------------------------------------

    def features_used(self) -> list[str]:
        """Advanced-feature listing (rag_engine.py:378-388) — same
        flag-to-name mapping."""
        c = self.config
        features = []
        if c.enable_advanced_search:
            features.append("advanced_search")
        if c.enable_parent_retrieval:
            features.append("parent_retrieval")
        if c.enable_hybrid_search:
            features.append("hybrid_search")
        return features

    def search_strategy_description(self) -> str:
        """Strategy-summary string (rag_engine.py:363-376): the
        multi-strategy label when advanced search is on, the basic
        label otherwise."""
        c = self.config
        if not c.enable_advanced_search:
            return "basic-similarity"
        strategies = []
        if c.enable_parent_retrieval:
            strategies.append("parent-child")
        if c.enable_hybrid_search:
            strategies.append("hybrid")
        if strategies:
            return f"multi-strategy ({', '.join(strategies)})"
        return "advanced-similarity"

    def search_statistics(self) -> dict:
        """Search configuration stats (advanced_search.py:363-370):
        strategy availability + flag state.  Per-query performance
        counters are a metrics-backend concern, out of engine scope
        (the reference's in-process rolling averages,
        rag_engine.py:414-459, have their distributed twin in
        ev_rolling_metrics / A8)."""
        c = self.config
        n = 1  # similarity is always enabled (select_strategies)
        n += int(c.enable_parent_retrieval) + int(c.enable_hybrid_search)
        return {
            "strategies_available": n,
            "advanced_features_enabled": c.enable_advanced_search,
            "query_expansion_enabled": False,   # parity: reference ships off
            "reranking_enabled": False,         # parity: reference ships off
            "features": self.features_used(),
            "strategy_description": self.search_strategy_description(),
        }

    # -- post-processing ----------------------------------------------------

    def attribute(self, results: DataFrame, documents: DataFrame,
                  doc_cols=("source", "lang")) -> DataFrame:
        """R1: broadcast attribution join."""
        return attribution_join(results, documents, doc_cols=doc_cols)

    def budget(self, results: DataFrame, query_col: str = "query_id",
               id_col: str = "doc_id") -> DataFrame:
        """T7: exact greedy context budget."""
        c = self.config
        return greedy_token_budget(
            results, query_col=query_col, id_col=id_col,
            max_total_tokens=c.max_context_tokens,
            max_result_tokens=c.max_doc_tokens)
