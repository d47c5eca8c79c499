"""Engine configuration mirroring the reference's config surface.

Mirrors /root/reference/config/rag_config.yaml and
src/config/settings.py (chunk sizes, fusion weights, thresholds,
feature flags) as a plain dataclass — flags gate plan shape at
build time (reference: src/config/feature_flags.py:21-161).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # chunking (reference: config/settings.py:45-46, 89-92)
    chunk_size: int = 1000
    chunk_overlap: int = 200
    parent_chunk_size: int = 2000
    parent_chunk_overlap: int = 400
    child_chunk_size: int = 400
    child_chunk_overlap: int = 100
    min_chunk_chars: int = 50          # document_processor.py:103

    # embeddings (reference: config/rag_config.yaml:22-27)
    embedding_dim: int = 64            # testdata embeddings are 64-d
    # backend dispatch (operators/embedding.embed): "hash" | "model" |
    # "auto" (model when sentence-transformers is importable, else the
    # documented hash fallback).  "hash" is the default because query
    # vectors must come from the same embedder as the index and the
    # hash path is the only one with a pure-Python query-side twin.
    embedding_backend: str = "hash"
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2"  # settings.py:44
    model_batch_size: int = 32         # rag_config.yaml:26
    normalize_embeddings: bool = True
    # optional encoder factory (operators.embedding contract: factory()
    # -> encode(texts, normalize) -> list[list[float]], with a
    # .cache_key attribute).  None -> the sentence-transformers loader
    # when the model backend is active.  Both index-side (model_embed)
    # and query-side (encode_query) use THIS factory, so index and
    # query vectors always come from the same encoder — the reference's
    # invariant (advanced_search.py:320-324).
    encoder_factory: object | None = None

    # retrieval (reference: config/rag_config.yaml:33-48, advanced_search.py:53-66)
    default_k: int = 10
    max_k: int = 100
    similarity_threshold: float = 0.7
    parent_child_threshold: float = 0.65
    parent_child_search_threshold: float = 0.75
    hybrid_vector_weight: float = 0.7
    hybrid_text_weight: float = 0.3
    # hybrid text branch scoring: "bm25" (Okapi, the reference's
    # Lucene-$search model — vector_search.py:141-160) or "tfidf"
    # (smoothed TF-IDF, the lighter fallback without saturation or
    # length norm).  Both are pure column expressions.
    text_relevance: str = "bm25"
    # hybrid fusion: "weighted" (the reference's 0.7/0.3 score mix —
    # default, reference parity) or "rrf" (reciprocal-rank fusion,
    # k=60 — scale-free across branch score ranges)
    hybrid_fusion: str = "weighted"
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    # pseudo-relevance feedback: "none" (default) or "prf" — mine
    # expansion terms from the top text-branch documents (Rocchio;
    # operators/textscore.prf_expansion_terms) and widen the query
    # before the text branch scores.  Whitespace-analyzer terms.
    query_expansion: str = "none"
    # text-branch analyzer: "whitespace" (the repo's F3 tokenizer) or
    # "standard" (Lucene-standard twin — the analyzer the reference's
    # $search index declares, index_manager.py:117-152; applied to
    # both the document side and the query terms).
    text_analyzer: str = "whitespace"
    # vector-branch ANN backend: "exact" (reference semantics — the
    # default; $vectorSearch with numCandidates >= corpus) or "ivf"
    # (inline cell-probe approximation for corpus sizes where an exact
    # scan per query is wrong; n_probe is the recall knob, the
    # reference's numCandidates analog, vector_search.py:67).  The
    # index lifecycle the reference manages in index_manager.py:32-113
    # maps to ann_n_lists/ann_n_probe + the ivf/ivfpq stores in
    # operators.similarity / operators.pq.
    # Since r14 (VERDICT r13 #2 extended to the facade) either knob
    # may be None — the engine then DERIVES it from the indexed corpus
    # at dispatch time: n_lists ~ sqrt(n) rounded to a power of two
    # (knn_graph.derived_n_lists) and n_probe from the MEASURED
    # anisotropy (knn_graph.measured_anisotropy -> probe_bits: ~1/2 of
    # cells on isotropic geometry, down to the certified 1/32 on
    # clustered geometry), for one footer count + one bounded
    # <=4096-pair read.  The int defaults below keep the r6-r13
    # engine contract unchanged; eng_ann_derived_recall gates the
    # None path.
    ann_backend: str = "exact"
    ann_n_lists: int | None = 16
    ann_n_probe: int | None = 4
    # "ivfpq" backend: a PREBUILT store (pq.ivfpq_build_store — the
    # offline-index-at-ingest shape) searched two-stage: ADC shortlist
    # of ann_n_candidates rows, exact cosine rerank on those alone
    # (the reference's numCandidates, vector_search.py:67)
    ann_store_path: str | None = None
    ann_n_candidates: int = 640
    # adaptive multi-probe — the ivfpq DEFAULT (VERDICT r8 #5): probe
    # nearest cells until the cumulative inverse-squared-distance mass
    # share passes ann_mass_target; ann_n_probe becomes the FLOOR and
    # ann_n_probe_max the cap (similarity.adaptive_probe_cells).
    # Measured at the 10x stress tier (STRESS_r08): fixed p16 recall
    # 0.695 (20-query mean) vs adaptive t0.8 at 0.97 for ~3x probe
    # cost — ambiguous queries probe wider automatically.  None
    # restores fixed-probe behavior; engine-level recall floor 0.9 is
    # pinned by eng_ivfpq_adaptive_recall under this default.
    #
    # COMPAT NOTE (the r8->r9 default flip): with ann_mass_target set,
    # ann_n_probe is reinterpreted from a fixed probe count to the
    # adaptive FLOOR.  ann_n_probe_max bounds the worst case — an
    # ambiguous query otherwise probes every cell and the rerank
    # shortlist (scaled by probed-cell share) approaches a full-store
    # scan.  None (the default) means the cap is DERIVED as
    # 4 * ann_n_probe at the use site (engine.resolved_probe_cap) —
    # ratio-based, so a deployment that raises the floor keeps its 4x
    # adaptive headroom instead of silently hitting an absolute 16
    # (ADVICE r10); at EngineConfig defaults that resolves to the same
    # 16-of-16 ceiling as before.  A positive int is an absolute cap.
    # COMPAT NOTE (r11->r12, ADVICE r11): before r11, None meant
    # UNCAPPED; r11 silently re-read it as "derived 4x floor".  The
    # uncapped contract is restored as an explicit sentinel: set 0
    # (any int <= 0) to disable the cap entirely
    # (adaptive_probe_cells receives cap=None — an ambiguous query
    # may probe every cell).
    ann_mass_target: float | None = 0.8
    ann_n_probe_max: int | None = None
    # "lsh" backend: MLlib BucketedRandomProjectionLSH (random
    # hyperplane-offset buckets, Datar et al. 2004) queried via
    # approxNearestNeighbors — the hash-bucket alternative to the
    # cell-probe (ivf) family; on normalized embeddings Euclidean NN
    # order == cosine NN order, and the k winners re-join the live
    # index so downstream strategies see backend-agnostic columns.
    # Wider buckets / more tables = higher recall, more candidates
    # scanned (the n_probe analog); engine-level recall floor pinned
    # by eng_lsh_recall.
    ann_lsh_bucket_length: float = 2.0
    ann_lsh_num_tables: int = 8
    strategy_weights: dict = field(default_factory=lambda: {
        "similarity": 0.6, "parent_child": 0.4, "hybrid": 0.5,
    })
    # per-strategy retrieval depth (advanced_search.py:53-66): each
    # strategy retrieves its own max_results FIRST, then threshold-
    # filters, then the orchestrator truncates to the caller's limit.
    # hybrid is a repo-only strategy with no reference config row; it
    # sizes its candidate pools internally (2x the caller's limit).
    strategy_max_results: dict = field(default_factory=lambda: {
        "similarity": 15, "parent_child": 8,
    })
    diversity_jaccard_cutoff: float = 0.85   # advanced_search.py:275-311
    # diversity pass: "threshold" = the reference's MMR-lite hard
    # cutoff (default, reference parity); "mmr" = full MMR reranking
    # (fusion.mmr_rerank, lam balances relevance vs redundancy)
    diversity_mode: str = "threshold"
    mmr_lambda: float = 0.7
    quality_threshold: float = 0.5           # rag_pipeline.py:49

    # token budget (reference: rag_engine.py:36-37)
    max_context_tokens: int = 128_000
    max_doc_tokens: int = 10_000
    chars_per_token: int = 4

    # feature flags (reference: config/feature_flags.py)
    enable_parent_retrieval: bool = True
    enable_hybrid_search: bool = False  # rag_config.yaml ships it off
    enable_advanced_search: bool = True

    def validate(self) -> None:
        """Constraint checks ported from rag_config.py:54-93."""
        if self.chunk_overlap >= self.chunk_size:
            raise ValueError("chunk_overlap must be < chunk_size")
        if abs(self.hybrid_vector_weight + self.hybrid_text_weight - 1.0) > 1e-9:
            raise ValueError("hybrid weights must sum to 1.0")
        if self.text_analyzer not in ("whitespace", "standard",
                                      "stemmed", "english"):
            raise ValueError(
                "text_analyzer must be whitespace|standard|stemmed|english")
        if self.hybrid_fusion not in ("weighted", "rrf"):
            raise ValueError("hybrid_fusion must be weighted|rrf")
        if self.query_expansion not in ("none", "prf"):
            raise ValueError("query_expansion must be none|prf")
        if self.diversity_mode not in ("threshold", "mmr"):
            raise ValueError("diversity_mode must be threshold|mmr")


DEFAULT_CONFIG = EngineConfig()
