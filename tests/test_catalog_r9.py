"""Round-9 additions: approx-percentile cut, IVF bitext, adaptive
engine default, streaming SemDeDup, depth-16 BPE.

Correctness of every oracled entry is driver-checked; these tests pin
the properties the oracles cannot see — plan shapes, the approx path
really being approx (no exact percentile barrier), recall floors at
the smallest SF, and the curve's monotonicity."""

from __future__ import annotations

from pyspark.sql import functions as F
import pytest

from production_grade_rag_spark.plans.catalog import CATALOG

from conftest import SF001


def test_funnel_approx_path_has_no_exact_percentile(spark):
    # the cuts='approx' funnel must not compile the exact percentile
    # aggregate anywhere — that global barrier is exactly what the
    # knob removes (the gate entry intentionally runs BOTH)
    from production_grade_rag_spark.plans.catalog_r8 import \
        _release_funnel_frame
    plan = (_release_funnel_frame(spark, SF001, cuts="approx")
            ._jdf.queryExecution().executedPlan().toString())
    assert "percentile_approx" in plan
    assert "percentile(" not in plan


def test_ppl_approx_buckets_agree_at_sf001(spark):
    row = CATALOG["ta_perplexity_approx"].build(spark, SF001).collect()[0]
    assert row["agree_ok"]
    assert row["n_docs"] > 0


def test_funnel_approx_gate_true_at_sf001(spark):
    rows = CATALOG["cc_release_funnel_approx"].build(spark, SF001).collect()
    assert len(rows) == 6
    assert all(r["approx_ok"] for r in rows)


def test_bitext_ivf_recall_floor_at_sf001(spark):
    row = CATALOG["r9_bitext_ivf_recall"].build(spark, SF001).collect()[0]
    assert row["floor_met"]
    assert row["n_exact"] > 0


def test_engine_default_is_adaptive():
    from production_grade_rag_spark.config import EngineConfig
    c = EngineConfig()
    assert c.ann_mass_target == 0.8
    # ADVICE r9/r10: the adaptive worst case is CAPPED at 4x the probe
    # floor, now RATIO-derived at the use site (None -> 4x floor), so
    # raising the floor keeps the headroom; the default operating
    # point resolves to the same 16-of-16 ceiling as before.
    from production_grade_rag_spark.engine import resolved_probe_cap
    assert c.ann_n_probe_max is None
    assert resolved_probe_cap(c) == 4 * c.ann_n_probe == 16
    assert resolved_probe_cap(
        EngineConfig(ann_n_probe=8)) == 32            # ratio follows floor
    assert resolved_probe_cap(
        EngineConfig(ann_n_probe_max=12)) == 12       # explicit = absolute


def test_st_semdedup_stream_matches_batch(spark):
    row = CATALOG["st_semdedup"].build(spark, SF001).collect()[0]
    assert row["stream_matches_batch"]
    assert row["n_vectors"] > 0


def test_bpe_curve_is_monotone_nonincreasing(spark):
    rows = (CATALOG["t20_bpe_curve"].build(spark, SF001)
            .orderBy("n_merges").collect())
    assert [r["n_merges"] for r in rows] == [0, 4, 8, 16]
    spw = [r["symbols_per_word"] for r in rows]
    # each merge can only shorten symbol sequences
    assert all(a >= b for a, b in zip(spw, spw[1:]))
    # words never change, symbols strictly fall by merge 16
    assert len({r["n_words"] for r in rows}) == 1
    assert rows[-1]["n_symbols"] < rows[0]["n_symbols"]


def test_bpe16_first_merges_match_depth4(spark):
    # determinism: the first 4 merges of the depth-16 run are exactly
    # the depth-4 entry's merge table
    m4 = CATALOG["t20_bpe_merges"].build(spark, SF001).collect()
    m16 = (CATALOG["t20_bpe_merges16"].build(spark, SF001)
           .orderBy("merge_rank").collect())
    assert len(m16) == 16
    assert [tuple(r) for r in m4] == [tuple(r) for r in m16[:4]]


def test_epoch_allocation_budget_and_weights(spark):
    rows = CATALOG["t31_epoch_allocation"].build(spark, SF001).collect()
    assert sum(r["alloc_tokens"] for r in rows) <= 2_000_000
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3
    # sqrt-weighting upweights small domains: weight share exceeds
    # token share for the smallest source
    tot = sum(r["est_tokens"] for r in rows)
    small = min(rows, key=lambda r: r["est_tokens"])
    assert small["mix_weight"] > small["est_tokens"] / tot


def test_curriculum_positions_unique_and_interleaved(spark):
    rows = CATALOG["w12_curriculum_interleave"].build(spark, SF001).collect()
    pos = [r["curriculum_pos"] for r in rows]
    assert len(pos) == len(set(pos))
    # interleave: position mod 10 recovers the bucket
    assert all(r["curriculum_pos"] % 10 == r["bucket"] for r in rows)
    # ranks within a bucket are dense from 0
    from collections import defaultdict
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r["rank_in_bucket"])
    for ranks in by_bucket.values():
        assert sorted(ranks) == list(range(len(ranks)))


def test_neyman_allocation_budget(spark):
    rows = CATALOG["t33_neyman_alloc"].build(spark, SF001).collect()
    assert sum(r["alloc_docs"] for r in rows) <= 1000
    assert all(r["w_q"] >= 0 for r in rows)


def test_ir5_sign_counts_partition(spark):
    row = CATALOG["ir5_sign_test"].build(spark, SF001).collect()[0]
    assert (row["full_wins"] + row["dim16_wins"] + row["ties"]
            == row["n_queries"])


def test_ks_drift_bounds_and_argmax(spark):
    row = CATALOG["dq3_ks_drift"].build(spark, SF001).collect()[0]
    assert 0.0 <= row["ks_stat"] <= 1.0
    assert row["n_base"] + row["n_current"] > 0
    # D recomputed directly from the two ECDFs must match the
    # integer-max form
    rows = spark.read.parquet(f"{SF001}/documents.parquet") \
        .select("doc_id", "n_chars").collect()
    base = sorted(r["n_chars"] for r in rows if r["doc_id"] % 2 == 0)
    cur = sorted(r["n_chars"] for r in rows if r["doc_id"] % 2 == 1)
    vals = sorted(set(base) | set(cur))
    import bisect
    d = max(abs(bisect.bisect_right(base, v) / len(base)
                - bisect.bisect_right(cur, v) / len(cur)) for v in vals)
    assert abs(d - row["ks_stat"]) < 1e-5


def test_vad_segments_are_disjoint_islands(spark):
    rows = CATALOG["mm_vad_segments"].build(spark, SF001).collect()
    assert rows
    from collections import defaultdict
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for segs in by_doc.values():
        segs.sort(key=lambda r: r["seg_index"])
        # seg_index dense from 0; segments ordered and non-touching
        # (a touching/overlapping pair would have merged into one
        # island, since windows overlap by half)
        assert [r["seg_index"] for r in segs] == list(range(len(segs)))
        for a, b in zip(segs, segs[1:]):
            # islands separated by >=1 silent window: B starts at
            # k*8000 with k >= j+2, A ends by j*8000+16000
            assert a["end_sample"] <= b["start_sample"]


# --- batch: contamination / retention / MAD / theta / zipf / graph ----------

def test_contamination_flag_consistent(spark):
    rows = CATALOG["t34_ngram_contamination"].build(spark, SF001).collect()
    assert rows, "test split is never empty at sf0.001"
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
        assert r["is_contaminated"] == (r["n_contaminated"] > 0)
        assert 0.0 <= r["contam_frac"] <= 1.0


def test_retention_offset_zero_is_full(spark):
    rows = CATALOG["ev_retention_triangle"].build(spark, SF001).collect()
    by_cohort = {}
    for r in rows:
        assert r["n_active"] <= r["cohort_n"]
        assert r["week_offset"] >= 0
        by_cohort.setdefault(r["cohort_wk"], {})[r["week_offset"]] = r
    for cells in by_cohort.values():
        # every user in a cohort is by definition active at offset 0
        assert cells[0]["retention"] == 1.0
        assert cells[0]["n_active"] == cells[0]["cohort_n"]


def test_mad_flags_injected_outlier(spark):
    # algebra check on a constructed frame via the catalog entry's
    # building blocks: uniform days never flag; a 10x day does
    rows = CATALOG["ev_anomaly_mad"].build(spark, SF001).collect()
    assert rows
    for r in rows:
        assert r["mad"] >= 0.0
        # the flag definition: dev > 3 * max(mad, 0.5) in halves
        dev2 = abs(2 * r["n_events"] - int(round(r["med"] * 2)))
        mad2 = max(int(round(r["mad"] * 2)), 1)
        assert r["is_anomaly"] == (dev2 * 10 > 30 * mad2)


def test_theta_estimates_and_merge_property(spark):
    ndv = {r["source"]: r
           for r in CATALOG["a22_theta_ndv"].build(spark, SF001).collect()}
    for r in ndv.values():
        assert r["est_ndv"] == r["n_keep"] * 16
        assert r["exact_ndv"] > 0
    ops = CATALOG["a23_theta_setops"].build(spark, SF001).collect()[0]
    # union/intersection identities on the exact side
    assert (ops["exact_a"] + ops["exact_b"]
            == ops["exact_union"] + ops["exact_intersect"])
    assert ops["est_intersect"] >= 0
    assert ops["est_union"] >= ops["est_intersect"]


def test_zipf_slope_is_negative(spark):
    row = CATALOG["ta_zipf_fit"].build(spark, SF001).collect()[0]
    # rank-frequency decays by construction: slope strictly below 0
    assert row["zipf_slope"] < 0
    assert row["n_types"] > 0 and row["n_tokens"] >= row["n_types"]


def test_triangle_census_identities(spark):
    row = CATALOG["g6_triangle_census"].build(spark, SF001).collect()[0]
    # every triangle closes exactly three wedges
    assert 3 * row["n_triangles"] <= row["n_wedges"]
    assert 0.0 <= row["global_clustering"] <= 1.0
    # symmetrized 5-NN graph: at most k*n directed edges collapse to
    # at most k*n undirected ones, at least k*n/2
    from production_grade_rag_spark.plans.catalog_r8b import _LP_K
    n = row["n_nodes"]
    assert n * _LP_K / 2 <= row["n_edges"] <= n * _LP_K


def test_kendall_tau_bounds(spark):
    rows = CATALOG["ir7_kendall_tau"].build(spark, SF001).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["kendall_tau"] <= 1.0
        m = r["n_common"]
        assert r["concordant"] + r["discordant"] <= m * (m - 1) // 2


def test_ahash_pairs_symmetric_canonical(spark):
    rows = CATALOG["mm_ahash_neardup"].build(spark, SF001).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["hamming"] in (0, 1)
        assert (r["doc_a"], r["doc_b"]) not in seen
        seen.add((r["doc_a"], r["doc_b"]))


def test_compaction_bins_monotone_and_bounded(spark):
    from production_grade_rag_spark.plans.catalog_r9 import _COMPACT_TARGET
    rows = CATALOG["s33_compaction_plan"].build(spark, SF001).collect()
    cum = 0
    last_bin = 0
    for r in sorted(rows, key=lambda r: r["file_rank"]):
        assert r["bin_id"] == cum // _COMPACT_TARGET
        assert r["bin_id"] >= last_bin
        last_bin = r["bin_id"]
        cum += r["size_chars"]


# --- batch: streaming theta / k-core / span masks / burstiness / fp --------

def test_theta_stream_survivors_below_theta(spark):
    from production_grade_rag_spark.plans.catalog_r9 import _THETA
    rows = CATALOG["st_theta_ingest"].build(spark, SF001).collect()
    assert rows
    hs = [r["h"] for r in rows]
    assert all(0 <= h < _THETA for h in hs)
    assert len(set(hs)) == len(hs), "store is a SET — no dup survivors"


def test_kcore_trajectory_monotone(spark):
    rows = sorted(CATALOG["g7_kcore_peel"].build(spark, SF001).collect(),
                  key=lambda r: r["round"])
    assert rows[0]["round"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_nodes"] <= prev["n_nodes"]
        assert cur["n_edges"] <= prev["n_edges"]


def test_span_corruption_layout(spark):
    rows = CATALOG["t35_span_corruption"].build(spark, SF001).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for spans in by_doc.values():
        spans.sort(key=lambda r: r["span_index"])
        # non-overlapping, ordered, sentinel ids sequential
        for i, s in enumerate(spans):
            assert s["span_index"] == i == s["sentinel_id"]
            assert s["end_tok"] == s["start_tok"] + s["span_len"] - 1
            assert s["span_len"] >= 1
        for a, b in zip(spans, spans[1:]):
            assert a["end_tok"] < b["start_tok"]


def test_burstiness_fano_positive(spark):
    rows = CATALOG["ta_burstiness"].build(spark, SF001).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["fano"] > 0
        assert r["c_tot"] >= r["doc_freq"] >= 1


def test_audio_fingerprint_threshold(spark):
    from production_grade_rag_spark.plans.catalog_r9 import _FP_MIN_SHARED
    for r in CATALOG["mm_audio_fingerprint"].build(spark, SF001).collect():
        assert r["doc_a"] < r["doc_b"]
        assert r["n_shared"] >= _FP_MIN_SHARED


def test_dup_quality_matrix_mass(spark):
    rows = CATALOG["t36_dup_quality_matrix"].build(spark, SF001).collect()
    n = sum(r["n_docs"] for r in rows)
    docs = spark.read.parquet(f"{SF001}/documents.parquet").count()
    assert n == docs
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4


# --- batch: silhouette / tf-idf signatures / stickiness ---------------------

def test_silhouette_bounds_and_membership(spark):
    rows = CATALOG["g2_silhouette"].build(spark, SF001).collect()
    assert len(rows) >= 1
    total = sum(r["n_members"] for r in rows)
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet").count()
    assert total == emb
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def test_source_tfidf_topk_shape(spark):
    from production_grade_rag_spark.plans.catalog_r9 import _TFIDF_TOP
    rows = CATALOG["ta_source_tfidf"].build(spark, SF001).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for terms in by_src.values():
        assert len(terms) <= _TFIDF_TOP
        ranks = sorted(t["rnk"] for t in terms)
        assert ranks == list(range(1, len(terms) + 1))
        # scores are non-increasing in rank order
        scored = sorted(terms, key=lambda t: t["rnk"])
        for a, b in zip(scored, scored[1:]):
            assert a["tfidf"] >= b["tfidf"]


def test_stickiness_bounds(spark):
    rows = CATALOG["ev_stickiness"].build(spark, SF001).collect()
    assert rows
    for r in rows:
        # each active day's DAU <= WAU, so the mean ratio is in (0, 1]
        assert 0.0 < r["stickiness"] <= 1.0
        assert r["sum_dau"] <= r["n_active_days"] * r["wau"]
        assert r["n_active_days"] <= 7


# --- batch: funnel TTC / sampled join estimate ------------------------------

def test_funnel_ttc_ordering(spark):
    row = CATALOG["ev_funnel_ttc"].build(spark, SF001).collect()[0]
    assert row["n_converted"] <= row["n_sessions"]
    assert (0 <= row["min_ttc_s"] <= row["p50_ttc_s"]
            <= row["p90_ttc_s"] <= row["max_ttc_s"])


def test_sampled_join_estimate_identities(spark):
    row = CATALOG["a24_sampled_join_estimate"].build(spark, SF001) \
        .collect()[0]
    assert row["est_size"] == row["sampled_size"] * row["p_inv"]
    assert row["n_keys_sampled"] <= row["n_join_keys"]
    assert row["sampled_size"] <= row["true_size"]
    # key-correlated sampling at p=1/4 on a uniform key should land
    # within a loose factor-2 band of truth
    assert row["true_size"] * 0.5 <= row["est_size"] \
        <= row["true_size"] * 2.0


def test_engine_lsh_backend_columns_and_floor(spark):
    from production_grade_rag_spark.config import EngineConfig
    from production_grade_rag_spark.engine import SparkRagEngine
    from production_grade_rag_spark.plans.oracle_vec import QUERY_VEC
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    exact = SparkRagEngine(spark).search(
        emb, query_vector=QUERY_VEC, limit=10, id_col="vec_id")
    lsh = SparkRagEngine(spark, EngineConfig(ann_backend="lsh")).search(
        emb, query_vector=QUERY_VEC, limit=10, id_col="vec_id")
    assert sorted(lsh.columns) == sorted(exact.columns)
    e = {r["vec_id"] for r in exact.collect()}
    a = {r["vec_id"] for r in lsh.collect()}
    assert len(a & e) / len(e) >= 0.6
    gate = CATALOG["eng_lsh_recall"].build(spark, SF001).collect()[0]
    assert gate["floor_met"]


def test_attribution_removal_identities(spark):
    rows = CATALOG["ev_attribution_removal"].build(spark, SF001).collect()
    assert len(rows) == 4
    base = rows[0]["base_conv_q"]
    assert all(r["base_conv_q"] == base for r in rows)
    for r in rows:
        # removing a channel can only destroy conversion paths
        assert 0 <= r["removed_conv_q"] <= base
        assert 0.0 <= r["removal_effect"] <= 1.0
    assert abs(sum(r["attribution_share"] for r in rows) - 1.0) < 1e-4


def test_kcenter_radius_monotone(spark):
    rows = sorted(CATALOG["w13_kcenter_coreset"].build(spark, SF001)
                  .collect(), key=lambda r: r["sel_order"])
    from production_grade_rag_spark.plans.catalog_r9 import _KC_K
    assert len(rows) == _KC_K
    assert rows[0]["center_id"] == 0
    ids = [r["center_id"] for r in rows]
    assert len(set(ids)) == len(ids), "centers never repeat"
    for a, b in zip(rows, rows[1:]):
        assert b["radius_q"] <= a["radius_q"], \
            "covering radius is monotone non-increasing"


def test_seasonality_chi2_nonnegative(spark):
    row = CATALOG["dq4_seasonality_chi2"].build(spark, SF001).collect()[0]
    assert row["chi2"] >= 0.0
    assert row["dof"] == 23
    # decision consistent with the displayed statistic
    assert row["uniform_rejected"] == (row["chi2"] > 35.17) or \
        abs(row["chi2"] - 35.17) < 0.01


def test_ahash_components_consistent_with_pairs(spark):
    comp = {r["doc_id"]: r["component"]
            for r in CATALOG["mm_ahash_components"].build(spark, SF001)
            .collect()}
    pairs = CATALOG["mm_ahash_neardup"].build(spark, SF001).collect()
    for p in pairs:
        assert comp[p["doc_a"]] == comp[p["doc_b"]], \
            "paired docs must share a component"
    for doc, c in comp.items():
        assert c <= doc, "component label is the min id of the cluster"


def test_benford_shares_and_terms(spark):
    rows = CATALOG["dq5_benford"].build(spark, SF001).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_expected"] for r in rows) - 1.0) < 1e-6
    for r in rows:
        assert r["chi2_term"] >= 0.0


def test_pchart_flag_matches_band(spark):
    rows = CATALOG["dq6_error_pchart"].build(spark, SF001).collect()
    assert rows
    import math
    for r in rows:
        p, n = r["center"], r["n_events"]
        band = 3 * math.sqrt(p * (1 - p) / n)
        # the integer flag agrees with the float definition away from
        # the knife edge
        if abs(abs(r["err_share"] - p) - band) > 1e-6:
            assert r["out_of_control"] == (abs(r["err_share"] - p) > band)


def test_ab_ztest_aa_not_significant(spark):
    row = CATALOG["dq7_ab_ztest"].build(spark, SF001).collect()[0]
    assert row["n1"] + row["n2"] > 0
    assert row["z_squared"] >= 0.0
    # hash A/A split on non-experimental data: the integer decision
    # must agree with the float statistic at the 3.8416 cut
    if abs(row["z_squared"] - 3.8416) > 1e-6:
        assert row["significant_95"] == (row["z_squared"] > 3.8416)


def test_hub_attack_identities(spark):
    row = CATALOG["g8_hub_attack"].build(spark, SF001).collect()[0]
    assert row["edges_after_attack"] + row["edges_lost"] == row["n_edges"]
    assert 0.0 <= row["edge_loss_share"] <= 1.0
    from production_grade_rag_spark.plans.catalog_r8b import _LP_K
    # removing H hubs cannot erase more than H * max_degree edges
    from production_grade_rag_spark.plans.catalog_r9 import _G8_HUBS
    assert row["edges_lost"] <= _G8_HUBS * row["max_degree"]


@pytest.mark.fulltier  # driver-window tier (VERDICT r15 #1): heaviest pins, unrelated to r16 changes
def test_pmi_pair_shape_and_bounds(spark):
    from production_grade_rag_spark.plans.catalog_r9 import _PMI_TOP
    rows = CATALOG["ta_pmi_pairs"].build(spark, SF001).collect()
    assert len(rows) == _PMI_TOP * (_PMI_TOP - 1) // 2
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert r["df_ab"] <= min(r["df_a"], r["df_b"])
        if r["df_ab"] > 0:
            # PMI upper bound: ln(N / max(df_a, df_b))
            import math
            n = spark.read.parquet(f"{SF001}/documents.parquet").count()
            ub = math.log(n / max(r["df_a"], r["df_b"])) * 1e6 + 1
            assert r["pmi_q"] <= ub


def test_value_deciles_lorenz_shape(spark):
    rows = sorted(CATALOG["ev_value_deciles"].build(spark, SF001)
                  .collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # deciles ranked by value DESC: per-decile shares non-increasing,
    # cumulative share monotone to 1.0
    for a, b in zip(rows, rows[1:]):
        assert a["value_share"] >= b["value_share"] - 1e-9
        assert a["cum_share"] <= b["cum_share"] + 1e-9
    assert abs(rows[-1]["cum_share"] - 1.0) < 1e-4


def test_threshold_curve_monotone(spark):
    rows = sorted(CATALOG["dd_threshold_curve"].build(spark, SF001)
                  .collect(), key=lambda r: r["thr"])
    assert [round(r["thr"], 1) for r in rows] == [0.1, 0.3, 0.5, 0.7, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"], \
            "pairs found can only shrink as the cut rises"


def test_minhash_pr_identities(spark):
    row = CATALOG["dd_minhash_pr"].build(spark, SF001).collect()[0]
    assert row["n_true_pos"] <= row["n_candidates"]
    assert row["n_true_pos"] <= row["n_exact"]
    assert 0.0 <= row["precision"] <= 1.0
    assert 0.0 <= row["recall"] <= 1.0
    # 16 hashes / 4 bands at jaccard 0.8: collision prob per band is
    # 0.8^4 = 0.41, across 4 bands ~0.88 — recall should clear 0.5
    if row["n_exact"] >= 5:
        assert row["recall"] >= 0.5


def test_assortativity_bounds(spark):
    row = CATALOG["g9_assortativity"].build(spark, SF001).collect()[0]
    # Pearson correlation of endpoint degrees: r in [-1, 1]
    assert -1.0 <= row["assortativity"] <= 1.0
    # Cauchy-Schwarz on the reduced sums: 2M*S2 >= S1^2 always
    assert 2 * row["n_edges"] * row["s2"] >= row["s1"] * row["s1"]


def test_funnel_tenure_mass(spark):
    rows = CATALOG["ev_funnel_tenure"].build(spark, SF001).collect()
    assert rows
    total = sum(r["n_sessions"] for r in rows)
    # session count matches the TTC entry's denominator
    ttc = CATALOG["ev_funnel_ttc"].build(spark, SF001).collect()[0]
    assert total == ttc["n_sessions"]
    for r in rows:
        assert 1 <= r["session_tenure"] <= 10
        assert 0 <= r["n_converted"] <= r["n_sessions"]


def test_st_ahash_registry_matches_batch(spark):
    stream = sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in
                    CATALOG["st_ahash_ingest"].build(spark, SF001)
                    .collect())
    batch = sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in
                   CATALOG["mm_ahash_neardup"].build(spark, SF001)
                   .collect())
    assert stream == batch


def test_equidepth_buckets_cover_all_rows(spark):
    rows = CATALOG["a29_equidepth_histogram"].build(spark, SF001) \
        .collect()
    n = spark.read.parquet(f"{SF001}/orders.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n
    rows.sort(key=lambda r: r["bucket"])
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] == b["lo_cents"]
        assert a["lo_cents"] < a["hi_cents"] or a["n_rows"] == 0


def test_soft_dedup_weight_bounds(spark):
    rows = CATALOG["dd_soft_dedup"].build(spark, SF001).collect()
    assert rows
    dup = {r["doc_id"]: r["dup_frac"] for r in
           CATALOG["dd_dupgram_profile"].build(spark, SF001).collect()}
    for r in rows:
        assert 0.0 < r["sample_weight"] <= 1.0
        assert r["sum_gram_count"] >= r["n_grams"]
        # all-unique content gets full weight; any duplication
        # strictly lowers it
        if dup[r["doc_id"]] == 0.0:
            assert r["sample_weight"] == 1.0
        else:
            assert r["sample_weight"] < 1.0


def test_soft_dedup_ess_bounds(spark):
    row = CATALOG["dd_soft_dedup_ess"].build(spark, SF001).collect()[0]
    # Kish: 1 <= ESS <= N, equality at N iff all weights equal
    assert 1.0 <= row["effective_sample_size"] <= row["n_docs"]
    assert 0.0 < row["mean_weight"] <= 1.0


def test_packing_waste_curve_identities(spark):
    rows = sorted(CATALOG["t40_packing_waste_curve"].build(spark, SF001)
                  .collect(), key=lambda r: r["seq_len"])
    assert [r["seq_len"] for r in rows] == [512, 1024, 2048, 4096]
    for r in rows:
        # total capacity = tokens + padding, so waste share < 1
        assert 0.0 <= r["waste_share"] < 1.0
    # token mass is the same at every length: capacity - padding const
    masses = {r["n_sequences"] * r["seq_len"] - r["total_padding"]
              for r in rows}
    assert len(masses) == 1
    # sequence count halves (up to shard-tail rounding) as L doubles
    for a, b in zip(rows, rows[1:]):
        assert b["n_sequences"] <= a["n_sequences"]
