"""Round-10 entries: shared kNN-graph store, KMV sketch, approx
per-domain cut, soft-dedup sampling composition."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from production_grade_rag_spark.plans.catalog import CATALOG
from production_grade_rag_spark.session import scratch

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from production_grade_rag_spark.session import get_spark
    s = get_spark("test-r10", cpus=4, shuffle_partitions=4)
    yield s


def test_knn_store_materializes_once(spark):
    from production_grade_rag_spark.operators import knn_graph as KG
    und1 = KG.knn_und(spark, SF001)
    path = scratch(KG._tag("knn_und", SF001, 5, "exact", 16, 4))
    assert os.path.exists(path)
    mtime = max(os.path.getmtime(os.path.join(path, f))
                for f in os.listdir(path))
    # second call serves from the store — no rewrite
    und2 = KG.knn_und(spark, SF001)
    mtime2 = max(os.path.getmtime(os.path.join(path, f))
                 for f in os.listdir(path))
    assert mtime2 == mtime
    assert und1.count() == und2.count()


def test_knn_store_is_per_process(spark):
    # a second process publishing the same tag must not replace this
    # process's store (its own dir is gone once it exits)
    import subprocess
    import sys
    from production_grade_rag_spark.operators import knn_graph as KG
    tag = KG._tag("knn_und", SF001, 5, "exact", 16, 4)
    n = KG.knn_und(spark, SF001).count()
    path = scratch(tag)
    before = sorted(os.listdir(path))
    other = subprocess.run(
        [sys.executable, "-c",
         "import os, sys; from production_grade_rag_spark.session "
         "import scratch; p = scratch(sys.argv[1]); "
         "os.makedirs(p); open(os.path.join(p, 'part-0.parquet'), "
         "'w').write('x'); print(p)", tag],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, check=True).stdout.strip()
    assert other != path and not os.path.exists(other)
    assert sorted(os.listdir(path)) == before
    assert KG.knn_und(spark, SF001).count() == n


def test_knn_store_edges_canonical_and_k_bounded(spark):
    from production_grade_rag_spark.operators import knn_graph as KG
    und = KG.knn_und(spark, SF001)
    assert und.filter(F.col("u") >= F.col("v")).count() == 0
    assert und.count() == und.distinct().count()
    nb = KG.knn_nb(spark, SF001)
    n_vec = nb.select("src").distinct().count()
    # directed fanout exactly k per src; undirected <= k*n
    assert nb.count() == 5 * n_vec
    assert und.count() <= 5 * n_vec


def test_knn_ivf_recall_gate_green(spark):
    row = (CATALOG["g_knn_edges_ivf_recall"].build(spark, SF001)
           .collect()[0])
    assert row["floor_met"] is True
    assert row["n_exact"] > 0


def test_graph_consumers_share_the_store(spark):
    # g6/g7/g8/g9 all read the same materialized edge list: their
    # edge counts must agree with the store's
    from production_grade_rag_spark.operators import knn_graph as KG
    n_edges = KG.knn_und(spark, SF001).count()
    census = CATALOG["g6_triangle_census"].build(spark, SF001).collect()[0]
    assert census["n_edges"] == n_edges
    kcore0 = (CATALOG["g7_kcore_peel"].build(spark, SF001)
              .filter(F.col("round") == 0).collect()[0])
    assert kcore0["n_edges"] == n_edges
    g8 = CATALOG["g8_hub_attack"].build(spark, SF001).collect()[0]
    assert g8["n_edges"] == n_edges
    g9 = CATALOG["g9_assortativity"].build(spark, SF001).collect()[0]
    assert g9["n_edges"] == n_edges


def test_w10_approx_path_has_no_exact_percentile(spark):
    # the cuts='approx' keep set must not compile the exact percentile
    # aggregate anywhere (the gate entry intentionally runs BOTH)
    from production_grade_rag_spark.plans.catalog_r10 import _pernorm_keep
    plan = (_pernorm_keep(spark, SF001, cuts="approx")
            ._jdf.queryExecution().executedPlan().toString())
    assert "percentile_approx" in plan
    assert "percentile(" not in plan


def test_w10_approx_gate_true_at_sf001(spark):
    row = (CATALOG["w10_quality_pernorm_approx"].build(spark, SF001)
           .collect()[0])
    assert row["agree_ok"]
    assert 0 < row["n_keep_exact"] <= row["n_docs"]


def test_soft_dedup_ess_beats_hard_kept_count(spark):
    # the hard-vs-soft tradeoff t41's data card quantifies: against a
    # hard rule reading the SAME duplication signal (drop every doc
    # whose soft weight falls below 0.8, i.e. mean gram frequency
    # > 1.25 — hard removal is the degenerate 0/1 weighting, and ESS
    # of 0/1 weights IS the kept count), soft dedup's Kish effective
    # sample size must be >= the hard kept count: reweighting retains
    # more effective data at the same duplication.  (Exact-hash hard
    # dedup is NOT the comparator — it sees no near-duplication, so
    # its kept count is the whole corpus.)
    ess = (CATALOG["dd_soft_dedup_ess"].build(spark, SF001)
           .collect()[0]["effective_sample_size"])
    hard_kept = (CATALOG["dd_soft_dedup"].build(spark, SF001)
                 .filter(F.col("sample_weight") >= 0.8).count())
    assert ess >= hard_kept


def test_soft_sample_downweights_duplicated_sources(spark):
    rows = CATALOG["t41_softsample_mix"].build(spark, SF001).collect()
    assert sum(r["n_in_sample"] for r in rows) == 100
    # every source's corpus mass is accounted for
    assert all(r["n_docs"] >= r["n_hard_kept"] >= 1 for r in rows)


def test_kmv_prefilter_kept_full_minimum_set(spark):
    rows = CATALOG["a30_kmv_ndv"].build(spark, SF001).collect()
    assert rows and all(r["kmv_ok"] for r in rows)
    # state bound: never more than k survivors kept per source
    assert all(r["n_keep"] <= 64 for r in rows)


def test_kmv_pure_sketch_equals_audit_form(spark):
    # the pure-sketch form (the 100 TB shape, no exact twin) keeps the
    # same k-minimum state per source as the audited catalog form
    from production_grade_rag_spark.plans.catalog_r10 import _kmv_sketch
    cols = ("source", "n_keep", "theta_k", "est_ndv")
    audit = _kmv_sketch(spark, SF001, with_exact=True).select(*cols)
    pure = _kmv_sketch(spark, SF001, with_exact=False).select(*cols)
    rows = audit.collect()
    assert rows and rows == pure.collect()


def test_kmv_merge_equals_direct_corpus_sketch(spark):
    # union-then-recap of the per-source k-sets must estimate from
    # the same theta as a direct corpus-level KMV (the semilattice
    # property the streaming twin leans on): the merged k smallest of
    # per-source k-minima ARE the corpus k smallest
    row = CATALOG["a31_kmv_merge"].build(spark, SF001).collect()[0]
    st = {r["h"] for r in
          CATALOG["st_kmv_ingest"].build(spark, SF001).collect()}
    assert row["n_keep"] == 64 == len(st)
    assert row["theta_k"] == max(st)


def test_st_kmv_store_stays_k_bounded(spark):
    # every persisted version of the streaming store holds <= k rows
    # (the bounded-state claim st_theta_ingest could not make)
    from production_grade_rag_spark.sources.tables import (
        list_versions, read_version)
    CATALOG["st_kmv_ingest"].build(spark, SF001).collect()
    store = scratch("st_kmv_store")
    for v in list_versions(spark, store):
        assert read_version(spark, store, v).count() <= 64


@pytest.mark.fulltier  # driver-window tier (VERDICT r15 #1): heaviest pins, unrelated to r16 changes
def test_bpe64_prefix_consistency_and_curve_monotone(spark):
    # greedy BPE is deterministic, so depth 16 must be exactly the
    # first 16 rows of depth 64 (the r9 depth-4-of-16 convention)
    m16 = CATALOG["t20_bpe_merges16"].build(spark, SF001).collect()
    m64 = CATALOG["t20_bpe_merges64"].build(spark, SF001).collect()
    assert [tuple(r) for r in m16] == [tuple(r) for r in m64[:16]]
    curve = sorted(CATALOG["t20_bpe_curve64"].build(spark, SF001)
                   .collect(), key=lambda r: r["n_merges"])
    spw = [r["symbols_per_word"] for r in curve]
    # compression strictly improves with merges
    assert all(a > b for a, b in zip(spw, spw[1:]))


def test_st_sessionize_checkpoint_resume_merges_boundary_sessions(spark):
    # the entry ingests two time-split tranches through a persistent
    # checkpoint: a session spanning the split must appear exactly
    # once with extents straddling the split instant — state merged
    # across drains, not re-emitted
    from production_grade_rag_spark.plans.catalog_r10 import \
        _st_sessionize_run
    batch = CATALOG["ev_sessionize"].build(spark, SF001).collect()
    # pick a split INSIDE a real multi-event session so the resume
    # boundary is guaranteed to cut one: its events land in both
    # tranches and the state store must merge them across drains
    target = max((r for r in batch if r["n_events"] >= 2),
                 key=lambda r: r["session_end"] - r["session_start"])
    split = (target["session_start"]
             + (target["session_end"] - target["session_start"]) / 2)
    out = _st_sessionize_run(spark, SF001, split_at=split).collect()
    key = lambda r: (r["user_id"], str(r["session_start"]),
                     str(r["session_end"]), r["n_events"])
    assert sorted(map(key, out)) == sorted(map(key, batch))
    # no duplicates from the restart, and the cut session came back
    # as ONE merged row with its batch extents
    assert len({key(r) for r in out}) == len(out)
    spanning = [r for r in out
                if r["session_start"] <= split <= r["session_end"]]
    assert any(key(r) == key(target) for r in spanning)


@pytest.mark.parametrize("n", [40, 20000])
def test_connected_components_labels_long_chain(spark, n):
    # a chain's diameter is n - 1: a round cap that scales with the
    # diameter (8 rounds) mislabels the 40-node chain, and the
    # 20,000-node chain needs 16 star rounds, past a 12-round cap
    from production_grade_rag_spark.operators import dedup
    pairs = spark.range(n - 1).select(F.col("id").alias("id_a"),
                                      (F.col("id") + 1).alias("id_b"))
    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    comp = dedup.connected_components(pairs, ids)
    assert comp.count() == n
    assert comp.filter(F.col("component") != 0).count() == 0


def test_star_contraction_on_path_graph(spark):
    # a path is the adversarial case for diameter-bounded rounds;
    # the star contraction must label it in its bounded round budget
    from production_grade_rag_spark.operators.dedup import \
        connected_components
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(500, 501)],
        "id_a long, id_b long")
    ids = spark.range(0, 502).withColumnRenamed("id", "vec_id")
    out = {r["vec_id"]: r["component"]
           for r in connected_components(pairs, ids,
                                         id_col="vec_id").collect()}
    assert all(out[i] == 0 for i in range(n))
    assert out[500] == out[501] == 500
    assert out[300] == 300   # singleton keeps its id


def test_ppr_seed_dominates_and_mass_bounded(spark):
    rows = CATALOG["g11_ppr_seed"].build(spark, SF001).collect()
    assert rows[0]["vec_id"] == 0          # the restart node ranks first
    assert rows[0]["ppr_scaled"] >= 150000  # at least the restart mass
    # truncating grid never creates mass: total <= 1e6
    assert sum(r["ppr_scaled"] for r in rows) <= 1_000_000


def test_cusum_flags_sustained_shift(spark):
    # synthetic: 30 flat days then 30 days at +50% — a persistent
    # shift that accumulates past h = 4K (a +25% shift integrates to
    # 900 < h = 1080 over this horizon: below the decision interval
    # BY DESIGN, the allowance is what buys the low false-alarm rate)
    import datetime as dt
    rows = []
    eid = 0
    for day in range(60):
        n = 40 if day < 30 else 60
        for i in range(n):
            rows.append((eid, 1, "view",
                         dt.datetime(2024, 1, 1) + dt.timedelta(
                             days=day, seconds=i), 1.0, "{}"))
            eid += 1
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts timestamp, value double, properties string") \
            .write.parquet(f"{tmp}/events.parquet")
        out = CATALOG["dq7_cusum_shift"].build(spark, tmp).collect()
    # self-referenced two-sided CUSUM: relative to the GLOBAL mean the
    # first regime sits low and the second high, so the DOWN side must
    # accumulate past h only in the flat regime and the UP side only
    # in the shifted one — per-side localization, not a blanket flag
    h = 4 * (sum(1 for _ in rows) // 10)   # 4 * (total_events div 10)
    up = [r["day"] for r in out if r["cusum_up"] > h]
    dn = [r["day"] for r in out if r["cusum_down"] > h]
    # up-side accumulates ONLY in the shifted regime
    assert up and all(day >= "2024-01-31" for day in up)
    # down-side arms during the flat regime (not instantly — the
    # allowance buys a few quiet days) and DECAYS after the regime
    # flips: -900/day against a 9000 peak clears within ~10 days
    assert dn and min(dn) <= "2024-01-30" and min(dn) >= "2024-01-03"
    assert max(dn) <= "2024-02-10"


def test_st_knn_edges_fanout_and_versions(spark):
    from production_grade_rag_spark.sources.tables import list_versions
    out = CATALOG["st_knn_edges"].build(spark, SF001)
    fan = out.groupBy("src").count()
    assert fan.filter(F.col("count") != 5).count() == 0
    # the store really went through multiple incremental merges
    assert len(list_versions(spark, scratch("st_knn_estore"))) >= 2


def test_order_clumping_interleave_kills_bucket_adjacency(spark):
    rows = {r["ordering"]: r for r in
            CATALOG["t43_order_clumping"].build(spark, SF001).collect()}
    cur, nat = rows["curriculum"], rows["doc_id"]
    assert cur["n_pairs"] == nat["n_pairs"] > 0
    # the audit's honest read on this corpus: quality mass is
    # concentrated in one decile, so BOTH orders clump near the
    # distribution's mixing floor (interleave <= natural, but far
    # from zero) — the card surfaces the floor, it cannot beat it
    assert cur["same_bucket_rate"] <= nat["same_bucket_rate"]
    assert cur["same_bucket_rate"] > 0.3   # the floor is real
    # sources ARE balanced, and there the interleave mixes fine
    assert cur["same_source_rate"] < 0.05


def test_kanonymity_census_consistent(spark):
    row = CATALOG["dq8_kanonymity"].build(spark, SF001).collect()[0]
    assert row["n_rows"] == 500
    assert 0 <= row["n_rows_at_risk"] <= row["n_rows"]
    assert row["n_groups_at_risk"] <= row["n_groups"]
    assert row["min_group_size"] >= 1


def test_isotropy_bounds(spark):
    row = (CATALOG["m5_embedding_isotropy"].build(spark, SF001)
           .collect()[0])
    assert row["n_pairs"] == row["n_vectors"] - 1
    assert -1.0 <= row["anisotropy"] <= 1.0
    assert 0 < row["min_norm"] <= row["mean_norm"] <= row["max_norm"]


def test_quality_length_corr_bounds(spark):
    row = (CATALOG["t44_quality_length_corr"].build(spark, SF001)
           .collect()[0])
    assert -1.0 <= row["quality_length_corr"] <= 1.0
    assert row["n_docs"] == 500
