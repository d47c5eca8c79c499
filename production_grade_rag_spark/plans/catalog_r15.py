"""Round-15 catalog additions.

The round's theme is HARDENING the round-14 machinery against
adversarial inputs and closing the "card published, not consumed"
gaps (VERDICT r14):

- ``dd_minhash_planned``: minhash_dedup_pairs(num_bands=None) — the
  band-planner recommendation (dd_band_plan's flagged row) CONSUMED
  as a derived default, value-oracled at the resolved 16/8 point.
- ``r4_opq_gain`` (now in plans/retrieval.py): the OPQ decision card.

The hot-shingle guard itself (identical-set collapse + PPJoin prefix
filtering in operators/dedup.ngram_jaccard_pairs_index) needs no new
entry: every existing consumer (dd_ngram_jaccard, dd_keepers,
dd_components, dd_cluster_sizes, the release-audit stratum verify)
inherits it, and their nested-loop oracles are algorithm-independent.

Reference parity: the reference has neither surface (its dedup is
Mongo-side exact-id upserts; its vector index is external Atlas) —
both are SURVEY §2.12-style beyond-reference curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import oracle_vec as OV
from .registry import _t, register


@register("dd_minhash_planned",
          oracle=OV.minhash_pairs_sql(num_hashes=16, num_bands=8))
def dd_minhash_planned(spark: SparkSession, d: str) -> DataFrame:
    """MinHash near-dup pairs at the PLANNER-DERIVED banding (VERDICT
    r14 #2): ``num_bands=None`` resolves through
    operators.dedup.recommended_bands — the minimum divisor banding
    of the 16-hash width whose analytic OR-banding recall at the 0.8
    verify threshold clears the 0.9 release-audit floor.  That is
    exactly the row dd_band_plan flags ``recommended`` (16/8, analytic
    recall 0.9997 — the catalog's explicit 16/4 default reads 0.8785,
    BELOW policy; equality of the two derivations is pinned in
    tests/test_catalog_r15.py).  The oracle replicates the banding at
    the RESOLVED width, so a silent change to the resolution breaks
    this entry loudly.  dd_minhash_lsh keeps the explicit-knob 16/4
    form — existing oracles stand unchanged."""
    from ..operators import dedup
    return dedup.minhash_dedup_pairs(_t(spark, d, "documents"),
                                     num_bands=None)


