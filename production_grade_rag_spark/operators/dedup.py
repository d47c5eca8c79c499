"""Deduplication suite (beyond-reference, mandated by BASELINE.json):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

The reference's only dedup is id-level ($group by _id, vector_search.py:
169-180) and similarity self-search (vector_search.py:488-533); a
100 TB training-data pipeline needs content-level dedup.  All hashes
are md5-derived so Spark (Java) and DuckDB (oracle) agree exactly.

Scale design (the part that matters at 1000 executors):
- Signatures (minhash/simhash) are computed with higher-order column
  functions over the token/shingle ARRAY — zero explode, zero shuffle,
  one narrow pass over the corpus, fully codegen'd.
- Candidate generation never compares all pairs: MinHash shuffles on
  (band_idx, band_hash) — each bucket holds only colliding docs; SimHash
  shuffles on 16-bit pigeonhole blocks (hamming<=3 pairs MUST share one
  of 4 exact blocks).  Bucket-local self-joins are the only quadratic
  step and buckets are tiny by construction.  Skewed buckets (boilerplate
  shingles) are handled by AQE skew-join or by capping bucket size.
- Verification (exact Jaccard / exact hamming) runs only on candidates.
- ``pairwise_*`` exact variants are O(n^2/2) oracles for tests — never
  the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import TOKEN_RUN_RE, pystrip

# ---------------------------------------------------------------------------
# shared hashing primitives (md5 -> 32-bit int; Spark/DuckDB-identical)
# ---------------------------------------------------------------------------


def md5_int32(col: Column) -> Column:
    """First 8 hex chars of md5 as an unsigned 32-bit value in a long.
    DuckDB twin: ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens (empty text -> empty array).

    r15: one regex pass — maximal \\S+ runs ARE the strip+split fields
    (same order, same values, [] for empty, NULL for NULL), where the
    old form ran the strip regex twice before the split."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RUN_RE), 0)


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of an ALREADY-PROJECTED tokens column.
    ``toks`` should be a plain attribute reference: Catalyst inlines
    whatever Column tree it is given into the per-element slice
    lambda, so handing this an inline ``tokens(text)`` expression
    re-evaluates the regex strip + split PER SHINGLE POSITION — the
    r15 profiling measured 8-12x on exactly that (guide §1.2 step 2:
    per-task work).  Use shingle_frame for the common
    (id, shingle-array) projection."""
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    return F.when(n >= k, F.array_distinct(shingled)) \
            .otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles joined with single spaces.  Documents
    shorter than k tokens contribute their whole text as one shingle so
    short exact-dups still collide.

    NOTE (r15): only for one-off expression contexts.  In DataFrame
    plans prefer shingle_frame / shingles_of over a projected tokens
    column — this inline form re-evaluates the token split once per
    shingle position (see shingles_of)."""
    return shingles_of(tokens(col), k)


def shingle_frame(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, __sh) shingle-array projection with the token split
    evaluated ONCE per row: tokens are materialized as a real
    projection first, so the per-position slice lambda references an
    attribute instead of re-running the regex split per shingle
    (r15 optimization; output pinned identical to the inline form by
    tests/test_dedup_sem.py::test_shingle_frame_equals_inline)."""
    cols = [F.col(c) for c in (id_col, *extra_cols)]
    return (df.select(*cols, tokens(F.col(text_col)).alias("__toks"))
            .select(*cols, shingles_of(F.col("__toks"), k).alias("__sh")))


def explode_attr(col: Column, elem_type: str = "string") -> Column:
    """``explode()`` over an already-projected (non-checkpointed) array
    attribute, wrapped in ``coalesce(col, [])``.

    Why: for a bare attribute child, InferFiltersFromGenerate adds
    ``size(col) > 0 AND isnotnull(col)`` under the Generate; predicate
    pushdown then substitutes the attribute's DEFINING EXPRESSION into
    that filter and pushes it below the projection — so the whole
    array-building tree (regex split + shingle assembly here) runs 2x
    more per row at the scan.  Measured on the sf0.1 KMV sketch: 11.0 s
    with the bare attribute vs 0.6 s wrapped (the inline-expression
    form the projection replaced was 1.0 s).  The rule skips non-cheap
    generator children, and coalesce makes the child non-attribute
    without changing a single output row: explode(null) and
    explode(array()) both emit nothing, and coalesce is identity on
    every non-null array.  Not needed above a localCheckpoint (the
    inferred filter then stays a cheap attribute predicate)."""
    return F.explode(F.coalesce(col, F.array().cast(f"array<{elem_type}>")))


def shingle_explode(df: DataFrame, text_col: str = "text", k: int = 3,
                    extra_cols: tuple[str, ...] = (),
                    out_col: str = "sh") -> DataFrame:
    """One (extra_cols..., shingle) row per distinct doc shingle —
    the F.explode(word_shingles(...)) shape every sketch/contamination
    consumer used, with the token split evaluated once per row instead
    of once per shingle position (r15; same rows, same multiplicity)."""
    cols = [F.col(c) for c in extra_cols]
    return (df.select(*cols, tokens(F.col(text_col)).alias("__toks"))
            .select(*cols, shingles_of(F.col("__toks"), k).alias("__sh"))
            .select(*cols, explode_attr(F.col("__sh")).alias(out_col)))


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def jaccard_verify(pairs: DataFrame, threshold: float,
                   a: str = "__sh_a", b: str = "__sh_b",
                   drop: tuple[str, ...] = ()) -> DataFrame:
    """The exact-Jaccard verify tail shared by every candidate-pair
    consumer: ``jaccard`` (rounded 6dp) of two DISTINCT-element
    shingle-array columns + the ``>= threshold`` filter.

    r15 (guide §1.2 step 2): two per-pair savings over the inline
    ``size(intersect)/size(union)`` form, values identical —
    - the union ARRAY is never built: for distinct-element arrays
      |A∪B| = |A|+|B| − |A∩B| (inclusion–exclusion), and the integer
      denominators being equal makes the double division — and its
      6dp round — bit-identical;
    - the intersection size is materialized once and nd_pin'd, so the
      threshold filter reads the slot instead of predicate pushdown
      re-substituting the whole set expression below the projection
      (the inline form computed intersect+union TWICE per candidate
      pair).
    Pinned equal to the inline form by tests/test_text_sem.py.
    """
    from ..functions.text import nd_pin
    jac = (F.col("__i").cast("double")
           / (F.size(a) + F.size(b) - F.col("__i")))
    return (pairs
            .withColumn("__i",
                        nd_pin(F.size(F.array_intersect(a, b))))
            .withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .drop("__i", a, b, *drop))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     normalize: bool = True) -> DataFrame:
    """Exact content dedup: group by content hash, keep min-id as the
    canonical row.  Output: one row per input id with its group key,
    the keeper id, and the group size.  One shuffle on the 128-bit hash
    (uniform — no skew by construction)."""
    key = F.lower(pystrip(F.col(text_col))) if normalize else F.col(text_col)
    hashed = df.select(F.col(id_col), F.md5(key).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("group_size"))
    return (hashed.join(groups, "content_hash")
            .select(id_col, "content_hash", "keeper_id", "group_size",
                    (F.col(id_col) != F.col("keeper_id")).alias("is_duplicate")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Universal-hash family over one md5 base hash per shingle:
#   h_s(x) = (A[s] * md5_int32(x) + B[s]) mod MINHASH_PRIME
# One md5 per shingle (not per seed x shingle): the seeds are cheap
# integer arithmetic, so the expression stays small enough for
# whole-stage codegen and the md5 work doesn't multiply by num_hashes.
# A[s] < 2^31 and base < 2^32 keep A*base + B below 2^63 (no overflow).
# The DuckDB oracle imports these exact constants.
#
# Width guidance (band-collision S-curve, P = 1 - (1 - j^r)^b with
# r = num_hashes/num_bands rows per band): the demo default 16/4
# (r=4) is coarse — its 50%-recall point sits near j≈0.66 and the
# curve is shallow, so borderline pairs are missed.  At corpus scale
# use 128 hashes / 32 bands (r=4, catches j≥0.6 aggressively, rely on
# the exact-Jaccard verify for precision) or 128/16 (r=8, 50% point
# j≈0.71 — tighter candidate volume for threshold 0.8).  The recall
# ordering is pinned by tests/test_minhash_width.py.
MINHASH_PRIME = 4294967311           # smallest prime > 2^32
MAX_MINHASH_WIDTH = 128
HASH_A = [((2 * s + 1) * 2654435761) % 2147483647
          for s in range(MAX_MINHASH_WIDTH)]
HASH_B = [(s * 2654435769 + 40503) % MINHASH_PRIME
          for s in range(MAX_MINHASH_WIDTH)]
# the overflow envelope above, checked: the min-cells compute the
# BIGINT A * __h + B with __h < 2^32, which must stay below 2^63
assert all(0 < a < 2**31 for a in HASH_A)
assert all(0 <= b < MINHASH_PRIME for b in HASH_B)
assert max(HASH_A) * 2**32 + max(HASH_B) < 2**63


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_hashes: int = 16, k: int = 3) -> DataFrame:
    """Wide MinHash signature table (id, h0..h{n-1}).

    Plan: project tokens -> explode shingle POSITIONS (an int sequence
    — the generator and its inferred non-empty filter then never
    re-evaluate string work) -> assemble each shingle from the
    materialized token array by attribute slice -> one md5 base hash
    per shingle -> single hash-aggregate computing all num_hashes
    min() columns map-side-partially.  One shuffle on id_col.  The
    explode/groupBy formulation (rather than nested higher-order
    functions) keeps every expression tree tiny — HOF signatures get
    re-inlined by Catalyst into each downstream band/join reference
    and blow up codegen.

    r15 note: positions may emit duplicate shingles where the old
    distinct-shingle explode deduplicated; min() over duplicated
    hashes is identical, and the signature table is pinned equal to
    the r14 form in tests/test_dedup_sem.py.  Short docs (< k tokens)
    keep the whole-text fallback via the -1 sentinel position.

    ``k`` is the shingle width (ADVICE r15: parameterized like every
    other shingle consumer so a repo-wide width change cannot silently
    desynchronize signatures from the verify path).
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    pos = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
           .otherwise(F.array(F.lit(-1)))
    ex = toks.select(F.col(id_col), "__toks", F.explode(pos).alias("__i"))
    shingle = F.when(
        F.col("__i") >= 0,
        F.array_join(F.slice("__toks", F.col("__i") + 1, k), " ")) \
        .otherwise(F.array_join("__toks", " "))
    h = ex.select(id_col, md5_int32(shingle).alias("__h"))
    # r16: each min-cell handed to the SQL parser as one string (the
    # g4 Gram finding — chained Column ops cost ~8 py4j round trips
    # per cell, and this helper is compiled by every LSH consumer:
    # dd_minhash_lsh, the audit stratum, the ingest delta, streaming).
    # `L` suffixes pin bigint literals, so the promote-then-multiply
    # arithmetic is the exact (lit * col + lit) % lit tree it
    # replaces (value-pinned in tests/test_dedup_sem.py::
    # test_minhash_agg_expr_parse_equals_columns).
    aggs = [
        F.expr(f"min(({HASH_A[s]}L * __h + {HASH_B[s]}L) % "
               f"{MINHASH_PRIME}L) as h{s}")
        for s in range(num_hashes)
    ]
    return h.groupBy(id_col).agg(*aggs)


def minhash_band_table(sigs: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 16, num_bands: int = 4) -> DataFrame:
    """Slim LSH band table (id, band, band_hash): band key = md5 of the
    '_'-joined signature slice.  num_bands rows per document."""
    rows = num_hashes // num_bands
    bands = []
    for b in range(num_bands):
        cols = [F.col(f"h{s}").cast("string")
                for s in range(b * rows, (b + 1) * rows)]
        bands.append(F.struct(F.lit(b).alias("band"),
                              F.md5(F.concat_ws("_", *cols)).alias("band_hash")))
    return (sigs.select(id_col, F.explode(F.array(*bands)).alias("__b"))
                .select(id_col, F.col("__b.band").alias("band"),
                        F.col("__b.band_hash").alias("band_hash")))


def recommended_bands(num_hashes: int, threshold: float = 0.8,
                      recall_min: float = 0.9) -> int:
    """The band planner's recommendation as a consumable default
    (VERDICT r14 #2 — dd_band_plan published the S-curve card but
    nothing read it): the MINIMUM divisor band count b of
    ``num_hashes`` whose analytic OR-banding recall
    1 - (1 - threshold^(num_hashes/b))^b clears ``recall_min``.
    Fewest bands = fewest band-table rows and fewest candidate
    collisions, so the returned point is the cheapest the policy
    admits — the exact row dd_band_plan flags ``recommended``
    (pinned equal in tests/test_catalog_r15.py).  Driver-side pure
    math; raises if NO divisor banding clears the policy (width too
    narrow for the asked recall — widen num_hashes)."""
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        if 1.0 - (1.0 - threshold ** r) ** b >= recall_min:
            return b
    raise ValueError(
        f"no divisor banding of num_hashes={num_hashes} reaches "
        f"analytic recall {recall_min} at threshold {threshold}")


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.8,
                        num_hashes: int = 16, num_bands: int | None = 4,
                        max_bucket: int | None = 1000,
                        min_band_overlap: int = 1) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact shingle Jaccard.

    Plan: signatures (explode + one hash-agg) -> slim band table ->
    shuffle on (band, band_hash) -> bucket-local self-join (a.id < b.id)
    -> distinct candidate pairs -> join shingle sets back for the exact
    Jaccard verify >= threshold.  Only ids and 32-byte band hashes move
    through the candidate shuffle; shingle arrays are joined in only
    for the (small) candidate set.

    ``max_bucket`` drops degenerate buckets (identical boilerplate at
    corpus scale) instead of letting one bucket go quadratic — the
    members still pair through their other bands; log-and-drop is the
    standard skew guard.

    ``min_band_overlap`` (VERDICT r11 #1): require a candidate pair to
    collide in >= that many band buckets before the exact-Jaccard
    verify runs.  At 1 (default) this is classic OR-banding — any
    shared bucket is a candidate.  At m > 1 the collision curve
    steepens from 1-(1-j^r)^b to sum_{i>=m} C(b,i) j^(ri) (1-j^r)^(b-i)
    — a pure PRECISION lever costing one count on the ALREADY-shuffled
    candidate pairs (the same aggregate that deduped them), which cuts
    verify volume superlinearly on near-clique corpora where verify
    dominates.  The recall cost is measured, not argued:
    dd_minhash_delta_pr scoreboards both operating points against the
    exact pair set.

    ``num_bands=None`` (VERDICT r14 #2) resolves through
    recommended_bands: the minimum divisor banding of ``num_hashes``
    whose ANALYTIC recall at ``threshold`` clears the 0.9 release-
    audit floor — the row dd_band_plan flags.  The explicit-knob form
    stays the default (16/4 — existing oracles pin it); the planned
    path is value-oracled by dd_minhash_planned.
    """
    if num_bands is None:
        num_bands = recommended_bands(num_hashes, threshold)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    banded = minhash_band_table(sigs, id_col, num_hashes, num_bands)
    return minhash_pairs_from_index(banded, df, text_col=text_col,
                                    id_col=id_col, threshold=threshold,
                                    max_bucket=max_bucket,
                                    min_band_overlap=min_band_overlap)


def minhash_candidates(banded: DataFrame, id_col: str = "doc_id",
                       max_bucket: int | None = 1000,
                       min_band_overlap: int = 1) -> DataFrame:
    """Candidate pairs (id_a < id_b, __n_shared) from a band table
    (id, band, band_hash): buckets over ``max_bucket`` members dropped,
    bucket-local self-join on (band, band_hash), shared-band count per
    pair, pairs sharing fewer than ``min_band_overlap`` bands dropped.
    The lazy plan minhash_pairs_from_index materializes before its
    verify."""
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "band_hash")
        banded = (banded.withColumn("__n", F.count("*").over(w))
                  .filter(F.col("__n") <= max_bucket).drop("__n"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cands = (a.join(b, ["band", "band_hash"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b")
              .groupBy("id_a", "id_b")
              .agg(F.count("*").alias("__n_shared")))
    if min_band_overlap > 1:
        cands = cands.filter(F.col("__n_shared") >= min_band_overlap)
    return cands


def minhash_pairs_from_index(banded: DataFrame, df: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             threshold: float = 0.8,
                             max_bucket: int | None = 1000,
                             min_band_overlap: int = 1) -> DataFrame:
    """Near-dup pairs from a STORED band index (id, band, band_hash)
    plus the document table for the exact-Jaccard verify — the tail of
    minhash_dedup_pairs, split out so a PERSISTED index (the
    st_minhash_ingest registry, appended per micro-batch) feeds the
    identical candidate-generation + verify plan the batch operator
    compiles.  Same skew cap, same shared-bucket precision filter;
    equality with the batch form is value-oracled (the band table is a
    pure function of document content, so registry-fed and
    freshly-computed candidates coincide)."""
    cands = minhash_candidates(banded, id_col=id_col,
                               max_bucket=max_bucket,
                               min_band_overlap=min_band_overlap)
    # r16 (VERDICT r15 #3; guide §8's "decide with small rows" rule):
    # the verify tail used to reference shingle_frame(df) TWICE (one
    # join per pair side), embedding the full text scan + tokenize +
    # shingle tree twice in the plan.  Now the (small) candidate set is
    # materialized once, the shingle frame is computed for CANDIDATE
    # documents only (broadcast semi-join — the minhash_delta_pairs
    # shape), and materialized once so both verify joins read the same
    # subtree.  At corpus scale this turns two full corpus
    # shingle passes into one candidate-sized pass.
    cands = cands.select("id_a", "id_b").localCheckpoint()
    need = (cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct())
    sh = shingle_frame(
        df.select(id_col, text_col)
          .join(F.broadcast(need), id_col, "left_semi"),
        text_col, id_col).localCheckpoint()
    joined = (cands
              .join(sh.select(F.col(id_col).alias("id_a"),
                              F.col("__sh").alias("__sh_a")), "id_a")
              .join(sh.select(F.col(id_col).alias("id_b"),
                              F.col("__sh").alias("__sh_b")), "id_b"))
    return (jaccard_verify(joined, threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_cap_report(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       num_bands: int = 4,
                       max_bucket: int = 1000) -> DataFrame:
    """Accounting for the ``max_bucket`` skew guard: one row summarizing
    what the cap would drop at this operating point — capped bucket
    count, member rows inside them, and the candidate pairs avoided
    (sum n*(n-1)/2 over capped buckets; the quadratic blowup a
    boilerplate megacluster would otherwise inject into the
    bucket-local self-join).  Same signature/band plan as
    minhash_dedup_pairs, so the report costs one extra aggregation,
    not a second pipeline."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    banded = minhash_band_table(sigs, id_col, num_hashes, num_bands)
    sizes = banded.groupBy("band", "band_hash").agg(F.count("*").alias("n"))
    capped = sizes.filter(F.col("n") > max_bucket)
    return capped.agg(
        F.coalesce(F.count("*"), F.lit(0)).alias("n_buckets_capped"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows_capped"),
        F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0))
         .cast("long").alias("n_pairs_avoided"))


def dedup_keepers(pairs: DataFrame, all_ids: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Collapse near-dup pairs to a keep/drop decision: drop any id that
    pairs with a smaller id (min-id-wins union-find approximation, one
    pass — SURVEY §7.2 phase-2 'connected-components-lite').  Exact CC
    needs iteration; min-id-per-pair is the standard single-pass
    trade-off and is deterministic."""
    losers = pairs.select(F.greatest("id_a", "id_b").alias(id_col)).distinct()
    return (all_ids.select(id_col)
            .join(losers.withColumn("__drop", F.lit(True)), id_col, "left")
            .select(id_col, F.coalesce("__drop", F.lit(False)).alias("is_near_dup")))


def connected_components(pairs: DataFrame, all_ids: DataFrame,
                         id_col: str = "doc_id",
                         max_iter: int = 8) -> DataFrame:
    """Exact near-dup groups: connected components over the pair graph
    by iterative min-label propagation (the standard large-graph
    pattern: k rounds of join+min cover components of diameter k; near-
    dup clusters are shallow, so ``max_iter`` rounds converge —
    asserted against the transitive-closure oracle in the catalog).

    Each round is one broadcast-able join + one groupBy on the id key;
    localCheckpoint every round truncates the lineage so plans stay
    flat at scale, and a changed-label probe EXITS EARLY once the
    labeling reaches its fixed point — near-dup clusters are shallow,
    so most corpora converge in 2-3 rounds and the remaining budget
    costs one limit(1) probe instead of full propagation rounds.
    Output: (id, component) with component = min id of the cluster;
    singletons keep their own id.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    labels = all_ids.select(F.col(id_col).alias("id"),
                            F.col(id_col).alias("component"))
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.dst == labels.id)
                 .select(F.col("src").alias("id"), "component"))
        new_labels = (labels.union(neigh)
                      .groupBy("id")
                      .agg(F.min("component").alias("component"))
                      .localCheckpoint())
        progressed = (new_labels.select("id",
                                        F.col("component").alias("__n"))
                      .join(labels, "id")
                      .filter(F.col("__n") != F.col("component"))
                      .limit(1).count() > 0)
        labels = new_labels
        if not progressed:
            break
    return labels.withColumnRenamed("id", id_col)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise — oracle / small-corpus path)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.5, k: int = 3) -> DataFrame:
    """Exact pairwise word-k-gram Jaccard above threshold.  O(n^2/2)
    cross join — the verification oracle for minhash, and the exact
    path for corpora small enough to broadcast one side."""
    sh = shingle_frame(df, text_col, id_col, k)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"),
                  F.size("__sh").alias("__n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"),
                  F.size("__sh").alias("__n_b"))
    # size-bound prune inside the join condition: |A∩B| <= min(|A|,|B|)
    # and |A∪B| >= max(|A|,|B|), so jaccard <= min/max — pairs failing
    # the cheap cardinality test never evaluate the set expressions.
    bound = (F.least("__n_a", "__n_b").cast("double")
             / F.greatest("__n_a", "__n_b")) >= threshold
    joined = a.join(b, (F.col("id_a") < F.col("id_b")) & bound)
    return (jaccard_verify(joined, threshold, drop=("__n_a", "__n_b"))
            .select("id_a", "id_b", "jaccard"))


def _set_key(sorted_arr: Column) -> Column:
    """Canonical key of a SORTED shingle array: md5 over the
    concatenation of each element's fixed-width md5 hex — injective on
    sets regardless of element content (a separator-join would break
    if a pathological document carried the separator byte inside a
    token)."""
    return F.md5(F.array_join(
        F.transform(sorted_arr, lambda s: F.md5(s)), ""))


def ngram_jaccard_pairs_index(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float = 0.5,
                              k: int = 3,
                              prefix_filter: bool = True) -> DataFrame:
    """Exact pairwise word-k-gram Jaccard above threshold via a shingle
    INVERTED INDEX — the same result set as ngram_jaccard_pairs (pinned
    by tests/test_catalog_r14.py and tests/test_catalog_r15.py), but
    pair enumeration is index-driven instead of a nested-loop
    theta-join (the AllPairs/PPJoin family — Bayardo et al. 2007,
    "Scaling Up All Pairs Similarity Search"; Xiao et al. 2008 PPJoin
    prefix filtering — both public).

    The default path carries two hot-shingle guards (VERDICT r14 #4 —
    plain sum-of-freq^2 enumeration is quadratic on exactly the
    boilerplate megacluster ``max_bucket`` defends MinHash against),
    while staying EXACT:

    1. IDENTICAL-SET COLLAPSE: documents with the same shingle SET
       (md5 of the sorted distinct-shingle array) collapse to one
       representative before the index is built, so a 5,000-copy
       boilerplate template enters the index ONCE with frequency 1.
       Equal-set members pair at jaccard exactly 1.0 >= any threshold,
       and a member pair across two groups has the representatives'
       jaccard (set functions see identical sets), so the result
       expands back member-for-member — the only quadratic step left
       is EMITTING the clique's own output rows, which any exact
       algorithm must produce.
    2. PREFIX FILTERING on the representative index: under the global
       (frequency asc, shingle asc) total order, only each set's first
       p = |S| - ceil(t*|S|) + 1 shingles are indexed.  Completeness
       is the standard prefix-filter theorem: two sets at jaccard >= t
       overlap in >= ceil(t*max(|A|,|B|)) elements, and if their
       prefixes were disjoint the whole intersection would fit inside
       one suffix of size < that bound — so every qualifying pair
       shares an INDEXED shingle.  Corpus-wide hot shingles sort LAST
       and drop out of every non-tiny prefix, bounding the enumeration
       at sum over shingles of (prefix-frequency)^2.

    Candidates are then verified with candidate-bounded array set-ops
    (array_intersect/array_union on the two sorted shingle arrays) —
    never a full-index rejoin.  The size-bound prune (jaccard <=
    min/max of set sizes) sits inside the candidate join.

    ``prefix_filter=False`` keeps the round-14 unguarded form (one
    equi-join + one groupBy, jaccard from the shared-shingle count) —
    still the cheapest plan on corpora KNOWN to be clique-free, e.g.
    the release-audit's bounded ~2k-doc stratum, and the reference
    form the guarded path is pinned equal to in tests.

    Requires threshold > 0: pairs sharing NO shingle have jaccard 0
    and never appear in the index join (the nested-loop form would
    emit them at threshold 0.0)."""
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs_index needs threshold > 0 "
                         "(zero-overlap pairs never meet in the index); "
                         "use ngram_jaccard_pairs for threshold 0")
    if not prefix_filter:
        sh = shingle_frame(df, text_col, id_col, k)
        ex = sh.select(F.col(id_col), F.size("__sh").alias("__n"),
                       explode_attr(F.col("__sh")).alias("__s"))
        a = ex.select(F.col(id_col).alias("id_a"),
                      F.col("__n").alias("__n_a"), "__s")
        b = ex.select(F.col(id_col).alias("id_b"),
                      F.col("__n").alias("__n_b"), "__s")
        bound = (F.least("__n_a", "__n_b").cast("double")
                 / F.greatest("__n_a", "__n_b")) >= threshold
        inter = (a.join(b, "__s")
                 .filter((F.col("id_a") < F.col("id_b")) & bound)
                 .groupBy("id_a", "id_b", "__n_a", "__n_b")
                 .agg(F.count("*").alias("__i")))
        jac = (F.col("__i").cast("double")
               / (F.col("__n_a") + F.col("__n_b") - F.col("__i"))
               .cast("double"))
        return (inter.withColumn("jaccard", F.round(jac, 6))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))

    from pyspark.sql import Window

    # 1. identical-set collapse: sorted array -> canonical key; one
    #    representative (min id) per distinct shingle set.  Arrays
    #    within a group are IDENTICAL once sorted, so F.first is
    #    value-deterministic.
    canon = (shingle_frame(df, text_col, id_col, k)
             .select(F.col(id_col), F.array_sort("__sh").alias("__sh"))
             .withColumn("__key", _set_key(F.col("__sh"))))
    # members feeds four plan references (two expansion joins + the
    # intra self-join's two sides) and reps feeds five (freq, prefix,
    # both verify sides, the key map) — materialize each once so the
    # text scan + shingle + collapse work never recomputes per
    # reference (the minhash_delta_pairs lineage discipline)
    members = canon.select(F.col(id_col).alias("__m"), "__key") \
        .localCheckpoint()
    reps = (canon.groupBy("__key")
            .agg(F.min(id_col).alias("__rid"),
                 F.first("__sh").alias("__sh"))
            .withColumn("__n", F.size("__sh"))
            .localCheckpoint())

    # 2. global frequency over REPRESENTATIVES (the clique counts once)
    #    -> per-set prefix under the (freq asc, shingle asc) order.
    #    The 1e-9 slack counters upward float error in t*|S| — it can
    #    only LENGTHEN a prefix (conservative, never incomplete).
    ex = reps.select("__rid", "__n", F.explode("__sh").alias("__s"))
    freq = ex.groupBy("__s").agg(F.count("*").alias("__f"))
    pfx_len = (F.col("__n")
               - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
               + 1)
    w = Window.partitionBy("__rid").orderBy("__f", "__s")
    pfx = (ex.join(freq, "__s")
           .withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= pfx_len)
           .select("__rid", "__n", "__s"))

    # 3. candidate representative pairs from the prefix index, with
    #    the size-bound prune inside the join
    a = pfx.select(F.col("__rid").alias("ra"), F.col("__n").alias("__n_a"),
                   "__s")
    b = pfx.select(F.col("__rid").alias("rb"), F.col("__n").alias("__n_b"),
                   "__s")
    bound = (F.least("__n_a", "__n_b").cast("double")
             / F.greatest("__n_a", "__n_b")) >= threshold
    cand = (a.join(b, "__s")
            .filter((F.col("ra") < F.col("rb")) & bound)
            .select("ra", "rb").distinct())

    # 4. candidate-bounded exact verify on the sorted shingle arrays
    rsh = reps.select("__rid", "__sh")
    rep_joined = (cand
                  .join(rsh.select(F.col("__rid").alias("ra"),
                                   F.col("__sh").alias("__sh_a")), "ra")
                  .join(rsh.select(F.col("__rid").alias("rb"),
                                   F.col("__sh").alias("__sh_b")), "rb"))
    rep_pairs = (jaccard_verify(rep_joined, threshold)
                 .select("ra", "rb", "jaccard"))

    # 5. expand back to member pairs: cross pairs inherit the
    #    representatives' jaccard (identical sets within a group);
    #    intra-group pairs are jaccard 1.0 by construction.  The
    #    expansion is OUTPUT-sized — the rows any exact algorithm must
    #    emit — not an enumeration blowup.
    rk = reps.select("__rid", "__key")
    cross = (rep_pairs
             .join(rk.select(F.col("__rid").alias("ra"),
                             F.col("__key").alias("__ka")), "ra")
             .join(rk.select(F.col("__rid").alias("rb"),
                             F.col("__key").alias("__kb")), "rb")
             .join(members.select(F.col("__key").alias("__ka"),
                                  F.col("__m").alias("__da")), "__ka")
             .join(members.select(F.col("__key").alias("__kb"),
                                  F.col("__m").alias("__db")), "__kb")
             .select(F.least("__da", "__db").alias("id_a"),
                     F.greatest("__da", "__db").alias("id_b"), "jaccard"))
    ma = members.select("__key", F.col("__m").alias("id_a"))
    mb = members.select("__key", F.col("__m").alias("id_b"))
    intra = (ma.join(mb, "__key")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.lit(1.0).alias("jaccard")))
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# SimHash (64-bit as two 32-bit words) + pigeonhole blocking
# ---------------------------------------------------------------------------

def _bit_vote(j: int):
    """Merge lambda for bit position j (closure so the lambda keeps
    exactly two parameters — PySpark derives the higher-order-function
    arity from the Python signature, so a `j=j` default would be
    misread as a third lambda variable)."""
    return lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1


def _simhash_word(hashes: Column) -> Column:
    """One 32-bit simhash word from an array of 32-bit token hashes.
    Token multiplicity counts (standard simhash weighting): bit j set
    iff sum over tokens of (2*bit_j(hash)-1) > 0.  Bit positions are
    Python literals (shiftright needs a constant), so this unrolls to
    32 static aggregate expressions over the precomputed hash array."""
    word = F.lit(0).cast("long")
    for j in range(32):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _bit_vote(j))
        word = word + F.when(bit_sum > 0, F.lit(1 << j).cast("long")) \
                       .otherwise(F.lit(0).cast("long"))
    return word


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as (sim_hi, sim_lo) longs — pure column
    expressions, no shuffle.  Identical formula in the DuckDB oracle
    (which computes it relationally: tokens x range(32) group-by)."""
    toks = tokens(F.col(text_col))
    lo_hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    hi_hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long"))
    return (df
            .withColumn("__hlo", lo_hashes)
            .withColumn("__hhi", hi_hashes)
            .select(F.col(id_col),
                    _simhash_word(F.col("__hhi")).alias("sim_hi"),
                    _simhash_word(F.col("__hlo")).alias("sim_lo")))


def simhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole blocking.

    Any two signatures within hamming distance d share at least one of
    d+1 equal blocks; with d=3 we block on 4 exact 16-bit words.  Plan:
    explode 4 block keys per doc -> shuffle on (block_idx, block_value)
    -> bucket-local self-join -> exact hamming verify <= d.  No O(n^2).
    """
    sigs = simhash(df, text_col, id_col)
    blocks = F.array(
        F.struct(F.lit(0).alias("blk"), (F.col("sim_lo") % 65536).alias("val")),
        F.struct(F.lit(1).alias("blk"),
                 F.shiftright(F.col("sim_lo"), 16).alias("val")),
        F.struct(F.lit(2).alias("blk"), (F.col("sim_hi") % 65536).alias("val")),
        F.struct(F.lit(3).alias("blk"),
                 F.shiftright(F.col("sim_hi"), 16).alias("val")))
    banded = (sigs.withColumn("__b", F.explode(blocks))
              .select(id_col, "sim_hi", "sim_lo",
                      F.col("__b.blk").alias("blk"), F.col("__b.val").alias("val")))
    a = banded.select(F.col(id_col).alias("id_a"), F.col("sim_hi").alias("hi_a"),
                      F.col("sim_lo").alias("lo_a"), "blk", "val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("sim_hi").alias("hi_b"),
                      F.col("sim_lo").alias("lo_b"), "blk", "val")
    ham = (F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
           + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))))
    return (a.join(b, ["blk", "val"])
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("hamming", ham)
             .filter(F.col("hamming") <= max_hamming)
             .select("id_a", "id_b", "hamming")
             .dropDuplicates(["id_a", "id_b"]))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def semdedup_pairs(vectors: DataFrame, n_clusters: int = 8,
                   threshold: float = 0.95,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic near-dup pairs
    with CLUSTER-scoped comparison — seeded KMeans cells
    (similarity.fit_centroids, the same offline fit the IVF family
    shares), then an EQUI-join on cell with exact cosine verification
    inside each cell only.

    Scale shape vs the exact pairwise form (embedding_near_dups): the
    quadratic term is bounded per cluster (n/k)^2 * k instead of n^2,
    and the join shuffles on the cell key — at 100 TB the cells are
    the parallel unit and a skewed cell is handled like any hot join
    key (AQE skew split).  The trade is recall: pairs straddling a
    cluster boundary are never compared — measured and gated by
    dd_semdedup_recall; precision stays 1.0 by construction (every
    emitted pair is exact-cosine-verified)."""
    from .similarity import assign_cells, fit_centroids
    from ..functions.vector import dot, norm, to_double_array

    cents = fit_centroids(vectors, n_lists=n_clusters, vec_col=vec_col)
    # hoist the double-cast and the per-row norm out of the per-cell
    # quadratic loop (the pairwise_similar idiom): one interpreted-HOF
    # dot per pair instead of three aggregates + two casts.
    # dot/(na*nb) is bit-identical to cosine() — same double ops in
    # the same order, just factored — so pairs and scores (and the
    # recall gate) are unchanged.
    cells = (assign_cells(vectors, cents, vec_col=vec_col, id_col=id_col)
             .select(F.col(id_col),
                     to_double_array(F.col(vec_col)).alias("__vd"),
                     F.col("cell"))
             .withColumn("__n", norm(F.col("__vd"))))
    a = cells.select(F.col(id_col).alias("id_a"),
                     F.col("__vd").alias("__va"),
                     F.col("__n").alias("__na"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"),
                     F.col("__vd").alias("__vb"),
                     F.col("__n").alias("__nb"), "cell")
    return (a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot(F.col("__va"), F.col("__vb"))
                        / (F.col("__na") * F.col("__nb")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos"),
                    "cell"))


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.95,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        use_lsh: bool = False) -> DataFrame:
    """Near-dups by embedding cosine.  Exact pairwise below ~10^5 rows;
    ``use_lsh=True`` switches to BucketedRandomProjectionLSH (cosine
    threshold mapped exactly to a euclidean radius on the unit sphere)
    — the 100 TB path."""
    from .similarity import lsh_similar_pairs, pairwise_similar
    if use_lsh:
        return lsh_similar_pairs(vectors, threshold, vec_col, id_col)
    return pairwise_similar(vectors, threshold, vec_col, id_col)


def minhash_delta_pairs(base: DataFrame, delta: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.8, num_hashes: int = 16,
                        num_bands: int = 4,
                        max_bucket: int | None = None,
                        base_banded: DataFrame | None = None,
                        min_band_overlap: int = 1) -> DataFrame:
    """INCREMENTAL near-dup detection: the ``delta`` batch against the
    existing ``base`` corpus plus within-delta — WITHOUT re-pairing
    base x base.  This is the production ingest shape: at 100 TB the
    base band table is the stored dedup index (ids + 32-byte band
    hashes, written once per snapshot and appended per batch), and a
    new batch costs its own signatures + two bucket-keyed equi-joins
    (delta x index, delta x delta) — never a corpus rebuild, never a
    base self-join.  Candidate semantics are EXACTLY the batch
    operator's: a (base, delta) or (delta, delta) pair is a candidate
    iff it shares a band bucket, so the result equals
    minhash_dedup_pairs restricted to pairs with >= 1 delta member
    (pinned by the dd_minhash_delta oracle).

    ``max_bucket`` is the same log-and-drop skew guard as the batch
    form, applied over the UNION of index + delta band rows (a bucket
    is capped by its TOTAL membership, exactly the batch operator's
    corpus-wide count — ADVICE r11: a per-side cap would pass a bucket
    whose combined size the batch form drops).  ``min_band_overlap``
    is the batch operator's precision lever, identically applied (a
    pair must collide in >= m buckets before verify).
    ``base_banded`` passes the STORED index directly (the steady-state
    ingest path — the base signature scan never reruns).  CONTRACT
    (ADVICE r13): a stored index must have been banded at the SAME
    (num_hashes, num_bands) operating point as this call — its band
    column in [0, num_bands) and its band_hash over num_hashes//
    num_bands signature rows — or the bucket equi-join silently
    compares mismatched keys (no aliasing, but cross-width candidates
    are meaningless); the st_minhash_ingest registry satisfies it by
    building every tranche with the same module defaults.  Measured at
    the 10x stress tier (5k new docs vs a 45k resident index,
    production width 128/32): full re-pair 39.2 s vs 19.1 s with the
    stored index — and the delta's OWN work (signatures + the two
    bucket joins) is ~7 s of that; the rest is candidate VERIFICATION,
    which that adversarial tier inflates to a 1.7M-pair short-doc
    near-clique shared by both forms (the verify reads shingles for
    candidate documents only, via the broadcast semi-join below — 7.5k
    docs there).  min_band_overlap >= 2 is the measured cure for that
    verify bill (see dd_minhash_delta_pr): on the synthetic clique the
    candidate count collapses superlinearly while true >= 0.8 pairs
    nearly all collide in every band.

    A re-ingested id present in BOTH sides never emits a self-pair
    (the delta x base join canonicalizes then drops id_a == id_b —
    ADVICE r11) and cannot double-count buckets into
    ``min_band_overlap``: a pair with one member in both sides meets
    in the SAME bucket through the cross leg (delta x base) AND the
    within leg (delta x delta), so the shared-bucket count is taken
    as the DISTINCT-band count over the unioned legs (a band-bitmask
    bit_or + bit_count — within one band a pair collides in at most
    one bucket, so distinct buckets == distinct bands), not a row
    count — a row count would halve the effective m for exactly
    those pairs (VERDICT r12 #5; pinned by
    tests/test_catalog_r13.py::test_delta_overlap_no_double_count)."""
    if num_bands > 64:
        # the distinct-band count below is a 64-bit bitmask; band
        # indices >= 64 would alias into it and silently undercount
        # min_band_overlap (the delta side bands with num_bands, and
        # the bucket equi-join means no other band value can reach
        # the aggregate)
        raise ValueError("minhash_delta_pairs: num_bands > 64 would "
                         "alias the distinct-band bitmask")
    banded_b = base_banded if base_banded is not None \
        else minhash_band_table(
        minhash_signatures(base, text_col, id_col, num_hashes),
        id_col, num_hashes, num_bands)
    banded_d = minhash_band_table(
        minhash_signatures(delta, text_col, id_col, num_hashes),
        id_col, num_hashes, num_bands)
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "band_hash")
        both = (banded_b.withColumn("__side", F.lit("b"))
                .unionByName(banded_d.withColumn("__side", F.lit("d")))
                .withColumn("__n", F.count("*").over(w))
                .filter(F.col("__n") <= max_bucket).drop("__n"))
        banded_b = both.filter(F.col("__side") == "b").drop("__side")
        banded_d = both.filter(F.col("__side") == "d").drop("__side")
    dl = banded_d.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    # delta x base: canonicalize after the join; drop the self-pair a
    # re-ingested id (present in both sides) would otherwise emit
    cross = (dl.join(banded_b.select(F.col(id_col).alias("id_b"),
                                     "band", "band_hash"),
                     ["band", "band_hash"])
             .select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b"), "band")
             .filter(F.col("id_a") != F.col("id_b")))
    # delta x delta: the batch self-join shape on the new batch only
    dr = banded_d.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    within = (dl.join(dr, ["band", "band_hash"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", "band"))
    # the candidate pair set is referenced three times below (both id
    # sides of the verify + the shingle semi-join) and its plan embeds
    # the signature builds — materialize the (small) set once so the
    # banding never recomputes per reference.  The same aggregate that
    # dedups the pairs carries the shared-bucket count; it must count
    # DISTINCT buckets, because a pair whose member was re-ingested
    # (present in base AND delta) reaches the same bucket through both
    # legs and a plain row count would double it (VERDICT r12 #5).
    # Within one band a pair collides in AT MOST one bucket (each doc
    # has exactly one band_hash per band), so distinct buckets ==
    # distinct bands — counted as bit_count(bit_or(1 << band)): one
    # ordinary two-phase aggregate over an 8-byte mask, NOT a
    # distinct-expand over the 32-char bucket hash (a countDistinct
    # form measured 2.4-3.6x slower on the adversarial skew tier, on
    # candidate volumes where the mask costs nothing).  Band indices
    # are < num_bands <= 64: the delta side bands here with num_bands,
    # the guard at the top of this function rejects wider requests,
    # and a stored base_banded must honor the same-width contract
    # documented in the docstring.
    band_mask = F.expr("shiftleft(cast(1 as bigint), cast(band as int))")
    cands = (cross.unionByName(within)
             .groupBy("id_a", "id_b")
             .agg(F.bit_count(F.bit_or(band_mask)).alias("__n_shared")))
    if min_band_overlap > 1:
        cands = cands.filter(F.col("__n_shared") >= min_band_overlap)
    cands = cands.select("id_a", "id_b").localCheckpoint()
    # exact-Jaccard verify reads shingles for CANDIDATE documents only
    # (left-semi before the shingle computation): at scale the base
    # table is read back just for the docs the index flagged.  A
    # re-ingested id exists in BOTH sides — keep exactly one text row
    # per id (the DELTA version: a re-ingest supersedes the resident
    # copy) or the verify joins fan every pair it touches out twice.
    # The dedup is an ANTI-join of the base side against the
    # (batch-sized, broadcast) delta id set — map-side, no shuffle,
    # no aggregate; a groupBy+min_by form measured 3x the whole
    # operator's wall-clock on the adversarial skew tier.
    need = (cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct())
    base_only = (base.select(id_col, text_col)
                 .join(F.broadcast(need), id_col, "left_semi")
                 .join(F.broadcast(delta.select(id_col)), id_col,
                       "left_anti"))
    sh = shingle_frame(
        delta.select(id_col, text_col)
        .join(F.broadcast(need), id_col, "left_semi")
        .unionByName(base_only),
        text_col, id_col).localCheckpoint()
    joined = (cands
              .join(sh.select(F.col(id_col).alias("id_a"),
                              F.col("__sh").alias("__sh_a")), "id_a")
              .join(sh.select(F.col(id_col).alias("id_b"),
                              F.col("__sh").alias("__sh_b")), "id_b"))
    return (jaccard_verify(joined, threshold)
            .select("id_a", "id_b", "jaccard"))
