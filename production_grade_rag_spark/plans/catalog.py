"""Query catalog: the driver contract.

Every implemented operator from SURVEY.md §2 gets a named entry here:
a Spark builder ``(spark, sf_dir) -> DataFrame`` and (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet views.  ``__spark_entry__.py`` re-exports this catalog.

Parity rules (enforced by tests/test_oracle_parity.py):
- every computed column is aliased identically on both sides;
- floats are rounded in-query on both sides (driver hashes values);
- orderings that pick rows (top-k) always carry a deterministic
  tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators import chunk_gates, chunking
from ..sources import load_table
from . import oracle_sql as O


@dataclass(frozen=True)
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    # None -> rows-only check (non-SQL op).  A zero-arg CALLABLE is a
    # LAZY oracle, resolved at oracle_sql() time: entries whose oracle
    # text is assembled from OTHER entries' oracles must not read
    # CATALOG at registration time — when a test imports a mid-chain
    # catalog module directly, that module's own registrations run
    # LAST (re-entrant partial import), so an eager cross-entry read
    # during the chain KeyErrors.
    oracle: str | Callable[[], str] | None = None
    headline: bool = False         # include in bench.py

    def oracle_text(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = QuerySpec(build=fn, oracle=oracle, headline=headline)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Relational core (SURVEY §2.3/2.4/2.5/2.6 on the TPC-H-ish tables)
# ===========================================================================

@register("q1_pricing_summary", headline=True, oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, d: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-hashagg.  Partial (map-side) agg +
    whole-stage codegen; the shipdate filter pushes to parquet."""
    li = _t(spark, d, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02")))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register("q3_top_revenue_orders", headline=True, oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > TIMESTAMP '1999-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_top_revenue_orders(spark: SparkSession, d: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k.
    customer is NOT force-broadcast: the BUILDING-segment projection is
    sf x 30k rows — it scales with the fact data, so a broadcast hint
    becomes the scale-killer at 100x.  AQE broadcasts it while it fits
    autoBroadcastJoinThreshold and shuffle-joins beyond, the same
    treatment q5 gives customer/supplier.  lineitem never shuffles
    twice.  Deterministic tiebreak on l_orderkey."""
    cust = _t(spark, d, "customer").filter(F.col("c_mktsegment") == "BUILDING") \
        .select("c_custkey")
    orders = _t(spark, d, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01")))
    li = _t(spark, d, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1999-01-01")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register("q5_nation_revenue", headline=True, oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""")
def q5_nation_revenue(spark: SparkSession, d: str) -> DataFrame:
    """TPC-H Q5 shape: star join.  Only the FIXED-size dimensions
    (region 5 rows, nation 25) are force-broadcast; customer and
    supplier scale with the fact data (sf x 150k / sf x 10k rows), so
    forcing them into a broadcast ODMs executors at 100 TB — their join
    strategy is left to Catalyst/AQE, which broadcasts while they fit
    the threshold and falls back to shuffle joins beyond it."""
    region = _t(spark, d, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    nation = _t(spark, d, "nation")
    cust = _t(spark, d, "customer")
    sup = _t(spark, d, "supplier")
    orders = _t(spark, d, "orders")
    li = _t(spark, d, "lineitem")
    dims = nation.join(F.broadcast(region),
                       nation.n_regionkey == region.r_regionkey)
    cust_n = cust.join(F.broadcast(dims),
                       cust.c_nationkey == dims.n_nationkey)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, orders.o_custkey == cust_n.c_custkey)
        .join(sup, (li.l_suppkey == sup.s_suppkey)
              & (sup.s_nationkey == cust_n.c_nationkey))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register("w1_top_orders_per_customer", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""")
def w1_top_orders_per_customer(spark: SparkSession, d: str) -> DataFrame:
    """W1: per-group top-k via row_number (vector_search.py:199-202
    generalized per-key).  One shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (_t(spark, d, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3))


@register("w4_running_customer_spend", headline=True, oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
""")
def w4_running_customer_spend(spark: SparkSession, d: str) -> DataFrame:
    """W4: prefix sum (rag_engine.py:239-257 token budget shape).
    Total order (o_orderdate, o_orderkey) makes the frame deterministic."""
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return _t(spark, d, "orders").select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"))


@register("w2_order_sequence", oracle="""
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) - 1 AS seq
FROM orders
""")
def w2_order_sequence(spark: SparkSession, d: str) -> DataFrame:
    """W2: 0-based sequence numbering per key over an explicit
    deterministic order (chunk_index assignment semantics)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, d, "orders").select(
        "o_custkey", "o_orderkey", (F.row_number().over(w) - 1).alias("seq"))


@register("u1_union_distinct", oracle="""
SELECT DISTINCT doc_id, source FROM documents WHERE lang = 'en'
UNION
SELECT DISTINCT doc_id, source FROM documents WHERE source = 'src1'
""")
def u1_union_distinct(spark: SparkSession, d: str) -> DataFrame:
    """U1/U3: unionByName + distinct (integrated_collector.py:103-116)."""
    docs = _t(spark, d, "documents").select("doc_id", "source", "lang")
    a = docs.filter(F.col("lang") == "en").select("doc_id", "source")
    b = docs.filter(F.col("source") == "src1").select("doc_id", "source")
    return a.unionByName(b).distinct()


@register("a5_corpus_stats_cube", oracle="""
SELECT source, lang, count(*) AS doc_count,
       sum(n_chars)::BIGINT AS total_chars  -- DuckDB sum->HUGEINT renders as float
FROM documents
GROUP BY CUBE (source, lang)
""")
def a5_corpus_stats_cube(spark: SparkSession, d: str) -> DataFrame:
    """A5: multi-dim corpus stats in one pass via CUBE
    (integrated_collector.py:118-140)."""
    return (_t(spark, d, "documents")
            .cube("source", "lang")
            .agg(F.count("*").alias("doc_count"),
                 F.sum("n_chars").alias("total_chars")))


@register("s11_cascading_delete", oracle="""
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE source = 'src0')
""")
def s11_cascading_delete(spark: SparkSession, d: str) -> DataFrame:
    """S11: delete-as-anti-join (document_repository.py:210-234).
    The delete set here is a full source partition — fact-scaled, not
    dimension-sized — so no broadcast hint: AQE broadcasts while it
    fits and shuffle-joins beyond (same policy as q3/q5)."""
    docs = _t(spark, d, "documents")
    delete_ids = docs.filter(F.col("source") == "src0").select("doc_id")
    kept = docs.join(delete_ids, "doc_id", "left_anti")
    return kept.select("doc_id", "source")


# ===========================================================================
# Events table: beyond-reference batch analytics (SURVEY §2.10 / §7.2 ph.5)
# ===========================================================================

@register("ev_hourly_event_counts", headline=True, oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
""")
def ev_hourly_event_counts(spark: SparkSession, d: str) -> DataFrame:
    """Tumbling-window counts (batch form of window(ts,'1 hour'));
    identical plan under Structured Streaming."""
    return (_t(spark, d, "events")
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"),
                     "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


# ===========================================================================
# Text operators on documents (SURVEY §2.2/2.7)
# ===========================================================================

@register("t1_clean_content", headline=True,
          oracle=f"SELECT doc_id, {O.clean_sql('text')} AS clean_text FROM documents")
def t1_clean_content(spark: SparkSession, d: str) -> DataFrame:
    """T1: 6 regex rewrites + strip (document_processor.py:20-33) —
    pure codegen'd column expressions."""
    return _t(spark, d, "documents").select(
        "doc_id", X.clean_text(F.col("text")).alias("clean_text"))


def _t2_oracle() -> str:
    comps = O.quality_components_sql("text")
    cols = ",\n       ".join(f"round({sql}, 6) AS {name}" for name, sql in comps.items())
    return f"SELECT doc_id,\n       {cols}\nFROM documents"


@register("t2_quality_score", headline=True, oracle=_t2_oracle())
def t2_quality_score(spark: SparkSession, d: str) -> DataFrame:
    """T2: 5-signal weighted quality score (document_processor.py:35-81),
    all column arithmetic (regexp counts, sentence split, clamp)."""
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return X.with_quality(docs).drop("text")


@register("t3_quality_filter", oracle=f"""
SELECT doc_id, round({O.quality_sql('text')}, 6) AS quality_score
FROM documents
WHERE {O.quality_sql('text')} >= 0.5
""")
def t3_quality_filter(spark: SparkSession, d: str) -> DataFrame:
    """T3: quality threshold, NULL passes (rag_pipeline.py:45-68)."""
    docs = _t(spark, d, "documents").select("doc_id", "text")
    scored = docs.withColumn("quality_score",
                             X.quality_components(F.col("text"))["quality_score"])
    return (X.quality_filter(scored, 0.5)
            .select("doc_id", F.round("quality_score", 6).alias("quality_score")))


@register("t3_quality_filter_030", oracle=f"""
SELECT doc_id, round({O.quality_sql('text')}, 6) AS quality_score
FROM documents
WHERE {O.quality_sql('text')} >= 0.3
""")
def t3_quality_filter_030(spark: SparkSession, d: str) -> DataFrame:
    """T3 at the flagship threshold 0.3 (rag_pipeline.py:45-68;
    quality_threshold in rag_config.yaml).  The 0.5 twin above is
    vacuous on synthetic testdata (every doc scores below it), so this
    entry is the one that actually exercises the filter predicate and
    the NULL-passes rule against the oracle."""
    docs = _t(spark, d, "documents").select("doc_id", "text")
    scored = docs.withColumn("quality_score",
                             X.quality_components(F.col("text"))["quality_score"])
    return (X.quality_filter(scored, 0.3)
            .select("doc_id", F.round("quality_score", 6).alias("quality_score")))


# Synthetic testdata text carries no URLs, which made the plain s4 entry
# pass vacuously (0 rows).  This twin appends a deterministic link-bearing
# suffix to every 7th document — two duplicate URLs (dedupe), a markdown
# target, and a notion.so link (exclusion) — so every branch of the
# extractor is oracle-exercised.  Same suffix expression on both sides.
_S4_SUFFIX_SQL = (
    "' see https://example.com/doc/' || doc_id || "
    "' and [ref](https://docs.example.org/p/' || (doc_id % 13) || ') again "
    "https://example.com/doc/' || doc_id || ' but not "
    "https://notion.so/internal/' || doc_id"
)


@register("s4_extract_links_seeded", oracle=f"""
SELECT doc_id, unnest({O.links_sql(f"(text || {_S4_SUFFIX_SQL})")}) AS url
FROM documents WHERE doc_id % 7 = 0
""")
def s4_extract_links_seeded(spark: SparkSession, d: str) -> DataFrame:
    """S4/F10/F11 over link-seeded text: URL regex -> dedupe ->
    notion.so exclusion all verified non-vacuously
    (notion_collector.py:340-398)."""
    docs = _t(spark, d, "documents").filter(F.col("doc_id") % 7 == 0)
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://example.com/doc/"), F.col("doc_id"),
            F.lit(" and [ref](https://docs.example.org/p/"),
            F.col("doc_id") % 13,
            F.lit(") again https://example.com/doc/"), F.col("doc_id"),
            F.lit(" but not https://notion.so/internal/"), F.col("doc_id"),
        ))
    return seeded.select(
        "doc_id", F.explode(X.extract_links(F.col("text"))).alias("url"))


@register("f3_word_count",
          oracle=f"SELECT doc_id, {O.word_count_sql('text')} AS word_count FROM documents")
def f3_word_count(spark: SparkSession, d: str) -> DataFrame:
    """F3: Python len(s.split()) parity."""
    return _t(spark, d, "documents").select(
        "doc_id", X.word_count(F.col("text")).alias("word_count"))


@register("f5_intent_classification",
          oracle=f"SELECT doc_id, {O.intent_sql('text')} AS intent FROM documents")
def f5_intent_classification(spark: SparkSession, d: str) -> DataFrame:
    """F5: keyword intent classifier (advanced_search.py:125-146)."""
    return _t(spark, d, "documents").select(
        "doc_id", X.classify_intent(F.col("text")).alias("intent"))


@register("f8_token_estimate", oracle="""
SELECT doc_id,
       (length(text) // 4)::BIGINT AS est_tokens,
       CASE WHEN length(text) > 200 THEN substr(text, 1, 200) || '...'
            ELSE text END AS preview
FROM documents
""")
def f8_token_estimate(spark: SparkSession, d: str) -> DataFrame:
    """F8/F9: token estimate len//4 + truncate-with-ellipsis
    (rag_engine.py:243,252)."""
    return _t(spark, d, "documents").select(
        "doc_id",
        X.token_estimate(F.col("text")).alias("est_tokens"),
        X.truncate_ellipsis(F.col("text"), 200).alias("preview"))


@register("s4_extract_links", oracle=f"""
SELECT doc_id, unnest({O.links_sql('text')}) AS url FROM documents
""")
def s4_extract_links(spark: SparkSession, d: str) -> DataFrame:
    """S4/F10/F11: URL extraction -> explode -> distinct-per-doc,
    notion.so excluded (notion_collector.py:340-398)."""
    return (_t(spark, d, "documents")
            .select("doc_id", F.explode(X.extract_links(F.col("text"))).alias("url")))


@register("t7_token_budget_prefix", oracle="""
WITH ranked AS (
  SELECT doc_id, (length(text) // 4)::BIGINT AS est_tokens,
         sum((length(text) // 4)::BIGINT) OVER (
           ORDER BY n_chars DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS running_tokens
  FROM documents
)
SELECT doc_id, est_tokens, running_tokens
FROM ranked WHERE running_tokens <= 5000
""")
def t7_token_budget_prefix(spark: SparkSession, d: str) -> DataFrame:
    """T7/W4 prefix-sum form of the 128k-token context budget
    (rag_engine.py:230-258).  NOTE: the reference's greedy loop skips an
    oversized doc and keeps scanning; this window form truncates at the
    first overflow — the exact greedy variant ships as
    operators.budget.greedy_token_budget (rows-only check)."""
    w = (Window.orderBy(F.desc("n_chars"), "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    docs = _t(spark, d, "documents")
    return (docs
            .select("doc_id",
                    X.token_estimate(F.col("text")).alias("est_tokens"),
                    F.col("n_chars"))
            .withColumn("running_tokens", F.sum("est_tokens").over(w))
            .filter(F.col("running_tokens") <= 5000)
            .drop("n_chars"))


@register("m1_chunk_fixed", headline=True, oracle=O.chunk_fixed_sql())
def m1_chunk_fixed(spark: SparkSession, d: str) -> DataFrame:
    """M1-lite: clean -> fixed-stride chunk -> T4 min-length filter,
    deterministic md5 ids (document_processor.py:96-123 semantics with
    the SQL-expressible splitter; recursive variant is m1_chunk_recursive)."""
    docs = _t(spark, d, "documents")
    return chunking.chunk_fixed(docs).select(
        "chunk_id", "doc_id", "content", "chunk_index",
        "start_char", "end_char", "word_count")


@register("m1_chunk_recursive", oracle=chunk_gates.M1_RECURSIVE_ORACLE)
def m1_chunk_recursive(spark: SparkSession, d: str) -> DataFrame:
    """M1: recursive character splitter (document_processor.py:96-123)
    — driver-visible as a constant-pinned invariant gate (the splitter
    itself is not SQL-expressible, so the raw rows can't be
    value-oracled; they ship as m1_chunk_recursive_rows in catalog_r7
    plus the fuzz/property tests).  The gate verifies IN the Spark
    plan: offset fidelity, size bound, per-doc monotonic spans, unique
    (doc, chunk_index), and non-whitespace coverage of every document
    — all (TRUE, 0, 0, 0, 0, 0) when the splitter is correct."""
    docs = _t(spark, d, "documents")
    return chunk_gates.m1_recursive_invariants(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.build for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle_text() for name, spec in CATALOG.items()
            if spec.oracle is not None}


# Side-effect registrations: vector/dedup/text-analysis/events entries
# live in catalog_ext to keep this file readable.  Imported at the
# bottom so `register` and `_t` exist when catalog_ext imports back.
#
# REGISTRATION ORDER IS LOAD-BEARING: the round driver's correctness
# snapshot checks exactly the FIRST 50 registered entries (verified
# r6/r7: list(queries())[:50] == its key set).  Never reorder or
# insert entries in this file / catalog_ext ahead of the existing
# ones — append new entries in the newest catalog_r* module, imported
# last below.
from . import catalog_ext  # noqa: E402,F401  (registration side effects)
from . import catalog_more  # noqa: E402,F401  (registration side effects)
from . import catalog_r6  # noqa: E402,F401  (registration side effects)
from . import catalog_r7  # noqa: E402,F401  (registration side effects)
from . import catalog_r8  # noqa: E402,F401  (registration side effects)
from . import catalog_r8b  # noqa: E402,F401  (registration side effects)
from . import catalog_r9  # noqa: E402,F401  (registration side effects)
from . import catalog_r10  # noqa: E402,F401  (registration side effects)
from . import catalog_r11  # noqa: E402,F401  (registration side effects)
from . import catalog_r12  # noqa: E402,F401  (registration side effects)
from . import catalog_r13  # noqa: E402,F401  (registration side effects)
from . import catalog_r14  # noqa: E402,F401  (registration side effects)
from . import catalog_r15  # noqa: E402,F401  (registration side effects)
