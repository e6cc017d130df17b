"""The §3.3 flagship enrichment pipeline as a registry query.

The mock fetcher is a pure md5 function of the key, so the ENTIRE pipeline —
mapInPandas enrichment, pagination, JSON shred, metric pivot, arg-max,
status cascade, sentinels — is value-checked against a closed-form DuckDB
oracle.  This is the strongest correctness statement in the repo: the mock
network included, end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..enrichment.stage import METRICS
from ..plans import enrichment_pipeline
from ..session import spread
from ..sources import load_table
from . import fragment, register

_K = "CAST(c_custkey AS VARCHAR)"
_H = f"md5(concat('loc:', {_K}))"


def _hx(h: str, py_lo: int, py_hi: int) -> str:
    """('0x'||substr(h, py_lo+1, py_hi-py_lo))::BIGINT — mirrors stage._hx."""
    return f"('0x' || substr({h}, {py_lo + 1}, {py_hi - py_lo}))::BIGINT"


def _metric_sum(m: str) -> str:
    raw = (
        f"('0x' || substr(md5(concat('{m}:', {_K}, ':', i::VARCHAR)), 1, 4))::BIGINT"
    )
    return (
        f"coalesce(list_sum(list_transform("
        f"list_filter(list_transform(range(0, 7), i -> {raw}), r -> r % 17 <> 0),"
        f" r -> r % 100)), 0)::BIGINT"
    )


_HP = f"('0x' || substr(md5(concat('post:', {_K}, ':', i::VARCHAR)), 1, 4))::BIGINT"
_N_POSTS = f"(1 + {_hx(_H, 0, 4)} % 4)"
_OFFER_IDX = f"list_filter(range(0, {_N_POSTS}), i -> {_HP} % 2 = 0)"

_ORACLE = f"""
SELECT
    c_custkey AS merchant_id,
    concat('Biz ', {_K}) AS business_name,
    round((10 + {_hx(_H, 0, 4)} % 41) / 10.0, 1) AS overall_rating,
    CAST({_hx(_H, 4, 8)} % 500 AS INTEGER) AS review_count,
    CASE WHEN {_hx(_H, 12, 16)} % 2 = 0 THEN 'Yes' ELSE 'No' END AS has_cover,
    CASE WHEN {_hx(_H, 16, 20)} % 2 = 0 THEN 'Yes' ELSE 'No' END AS has_menu,
    CASE {_hx(_H, 8, 12)} % 5
        WHEN 0 THEN 'suspended'
        WHEN 1 THEN 'processing'
        WHEN 2 THEN 'verified'
        WHEN 3 THEN 'duplicate'
        ELSE 'verification_required'
    END AS profile_status,
    {_metric_sum("CALL_CLICKS")} AS CALL_CLICKS,
    {_metric_sum("WEBSITE_CLICKS")} AS WEBSITE_CLICKS,
    {_metric_sum("DIRECTIONS")} AS DIRECTIONS,
    ({" + ".join(_metric_sum(m) for m in METRICS)})::BIGINT AS total_actions,
    CAST(len({_OFFER_IDX}) AS BIGINT) AS offer_count,
    CAST({_N_POSTS} - len({_OFFER_IDX}) AS BIGINT) AS standard_count,
    coalesce(
        strftime(list_aggregate(
            list_transform({_OFFER_IDX}, i -> DATE '2023-01-01' + ({_HP} % 365)::INTEGER),
            'max'), '%Y-%m-%d'),
        'Not_Found') AS latest_offer_ds
FROM customer
"""


@register(
    "e1_enrichment_flagship",
    oracle=_ORACLE,
    survey="S7,S8,S9,J2,A2-A8,C1,C2,F8,F13,M5 (§3.3 flagship, mock fetcher)",
)
def e1_enrichment_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full flagship pipeline on the customer key set with the mock fetcher.

    Exercises: mapInPandas enrichment with pagination, from_json shred,
    double-explode metric pivot with lossy-int skip, latest-OFFER arg-max,
    Yes/No flags, Not_Found sentinels, profile_status cascade, and the
    raising reconciliation gate.
    """
    return enrichment_pipeline(spark, sf_dir)


@register(
    "e2_enrichment_retry_audit",
    oracle=f"""
    SELECT CASE WHEN ('0x' || substr(md5(concat('fail:', {_K})), 1, 4))::BIGINT % 5 = 0
                THEN 2 ELSE 1 END AS n_attempts,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(count(concat('Biz ', {_K})) AS BIGINT) AS n_enriched
    FROM customer
    GROUP BY 1
    """,
    survey="S7-S9 extended (retry/backoff semantics: transient failures retried, accounted, never swallowed)",
)
def e2_enrichment_retry_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment under transient failure: a deterministically flaky
    fetcher (md5-selected keys fail their first attempt) runs through the
    bounded-retry wrapper, and the audit groups keys by attempts used —
    every flaky key recovers on attempt 2, every response arrives intact
    (the reference's try/except-print instead emits half-empty rows,
    main.py:475-585).  Retries happen inside the mapInPandas partition —
    no driver round-trip, no re-shuffle; a persistently failing key
    raises rather than silently degrading the output."""
    from ..enrichment.stage import enrich_with_retry

    customer = load_table(spark, sf_dir, "customer")
    keys = spread(customer.select(F.col("c_custkey").alias("merchant_id")))
    enriched = enrich_with_retry(keys, "merchant_id")
    return enriched.groupBy("n_attempts").agg(
        F.count("*").alias("n_keys"),
        F.count("resp.title").cast("bigint").alias("n_enriched"),
    )


@register(
    "e3_enrichment_request_dedup",
    oracle="""
    WITH o AS (SELECT o_custkey AS key FROM orders),
    d AS (SELECT DISTINCT key FROM o)
    SELECT CAST((SELECT count(*) FROM o) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM d) AS BIGINT) AS n_fetches,
           CAST((SELECT count(*) FROM o) - (SELECT count(*) FROM d) AS BIGINT)
               AS calls_saved,
           CAST((SELECT count(*) FROM o JOIN d USING (key)
                 WHERE concat('Biz ', CAST(key AS VARCHAR)) IS NOT NULL) AS BIGINT)
               AS n_enriched_rows
    """,
    survey="S7-S9 extended (request dedup: fetch each distinct key once, join responses back)",
)
def e3_enrichment_request_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request deduplication for keyed enrichment: the order stream
    repeats each customer key many times, but the REST document per key
    is identical — so the engine fetches each DISTINCT key exactly once
    (one shuffle to distinct), runs the mapInPandas enrichment on that
    reduced set, and joins the responses back to every requesting row.
    The reference fetched per driving ROW (`main.py:475-585`); at 100 TB
    with a 10:1 fact:key ratio that is 10× the HTTP spend and 10× the
    rate-limit pressure for bytes already in hand.  The audit reports
    rows vs fetches vs calls saved, and proves every row still received
    its response (title non-null after the join back)."""
    from ..enrichment.stage import enrich

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("merchant_id")
    )
    distinct_keys = spread(o.distinct())
    enriched = enrich(distinct_keys, "merchant_id").select(
        "merchant_id", F.col("resp.title").alias("title")
    )
    joined = o.join(enriched, "merchant_id", "left")
    return joined.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("merchant_id").alias("n_fetches"),
        (F.count("*") - F.countDistinct("merchant_id")).alias("calls_saved"),
        F.count("title").alias("n_enriched_rows"),
    )


@register(
    "e4_enrichment_cross_run_cache",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(CASE WHEN c_custkey % 2 = 0 THEN 1 END) AS BIGINT) AS n_from_cache,
           CAST(count(CASE WHEN c_custkey % 2 <> 0 THEN 1 END) AS BIGINT) AS n_fetched,
           true AS all_enriched
    FROM customer
    """,
    survey="S7-S9 extended (cross-run response cache: prior run's responses persisted, only cache misses hit the endpoint)",
)
def e4_enrichment_cross_run_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrichment cost lever ACROSS runs: yesterday's responses are a
    keyed parquet cache, today's run anti-joins to find only the MISSES,
    pays the endpoint for those, and unions cache hits back — e3's
    within-run dedup extended over time, which at 100 TB with a slowly
    changing key set turns a daily full-fetch into a delta-fetch.  The
    'prior run' here enriches the even keys and persists them (a real
    write + read through the cache store); the audit proves every key
    ends enriched and exactly the odd half generated endpoint calls."""
    import shutil
    import tempfile

    from ..enrichment.stage import enrich

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("merchant_id")
    )
    cache_dir = tempfile.mkdtemp(prefix="e4_cache_")
    shutil.rmtree(cache_dir, ignore_errors=True)
    prior = c.where(F.col("merchant_id") % 2 == 0)
    enrich(spread(prior), "merchant_id").select(
        "merchant_id", F.col("resp.title").alias("title")
    ).write.parquet(cache_dir)

    cache = spark.read.parquet(cache_dir)
    misses = c.join(cache.select("merchant_id"), "merchant_id", "left_anti")
    fresh = enrich(spread(misses), "merchant_id").select(
        "merchant_id", F.col("resp.title").alias("title")
    )
    combined = cache.withColumn("from_cache", F.lit(True)).unionByName(
        fresh.withColumn("from_cache", F.lit(False))
    )
    return combined.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("from_cache"), 1)).cast("bigint").alias("n_from_cache"),
        F.count(F.when(~F.col("from_cache"), 1)).cast("bigint").alias("n_fetched"),
        F.every(F.col("title").isNotNull()).alias("all_enriched"),
    )


# -- plan-audit fragments (VERDICT r4 #3) ------------------------------------


@fragment("e1_enrichment_flagship")
def _frag_e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the flagship's pre-gate frame: id cleanse -> mapInPandas enrichment ->
    # shred, WITHOUT the raising reconcile() count or the publish write
    from ..enrichment import enrich, mock_fetch_page
    from ..plans.pipelines import shred_enriched

    customer = load_table(spark, sf_dir, "customer")
    keys = spread(customer.select(F.col("c_custkey").alias("merchant_id")))
    return shred_enriched(enrich(keys, "merchant_id", mock_fetch_page), "merchant_id")
