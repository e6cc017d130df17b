"""Scale-infrastructure operators: sketch cardinality, data layout,
join pruning, span-level dedup, and zero-pass pipeline telemetry.

These extend the reference's scale story the same way the sketch/dedup
families do: each is an operation a 100 TB training-data pipeline leans on
daily, expressed as pure DataFrame aggregates with md5-derived hashing so
the DuckDB oracle reproduces every bit.

- a25: HyperLogLog distinct sketch (mergeable registers, exact-integer Z)
  — the distinct-count analog of a24's count-min grid.
- x26: Z-order layout vs date-partitioned layout — per-file min/max spans
  in BOTH dimensions, the statistic that decides multi-predicate pruning.
- x27: Bloom-filter pre-join pruning with false-positive accounting — the
  scale-out replacement for the reference's collected IN-list
  (`Gonukkad_Merchants.py:44,61`, SURVEY §2.3 J1).
- d17: duplicated-span detection (fixed-width token windows shared across
  documents — the exact-substring dedup of Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better", at window granularity).
- x28: observed metrics via ``DataFrame.observe`` — pipeline telemetry
  (row counts, sums, conditional counts) collected DURING the sink pass,
  zero extra scans, the Spark-native form of the reference's hand-rolled
  row-count reconciliation (`main.py:717-741`, A9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import dec2
from ..operators.bloom import BLOOM_M, BLOOM_SEEDS, bloom_bits, bloom_probe
from ..operators.sketches import HLL_M, HLL_SEED, hll_estimate, hll_registers
from ..operators.zorder import zvalue, zvalue_sql
from ..session import spread
from ..sources import load_table
from . import register
from .dedup import _TOKS

# ---------------------------------------------------------------- a25: HLL

_HLL_SCALE = 1 << 27  # 2^(26 wbits + 1); keeps Z exact-integer


@register(
    "a25_hll_distinct_sketch",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5(concat('{HLL_SEED}:', user_id::VARCHAR)), 1, 8))::BIGINT AS hv
        FROM events
    ),
    r AS (
        SELECT event_type, hv % {HLL_M} AS idx,
               CASE WHEN hv // {HLL_M} = 0 THEN 27
                    ELSE 27 - length(bin(hv // {HLL_M})) END AS rho
        FROM h
    ),
    regs AS (SELECT event_type, idx, max(rho) AS reg FROM r GROUP BY event_type, idx),
    agg AS (
        SELECT event_type, count(*) AS used,
               CAST(sum(1::BIGINT << (27 - reg)) AS BIGINT) AS z_used
        FROM regs GROUP BY event_type
    ),
    s AS (
        SELECT event_type, CAST({HLL_M} - used AS BIGINT) AS v_empty,
               CAST(z_used + ({HLL_M} - used) * {_HLL_SCALE} AS BIGINT) AS z_scaled
        FROM agg
    ),
    est AS (
        SELECT event_type, v_empty, z_scaled,
               round(CASE WHEN (0.709 * {HLL_M} * {HLL_M} * {_HLL_SCALE}) / z_scaled
                               <= {2.5 * HLL_M}
                          AND v_empty > 0
                          THEN {float(HLL_M)} * ln({float(HLL_M)} / v_empty)
                          ELSE (0.709 * {HLL_M} * {HLL_M} * {_HLL_SCALE}) / z_scaled
                     END, 4) AS est_distinct
        FROM s
    ),
    ex AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, x.n_exact, e.v_empty, e.z_scaled, e.est_distinct,
           round((e.est_distinct - x.n_exact) / x.n_exact, 4) AS rel_err
    FROM est e JOIN ex x USING (event_type)
    """,
    survey="A-std extended (mergeable HyperLogLog distinct sketch: 64 registers at any cardinality)",
)
def a25_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a 64-register HyperLogLog
    sketch, reported against the exact count.  The register table is ≤ 64
    rows per group REGARDLESS of user cardinality and merges cell-wise by
    max (asserted in tests) — shards sketch independently at 100 TB and
    combine at the end, where an exact countDistinct would shuffle every
    key.  The harmonic-mean denominator is kept in exact scaled integers
    (``z_scaled``, driver-hashable) so both engines agree bit-for-bit; the
    estimate itself (one float division, or one ln on the small-range
    linear-counting path) is rounded to 4 dp."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"])
    est = hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "v_empty",
        "z_scaled",
        "est_distinct",
        F.round(
            (F.col("est_distinct") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


# ------------------------------------------------------- x26: Z-order layout

_ZSQL = zvalue_sql("x", "y", 8)


@register(
    "x26_zorder_layout",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256 AS BIGINT) AS y
        FROM orders
    ),
    z AS (SELECT x, y, {_ZSQL} AS zv FROM pts),
    files AS (
        SELECT 'zorder' AS layout, zv >> 8 AS file_id,
               count(*) AS n, max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
        FROM z GROUP BY file_id
        UNION ALL
        SELECT 'by_date' AS layout, y AS file_id,
               count(*) AS n, max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
        FROM z GROUP BY y
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           round(avg(n), 4) AS avg_rows,
           round(avg(x_span), 4) AS avg_x_span,
           round(avg(y_span), 4) AS avg_y_span
    FROM files GROUP BY layout
    """,
    survey="NS-layout (Z-order/Morton clustering vs single-column partitioning: per-file min/max spans)",
)
def x26_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout comparison: bucket orders by (custkey, order day) into
    256×256 cells, then assign rows to 256 "files" two ways — Z-order
    (Morton-interleaved sort key, the Delta/Iceberg OPTIMIZE ZORDER BY
    layout) vs the reference's date-only partitioning
    (`Gonukkad_Merchants.py:79-84`).  Reported per layout: average per-file
    min/max SPAN in each dimension — the file-statistics width that decides
    whether a predicate on that column can prune files.  Date partitioning
    gives y_span = 0 but x_span ≈ full range (custkey predicates scan
    everything); Z-order bounds BOTH spans, which is the whole point for
    multi-predicate scans at 100 TB.  Pure integer bit arithmetic inside
    whole-stage codegen; one shuffle per layout on the file id."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_custkey") % 256).cast("bigint").alias("x"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            % 256
        )
        .cast("bigint")
        .alias("y"),
    )
    z = pts.select("x", "y", zvalue(F.col("x"), F.col("y"), 8).alias("zv"))

    def layout(df: DataFrame, name: str, file_id: Column) -> DataFrame:
        return (
            df.groupBy(file_id.alias("file_id"))
            .agg(
                F.count("*").alias("n"),
                (F.max("x") - F.min("x")).alias("x_span"),
                (F.max("y") - F.min("y")).alias("y_span"),
            )
            .select(F.lit(name).alias("layout"), "n", "x_span", "y_span")
        )

    files = layout(z, "zorder", F.shiftright(F.col("zv"), 8)).unionByName(
        layout(z, "by_date", F.col("y"))
    )
    return files.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        F.round(F.avg("n"), 4).alias("avg_rows"),
        F.round(F.avg("x_span"), 4).alias("avg_x_span"),
        F.round(F.avg("y_span"), 4).alias("avg_y_span"),
    )


# --------------------------------------------------- x27: Bloom pre-join

_SEEDS_SQL = "SELECT unnest([" + ", ".join(str(s) for s in BLOOM_SEEDS) + "]) AS s"


@register(
    "x27_bloom_prejoin",
    oracle=f"""
    WITH k AS (SELECT DISTINCT o_custkey AS key FROM orders),
    bits AS (
        SELECT DISTINCT
               ('0x' || substr(md5(concat(s.s::VARCHAR, ':', k.key::VARCHAR)), 1, 8))::BIGINT
                   % {BLOOM_M} AS bit
        FROM k CROSS JOIN ({_SEEDS_SQL}) s
    ),
    cells AS (
        SELECT c_custkey,
               ('0x' || substr(md5(concat(s.s::VARCHAR, ':', c_custkey::VARCHAR)), 1, 8))::BIGINT
                   % {BLOOM_M} AS bit
        FROM customer CROSS JOIN ({_SEEDS_SQL}) s
    ),
    probe AS (
        SELECT c_custkey, count(b.bit) = {len(BLOOM_SEEDS)} AS pass
        FROM cells LEFT JOIN bits b USING (bit)
        GROUP BY c_custkey
    ),
    m AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
           CAST(count(CASE WHEN p.pass THEN 1 END) AS BIGINT) AS n_bloom_pass,
           CAST(count(m.c_custkey) AS BIGINT) AS n_members,
           CAST(count(CASE WHEN p.pass AND m.c_custkey IS NULL THEN 1 END) AS BIGINT)
               AS n_false_pos,
           CAST(count(CASE WHEN NOT p.pass AND m.c_custkey IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_false_neg
    FROM probe p LEFT JOIN m USING (c_custkey)
    """,
    survey="NS-prune (Bloom-filter pre-join pruning with FP accounting — scale-out J1 IN-list)",
)
def x27_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning: build an 8 Ki-bit / 3-hash filter
    over orders' custkeys (≤ 8192 rows of distinct bit positions, a few
    KiB broadcast at ANY build cardinality), probe every customer, and
    account the outcome against the exact semi-join: passes, true members,
    false positives, and false negatives (provably zero — the Bloom
    guarantee, also asserted in tests).  This is the explicit engine-level
    form of the runtime bloom pruning AQE applies in x19, and the scale-out
    replacement for the reference's driver-collected IN-list
    (`Gonukkad_Merchants.py:44,61`): the filter ships to the probe side in
    O(m) bytes instead of O(keys) SQL text."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    bits = bloom_bits(o, "o_custkey")
    probe = bloom_probe(c.select("c_custkey"), bits, "c_custkey")
    members = (
        o.select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    acc = probe.join(members, "c_custkey", "left")
    return acc.agg(
        F.count("*").alias("n_probe_keys"),
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_bloom_pass"),
        F.count("_m").alias("n_members"),
        F.count(F.when(F.col("bloom_pass") & F.col("_m").isNull(), 1)).alias(
            "n_false_pos"
        ),
        F.count(
            F.when(~F.col("bloom_pass") & F.col("_m").isNotNull(), 1)
        ).alias("n_false_neg"),
    )


# --------------------------------------------- d17: duplicated token spans

_SPAN_W = 8


@register(
    "d17_duplicate_spans",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (
        SELECT doc_id, md5(array_to_string(toks[i:i+{_SPAN_W - 1}], ' ')) AS wh
        FROM n, LATERAL (
            SELECT unnest(range(1, len(toks) - {_SPAN_W} + 2)) AS i
        )
        WHERE len(toks) >= {_SPAN_W}
    ),
    d2 AS (SELECT wh AS dwh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) >= 2)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(d2.dwh) AS BIGINT) AS n_dup_windows,
           round(count(d2.dwh)::DOUBLE / count(*), 6) AS dup_frac
    FROM w LEFT JOIN d2 ON w.wh = d2.dwh
    GROUP BY w.doc_id
    """,
    survey="NS-dedup (exact duplicated-span detection: fixed-width token windows shared across docs)",
)
def d17_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2022): slide an 8-token window
    over every document, hash each window (md5 — fixed-width keys), and
    mark windows whose hash occurs in ≥ 2 distinct documents; report each
    document's duplicated-window fraction — the signal used to CUT
    duplicated spans out of training text rather than dropping whole
    near-dup documents (d8's granularity).  Scale shape: one explode
    (|tokens| windows), one hash aggregate on the window hash with
    map-side combine, and a key-equality join back — the suffix-array
    construction of the paper replaced by a shuffle-friendly rolling
    window, no driver state."""
    d = load_table(spark, sf_dir, "documents")
    from ..operators import dedup as DD

    toks = d.select("doc_id", DD.tokens("text").alias("t")).where(
        F.size("t") >= _SPAN_W
    )
    # spread (round 11): the window pass is one md5 per token and the local
    # single-row-group scan is unsplittable — d17's 8→32-core scaling ratio
    # was 0.98 in the round-10 bench because the whole explode+hash stage
    # ran on one core.  The spread is unconditional, like every registry
    # spread; skipping it for already-wide scans would change plans.
    toks = spread(toks)
    win = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_W} + 1),"
                f" i -> md5(concat_ws(' ', slice(t, i, {_SPAN_W}))))"
            )
        ).alias("wh"),
    )
    # Round 10 restructure: the old shape referenced the |tokens|-row
    # explode+md5 subtree TWICE (once under the distinct-count aggregate,
    # once as the join probe) and paid a countDistinct Expand.  Collapsing
    # to per-(doc, window) occurrence counts first computes the explode
    # ONCE (the duplicated aggregate subtree reuses the same exchange),
    # turns the distinct-doc count into a plain count over `occ`, and
    # joins back on the already-aggregated (small) relation.  Window
    # multiplicity is preserved via n_occ, so every output value is
    # unchanged.  nd is content-scaled — pin shuffle_hash so it never
    # rides a static-estimate broadcast (the t14 lesson).
    occ = win.groupBy("doc_id", "wh").agg(F.count("*").alias("n_occ"))
    nd = occ.groupBy("wh").agg(F.count("*").alias("nd"))
    nw = F.sum("n_occ")
    ndw = F.sum(
        F.when(F.col("nd") >= 2, F.col("n_occ")).otherwise(
            F.lit(0).cast("bigint")
        )
    )
    return (
        occ.join(nd.hint("shuffle_hash"), "wh")
        .groupBy("doc_id")
        .agg(
            nw.alias("n_windows"),
            ndw.alias("n_dup_windows"),
            F.round(ndw.cast("double") / nw, 6).alias("dup_frac"),
        )
    )


# ------------------------------------------- x28: observed pipeline metrics


@register(
    "x28_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
           CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_returned,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
               AS n_discounted
    FROM lineitem WHERE l_quantity < 30
    """,
    survey="A9 extended (zero-pass pipeline telemetry via DataFrame.observe — Spark-native QA gate)",
)
def x28_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline telemetry collected DURING the sink pass with
    ``DataFrame.observe``: row count, exact-decimal quantity sum, returned-
    line count, and a discount-threshold count ride along as
    accumulator-style metrics while the filtered lineitem stream is written
    (noop sink here; any sink at 100 TB).  ZERO extra scans — the
    Spark-native upgrade of the reference's reconciliation gate
    (`main.py:717-741`), which re-read both CSVs with pandas to count rows.
    The observation result is a plain dict on the driver; it is returned
    here as a 1-row DataFrame so the oracle can verify every metric."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    stream = li.where(F.col("l_quantity") < 30).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec2("l_quantity")).alias("qty_sum"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    stream.write.format("noop").mode("overwrite").save()
    vals = obs.get
    # SUM over zero rows observes as None — an empty ingest day is a valid
    # telemetry reading, not a crash.
    return spark.createDataFrame(
        [
            (
                int(vals["n_rows"]),
                float(vals["qty_sum"] if vals["qty_sum"] is not None else 0.0),
                int(vals["n_returned"]),
                int(vals["n_discounted"]),
            )
        ],
        "n_rows bigint, qty_sum double, n_returned bigint, n_discounted bigint",
    )


# ------------------------------------------- x31: order-independent fingerprint


@register(
    "x31_table_fingerprint",
    oracle="""
    WITH c AS (
        SELECT ('0x' || substr(md5(concat('5:', concat_ws('|',
                   c_custkey::VARCHAR, c_name,
                   c_nationkey::VARCHAR,
                   CAST(c_acctbal AS DECIMAL(18,2))::VARCHAR,
                   c_mktsegment))), 1, 8))::BIGINT AS h
        FROM customer
    ),
    o AS (
        SELECT ('0x' || substr(md5(concat('5:', concat_ws('|',
                   o_orderkey::VARCHAR, o_custkey::VARCHAR, o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(18,2))::VARCHAR,
                   CAST(o_orderdate AS DATE)::VARCHAR))), 1, 8))::BIGINT AS h
        FROM orders
    )
    SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS fingerprint
    FROM c
    UNION ALL
    SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS fingerprint
    FROM o
    """,
    survey="A9 extended (order-independent table fingerprint: migration/copy verification without a sort)",
)
def x31_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint per table: md5 each row's
    canonical projection (decimals pinned to 2 dp, dates to ISO — the
    cross-engine stable forms), SUM the 32-bit hashes.  Sum is commutative
    and associative, so the fingerprint is identical under ANY partitioning,
    row order, or engine — which is exactly what lets you verify a 100 TB
    copy/migration (the reference's whole job: MSSQL → CSV → GCS → BigQuery)
    with one cheap scan per side and NO global sort.  The reference's only
    integrity check was a row COUNT (`main.py:717-741`); a sum-of-hashes
    catches value corruption, truncation, and duplicate-substitution that
    counts cannot.  Map-side partial sums make the whole check one
    scan + one scalar per table."""
    from ..operators.dedup import h32

    def fp(df: DataFrame, name: str, canon) -> DataFrame:
        return df.select(
            h32(canon, 5).alias("h")
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum("h").cast("bigint").alias("fingerprint"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "fingerprint")

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c_canon = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        dec2("c_acctbal").cast("string"),
        F.col("c_mktsegment"),
    )
    o_canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        dec2("o_totalprice").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return fp(c, "customer", c_canon).unionByName(fp(o, "orders", o_canon))


# -------------------------------------- x32: referential pseudonymization


@register(
    "x32_pseudonymized_join",
    oracle="""
    WITH c AS (
        SELECT md5(concat('pii1:', c_custkey::VARCHAR)) AS cust_token, c_mktsegment
        FROM customer
    ),
    o AS (
        SELECT md5(concat('pii1:', o_custkey::VARCHAR)) AS cust_token,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT c.cust_token) AS BIGINT) AS n_customers,
           CAST(sum(o.price) AS DOUBLE) AS revenue
    FROM c JOIN o USING (cust_token)
    GROUP BY c.c_mktsegment
    """,
    survey="NS-privacy (deterministic pseudonymization preserving referential integrity across tables)",
)
def x32_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving analytics: replace the customer key with a
    keyed deterministic token (md5 with a secret prefix — HMAC in
    production) in BOTH tables, then run the join/aggregation entirely in
    token space.  Determinism preserves referential integrity (every
    order still finds its customer; distinct-counts survive), while raw
    ids never appear in the analytical zone — the t9 PII discipline
    applied to structured keys.  The join plan is identical to the
    raw-key join (hash partition on the token); tokenization is one md5
    per row inside codegen, so the privacy boundary costs nothing at
    100 TB."""
    c = load_table(spark, sf_dir, "customer").select(
        F.md5(F.concat(F.lit("pii1:"), F.col("c_custkey").cast("string"))).alias(
            "cust_token"
        ),
        "c_mktsegment",
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.md5(F.concat(F.lit("pii1:"), F.col("o_custkey").cast("string"))).alias(
            "cust_token"
        ),
        dec2("o_totalprice").alias("price"),
    )
    return (
        c.join(o, "cust_token")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("cust_token").alias("n_customers"),
            F.sum("price").cast("double").alias("revenue"),
        )
    )


# ------------------------------------------------ x34: k-anonymity audit


@register(
    "x34_k_anonymity_audit",
    oracle="""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS grp
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN grp < 5 THEN 1 END) AS BIGINT) AS n_small_classes,
           CAST(sum(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT) AS n_risky_rows,
           CAST(min(grp) AS BIGINT) AS k_anonymity
    FROM q
    """,
    survey="NS-privacy (k-anonymity audit: quasi-identifier equivalence classes below threshold)",
)
def x34_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit: group customers by their
    quasi-identifier combination (nation, segment, coarse balance band)
    and report how many equivalence classes fall below k=5 — rows in
    such classes are re-identifiable by linking external data even after
    direct identifiers are tokenized (x32's step).  The dataset's
    k-anonymity IS the minimum class size.  This is the release gate a
    privacy review runs before publishing an analytical extract; one
    hash aggregate over the quasi-identifiers, O(classes) output at any
    row count."""
    c = load_table(spark, sf_dir, "customer")
    q = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").alias("grp"))
    return q.agg(
        F.count("*").alias("n_classes"),
        F.count(F.when(F.col("grp") < 5, 1)).alias("n_small_classes"),
        F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.min("grp").cast("bigint").alias("k_anonymity"),
    )


# ------------------------------------------------ x35: geo radius join

_GEO_PT = """
        SELECT c_custkey AS id,
               (('0x' || substr(md5(concat('lat:', c_custkey::VARCHAR)), 1, 8))::BIGINT % 12000) / 100.0 - 60.0 AS lat,
               (('0x' || substr(md5(concat('lon:', c_custkey::VARCHAR)), 1, 8))::BIGINT % 36000) / 100.0 - 180.0 AS lon
        FROM customer
"""

_HAV = """2.0 * 6371.0088 * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2), 2)))"""


@register(
    "x35_geo_radius_join",
    # The oracle is grid-blocked like the engine (3x3 neighbor cells with
    # the modular longitude ring), NOT the naive quadratic self-join: at
    # the 10x probe dir the quadratic form costs ~33 min of DuckDB time
    # (22.5e9 haversine evaluations) while the engine needs 8 s, and at
    # 100x it is infeasible — the cell cover is what makes a full-registry
    # correctness sweep at volume possible (VERDICT r5 #1).  The cover's
    # completeness (one 1-deg x 2-deg cell bounds 50 km in both axes at
    # |lat| <= 60, antimeridian wrap included) is independently pinned by
    # tests/test_operators.py's brute-force-vs-banded geo test, so the
    # oracle still verifies values, not just the engine's own candidates.
    oracle=f"""
    WITH pts AS ({_GEO_PT}),
    a AS (
        SELECT id, lat, lon,
               CAST(floor(lat) AS BIGINT) + di.d AS latc,
               ((CAST(floor(lon / 2) AS BIGINT) + dj.d) % 180 + 180) % 180 AS lonc
        FROM pts, (VALUES (-1), (0), (1)) di(d), (VALUES (-1), (0), (1)) dj(d)
    ),
    b AS (
        SELECT id, lat, lon,
               CAST(floor(lat) AS BIGINT) AS latc,
               (CAST(floor(lon / 2) AS BIGINT) % 180 + 180) % 180 AS lonc
        FROM pts
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round({_HAV}, 3) AS dist_km
    FROM a JOIN b ON a.latc = b.latc AND a.lonc = b.lonc AND a.id < b.id
    WHERE round({_HAV}, 3) <= 50.0
    """,
    survey="NS-geo (radius self-join via lat/lon grid bucketing — haversine without a cartesian plan)",
)
def x35_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial radius join: customer pairs within 50 km, with
    deterministic synthetic coordinates (latitude capped to ±60° so one
    1°×2° grid cell bounds the radius in both axes; longitude cells form
    a modular ring so antimeridian neighbors still meet).  The engine plan is
    the 2-D form of the band join: bucket every point into its grid
    cell, explode one side to the 3×3 neighbor cells, hash-join on the
    cell key, and apply exact haversine only to co-cell candidates —
    |candidate| ≈ density × 9 cells instead of |P|² (the oracle IS the
    quadratic join; at 100 TB only the bucketed form exists).  Distances
    round to 3 dp (meter precision) on both sides."""
    c = load_table(spark, sf_dir, "customer")

    def hx(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((hx("lat:") % 12000) / 100.0 - 60.0).alias("lat"),
        ((hx("lon:") % 36000) / 100.0 - 180.0).alias("lon"),
    )
    a = pts.select(
        F.col("id").alias("id_a"), F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a")
    )
    b = pts.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b")
    )
    # 3x3 neighbor cells on the a-side; exact cell on the b-side
    # longitude cells wrap at the antimeridian (179.9E and 179.9W are
    # neighbors on the sphere, exactly as haversine sees them) — cell ids
    # are taken modulo the 180-cell ring on BOTH sides of the join.
    cells_a = F.explode(
        F.array(
            *[
                F.struct(
                    (F.floor(F.col("lat_a")) + di).alias("latc"),
                    F.pmod(F.floor(F.col("lon_a") / 2) + dj, F.lit(180)).alias(
                        "lonc"
                    ),
                )
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
            ]
        )
    )
    ae = a.select("*", cells_a.alias("cell")).select(
        "id_a", "lat_a", "lon_a", F.col("cell.latc").alias("latc"), F.col("cell.lonc").alias("lonc")
    )
    be = b.select(
        "*",
        F.floor(F.col("lat_b")).alias("latc"),
        F.pmod(F.floor(F.col("lon_b") / 2), F.lit(180)).alias("lonc"),
    )
    cand = ae.join(be, ["latc", "lonc"]).where(F.col("id_a") < F.col("id_b"))
    hav = (
        2.0
        * 6371.0088
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat_b") - F.col("lat_a")) / 2), 2)
                + F.cos(F.radians("lat_a"))
                * F.cos(F.radians("lat_b"))
                * F.pow(F.sin(F.radians(F.col("lon_b") - F.col("lon_a")) / 2), 2)
            )
        )
    )
    return (
        cand.select("id_a", "id_b", F.round(hav, 3).alias("dist_km"))
        .where(F.col("dist_km") <= 50.0)
    )
