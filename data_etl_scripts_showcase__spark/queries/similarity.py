"""Similarity-search queries over `embeddings` (north-star extensions).

Brute-force cosine top-k (the recall oracle) and sign-LSH bucketed ANN (the
scale path) — wrappers over ``..operators.similarity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as SIM
from .text_analysis import QUALITY_SQL
from ..session import spread
from ..sources import load_table
from . import register
from ..ckpt import ckpt

_COS = (
    "list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
    "CAST(c.embedding AS DOUBLE[]))"
)


@register(
    "v1_knn_bruteforce",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({_COS}, 6) AS sim,
           CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_COS}, 6) DESC, c.vec_id ASC
           ) AS INTEGER) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
    QUALIFY rank <= 5
    """,
    survey="NS-sim (brute-force cosine top-k)",
)
def v1_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 8 query vectors.

    Broadcast queries × one corpus pass; per-query ranking with
    deterministic tie-break.  This is the recall baseline for v2.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_bruteforce(e.where(F.col("vec_id") < 8), spread(e), k=5)


@register(
    "v2_knn_lsh_bucketed",
    oracle=f"""
    WITH sb AS (
        SELECT vec_id, embedding,
               (
                 {" + ".join(f"(CASE WHEN embedding[{i+1}] > 0.0 THEN {2**i} ELSE 0 END)" for i in range(8))}
               )::INTEGER AS bucket
        FROM embeddings
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({_COS}, 6) AS sim,
           CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_COS}, 6) DESC, c.vec_id ASC
           ) AS INTEGER) AS rank
    FROM sb q JOIN sb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 8
    QUALIFY rank <= 3
    """,
    survey="NS-sim (sign-LSH bucketed ANN)",
)
def v2_knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 within the query's sign-LSH bucket (equality-join pruning).

    At 100 TB the corpus is bucketed by this key on disk, so a query probes
    one bucket instead of scanning the corpus — the standard LSH trade of
    recall for a ~2^n_bits candidate reduction.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_lsh_bucketed(e.where(F.col("vec_id") < 8), spread(e), k=3)


_ASSIGN_CTE = f"""
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM embeddings WHERE vec_id < 8
    ),
    assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(c.cent_vec AS DOUBLE[])), 6) DESC,
                   c.centroid_id ASC
               ) AS cell_rank
        FROM embeddings e, cents c
    )
"""

_IVF_COS = (
    "round(list_cosine_similarity(CAST(p.q_vec AS DOUBLE[]), "
    "CAST(c.c_vec AS DOUBLE[])), 6)"
)


@register(
    "v4_knn_ivf",
    oracle=f"""
    WITH {_ASSIGN_CTE},
    cells AS (
        SELECT vec_id AS neighbor_id, embedding AS c_vec, centroid_id AS cell
        FROM assign WHERE cell_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id AS cell
        FROM assign WHERE vec_id < 8 AND cell_rank <= 2
    )
    SELECT p.query_id, c.neighbor_id,
           {_IVF_COS} AS sim,
           CAST(row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY {_IVF_COS} DESC, c.neighbor_id ASC
           ) AS INTEGER) AS rank
    FROM probes p JOIN cells c ON p.cell = c.cell AND p.query_id <> c.neighbor_id
    QUALIFY rank <= 3
    """,
    survey="NS-sim (IVF inverted-file ANN — cell-partitioned probe)",
)
def v4_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells (each vector in
    exactly one cell — the disk bucketing key at scale), queries probe their
    nprobe=2 nearest cells only.  Deterministic lowest-id centroids so the
    oracle regenerates the index; swap in k-means for production."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivf(
        e.where(F.col("vec_id") < 8), spread(e), k=3, n_centroids=8, nprobe=2
    )


@register(
    "v3_norm_stats",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
           round(max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 6) AS max_norm
    FROM embeddings GROUP BY label
    """,
    survey="NS-sim (vector norms / corpus stats)",
)
def v3_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm extrema (corpus sanity stats; min/max are
    order-independent so no decimal detour is needed)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = SIM.norm("embedding")
    return e.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.min(n), 6).alias("min_norm"),
        F.round(F.max(n), 6).alias("max_norm"),
    )


@register(
    "v5_label_centroids",
    oracle="""
    SELECT label, (u).pos AS pos, round(avg((u).v), 6) AS centroid_val
    FROM (
        SELECT label,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> {'pos': i, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
        FROM embeddings
    )
    GROUP BY label, pos
    """,
    survey="NS-sim (per-label centroid: distributed vector mean — the IVF training step)",
)
def v5_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid computed positionally: posexplode the vector,
    average per (label, dimension).  This is exactly how IVF coarse
    centroids (k-means E-step means) are computed distributively — the
    explode trades memory for a pure hash aggregate, so a 100 TB corpus of
    vectors reduces with map-side partials and never concentrates on one
    node.  (~50 float32 values per cell here; their double mean rounds
    stably at 6 dp.)"""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


@register(
    "v6_ivf_recall_contract",
    oracle=f"""
    WITH {_ASSIGN_CTE},
    cells AS (
        SELECT vec_id AS neighbor_id, embedding AS c_vec, centroid_id AS cell
        FROM assign WHERE cell_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id AS cell
        FROM assign WHERE vec_id < 8 AND cell_rank <= 2
    ),
    ivf AS (
        SELECT p.query_id, c.neighbor_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_IVF_COS} DESC, c.neighbor_id ASC
               ) AS rank
        FROM probes p JOIN cells c ON p.cell = c.cell AND p.query_id <> c.neighbor_id
        QUALIFY rank <= 3
    ),
    exact AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_COS}, 6) DESC, c.vec_id ASC
               ) AS rank
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        QUALIFY rank <= 3
    )
    SELECT e.query_id,
           round(CAST(count(i.neighbor_id) AS DOUBLE) / 3.0, 6) AS recall_at_3
    FROM exact e
    LEFT JOIN ivf i ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    """,
    survey="NS-sim (ANN quality governance: exact recall@k of the IVF index, per query)",
)
def v6_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF index against the brute-force ground truth, per
    query — the governance metric every ANN deployment must publish.  Both
    sides (and the oracle) are fully deterministic, so this pins the exact
    recall the nprobe=2/8-cell configuration buys on this corpus; at
    100 TB the same query runs over a hash-sampled (x2-style) query set
    instead of every vector."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    exact = SIM.knn_bruteforce(q, spread(e), k=3).select("query_id", "neighbor_id")
    ivf = SIM.knn_ivf(q, spread(e), k=3, n_centroids=8, nprobe=2).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    j = exact.join(
        ivf,
        (F.col("query_id") == F.col("i_qid"))
        & (F.col("neighbor_id") == F.col("i_nid")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.round(F.count("i_nid").cast("double") / 3.0, 6).alias("recall_at_3")
    )


@register(
    "v7_quality_filtered_knn",
    oracle=f"""
    WITH q AS ({QUALITY_SQL}),
    corpus AS (
        SELECT e.* FROM embeddings e
        JOIN q ON e.vec_id = q.doc_id
        WHERE round(q.quality_score, 6) >= 0.6
    )
    SELECT qv.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(CAST(qv.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
               PARTITION BY qv.vec_id
               ORDER BY round(list_cosine_similarity(CAST(qv.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id ASC
           ) AS INTEGER) AS rank
    FROM embeddings qv, corpus c
    WHERE qv.vec_id < 8 AND qv.vec_id <> c.vec_id
    QUALIFY rank <= 3
    """,
    survey="NS-sim + NS-text (composite curation: quality-gate the corpus, then ANN over survivors)",
)
def v7_quality_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation shape: quality-score the text corpus (t2's
    formula), keep only documents scoring ≥ 0.6, and run exact top-3
    cosine retrieval against the SURVIVING embeddings — how a real
    pipeline retrieves exemplars from the cleaned pool rather than the
    raw crawl.

    The quality gate is a text-side scan (no shuffle) whose surviving id
    set joins the embedding table on the shared key; retrieval then
    follows v1's broadcast-queries × one-corpus-pass shape.  Filter-first
    ordering matters at 100 TB: scoring is cheap per row, cosine is not,
    so the gate cuts the expensive stage's input, never the reverse."""
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    ok = docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("qs")
    ).where(F.col("qs") >= 0.6)
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.join(ok, e.vec_id == ok.doc_id).select(e["*"])
    queries = e.where(F.col("vec_id") < 8)
    return SIM.knn_bruteforce(queries, spread(corpus), k=3)


_KM_DIST = (
    "round(list_sum(list_transform(range(1, len(e.vec) + 1), "
    "i -> (e.vec[i] - c.cvec[i]) * (e.vec[i] - c.cvec[i]))), 6)"
)


def _km_assign(cent_cte: str) -> str:
    return f"""
    SELECT vec_id, cluster, vec FROM (
        SELECT e.vec_id, c.cluster, e.vec,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_KM_DIST} ASC, c.cluster ASC
               ) AS rn
        FROM corpus e, {cent_cte} c
    ) WHERE rn = 1
    """


# FROM-clause range() can't be lateral in DuckDB, so the oracle pins the
# testdata embedding dimensionality (64); the Spark side is dim-agnostic.
_KM_UPDATE = """
    SELECT cluster, i AS pos, round(avg(vec[i]), 6) AS cv
    FROM {a}, range(1, 65) t(i)
    GROUP BY cluster, i
"""


@register(
    "v8_kmeans_lloyd",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster, vec AS cvec
        FROM corpus WHERE vec_id < 4
    ),
    a1 AS ({_km_assign("c0")}),
    m1 AS ({_KM_UPDATE.format(a="a1")}),
    c1 AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM m1 GROUP BY cluster),
    a2 AS ({_km_assign("c1")}),
    m2 AS ({_KM_UPDATE.format(a="a2")}),
    sizes AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM a2 GROUP BY cluster
    )
    SELECT m2.cluster, CAST(m2.pos AS INTEGER) AS pos,
           m2.cv AS centroid_val, s.n_members
    FROM m2 JOIN sizes s USING (cluster)
    """,
    survey="NS-sim (k-means Lloyd iterations — the iterative-algorithm archetype, exact oracle)",
)
def v8_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means (k=4, lowest-id seeding)
    over the embedding corpus, returning the final centroids per dimension
    plus cluster sizes — the iterative-ML archetype run as pure DataFrame
    stages, with the oracle replaying the IDENTICAL recurrence in SQL
    (rounded distances + rounded means at every boundary make the
    fixpoint engine-independent, so this iterative op gets a FULL value
    check, not a rows-only one).

    Per iteration: assign = broadcast(k·dim centroid floats) evaluated
    scan-side, update = one (cluster, dim)-keyed mean — ONE shuffle per
    iteration at any corpus size."""
    from ..operators.kmeans import kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_centroids(e, "vec_id", "embedding", k=4, iters=2)


_PAIR_COS = (
    "list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), "
    "CAST(eb.embedding AS DOUBLE[]))"
)


@register(
    "v9_mmr_diversified_topk",
    oracle=f"""
    WITH cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, round({_COS}, 6) AS qsim,
               CAST(round(round({_COS}, 6) * 1000000) AS BIGINT) AS qs6
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id ORDER BY round({_COS}, 6) DESC, c.vec_id ASC
        ) <= 10
    ),
    pair AS (
        SELECT a.qid, a.cid AS ca, b.cid AS cb,
               CAST(round(round({_PAIR_COS}, 6) * 1000000) AS BIGINT) AS s6
        FROM cand a
        JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
        JOIN embeddings ea ON ea.vec_id = a.cid
        JOIN embeddings eb ON eb.vec_id = b.cid
    ),
    p1 AS (
        SELECT qid, cid AS c1, (7 * qs6) / 10000000.0 AS score FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY qsim DESC, cid ASC) = 1
    ),
    m2 AS (
        SELECT c.qid, c.cid, 7 * c.qs6 - 3 * p.s6 AS mmr_i
        FROM cand c
        JOIN p1 ON p1.qid = c.qid AND c.cid <> p1.c1
        JOIN pair p ON p.qid = c.qid AND p.ca = c.cid AND p.cb = p1.c1
    ),
    p2 AS (
        SELECT qid, cid AS c2, mmr_i / 10000000.0 AS score FROM m2
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY mmr_i DESC, cid ASC) = 1
    ),
    m3 AS (
        SELECT c.qid, c.cid, 7 * c.qs6 - 3 * greatest(pa.s6, pb.s6) AS mmr_i
        FROM cand c
        JOIN p1 ON p1.qid = c.qid
        JOIN p2 ON p2.qid = c.qid
        JOIN pair pa ON pa.qid = c.qid AND pa.ca = c.cid AND pa.cb = p1.c1
        JOIN pair pb ON pb.qid = c.qid AND pb.ca = c.cid AND pb.cb = p2.c2
        WHERE c.cid <> p1.c1 AND c.cid <> p2.c2
    ),
    p3 AS (
        SELECT qid, cid AS c3, mmr_i / 10000000.0 AS score FROM m3
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY mmr_i DESC, cid ASC) = 1
    )
    SELECT qid AS query_id, 1 AS pick_rank, c1 AS vec_id, score FROM p1
    UNION ALL
    SELECT qid, 2, c2, score FROM p2
    UNION ALL
    SELECT qid, 3, c3, score FROM p3
    """,
    survey="NS-sim (MMR-diversified retrieval: greedy λ-tradeoff re-rank over the top-k pool)",
)
def v9_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998, public)
    re-ranking: from each query's top-10 cosine pool, greedily pick 3
    results maximizing ``0.7·sim(q,d) − 0.3·max sim(d, selected)`` —
    relevance traded against redundancy, the standard diversification
    step for retrieval-augmented data curation (don't feed the model 3
    copies of the same fact).  Similarities round to 6 dp and convert to
    integer micro-units, so every MMR score is exact BIGINT arithmetic
    (7·qs6 − 3·s6) — no float-rounding boundary can flip an argmax — and
    ties break on vec_id: the greedy trajectory is engine-exact, and the
    oracle unrolls the same three steps in SQL (v8's iterative-oracle
    discipline).

    Scale shape: the corpus-wide work is ONE brute-force (or v2/v4 ANN)
    top-k pass; the MMR iterations then touch only k²-sized per-query
    pools — tiny keyed joins, never the corpus.  λ and k are literals
    here to keep the oracle exact."""
    e = load_table(spark, sf_dir, "embeddings")
    cand = (
        SIM.knn_bruteforce(e.where(F.col("vec_id") < 8), spread(e), k=10)
        .select(
            F.col("query_id").alias("qid"),
            F.col("neighbor_id").alias("cid"),
            F.col("sim").alias("qsim"),
            F.round(F.col("sim") * 1000000, 0).cast("bigint").alias("qs6"),
        )
        # round 10: the candidate pool is referenced by p1/m2/m3 and the
        # pair table — without the leaf, the corpus-wide brute-force kNN
        # re-executed once per reference (~6×/run) and the plan carried
        # ~64 Exchange nodes.  k·|queries| rows — tiny at any scale.
        .transform(ckpt)
    )
    ids = cand.select("qid", "cid")
    ea = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("va"))
    eb = e.select(F.col("vec_id").alias("cb"), F.col("embedding").alias("vb"))
    pair = (
        ids.join(
            ids.select(F.col("qid"), F.col("cid").alias("cb")), "qid"
        )
        .where(F.col("cid") != F.col("cb"))
        .join(F.broadcast(ea), "cid")
        .join(F.broadcast(eb), "cb")
        .select(
            "qid",
            F.col("cid").alias("ca"),
            "cb",
            F.round(F.round(SIM.cosine("va", "vb"), 6) * 1000000, 0)
            .cast("bigint")
            .alias("s6"),
        )
        # round 10: m2 and m3 reference this k²·|queries|-row pool three
        # times — checkpoint so the pairwise cosines compute once.
        .transform(ckpt)
    )
    from pyspark.sql import Window as W

    def argmax(df, score_col, id_col):
        w = W.partitionBy("qid").orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        return df.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") == 1
        ).drop("__rn")

    p1 = argmax(
        cand.withColumn("score", (7 * F.col("qs6")) / F.lit(10000000.0)),
        "qsim", "cid",
    ).select("qid", F.col("cid").alias("c1"), "score")
    m2 = (
        cand.join(p1.select("qid", "c1"), "qid")
        .where(F.col("cid") != F.col("c1"))
        .join(
            pair.select("qid", F.col("ca").alias("cid"), F.col("cb").alias("c1"), "s6"),
            ["qid", "cid", "c1"],
        )
        .select("qid", "cid", (7 * F.col("qs6") - 3 * F.col("s6")).alias("mmr_i"))
    )
    p2 = argmax(m2, "mmr_i", "cid").select(
        "qid",
        F.col("cid").alias("c2"),
        (F.col("mmr_i") / F.lit(10000000.0)).alias("score"),
    )
    m3 = (
        cand.join(p1.select("qid", "c1"), "qid")
        .join(p2.select("qid", "c2"), "qid")
        .where((F.col("cid") != F.col("c1")) & (F.col("cid") != F.col("c2")))
        .join(
            pair.select("qid", F.col("ca").alias("cid"), F.col("cb").alias("c1"), F.col("s6").alias("sa6")),
            ["qid", "cid", "c1"],
        )
        .join(
            pair.select("qid", F.col("ca").alias("cid"), F.col("cb").alias("c2"), F.col("s6").alias("sb6")),
            ["qid", "cid", "c2"],
        )
        .select(
            "qid",
            "cid",
            (7 * F.col("qs6") - 3 * F.greatest("sa6", "sb6")).alias("mmr_i"),
        )
    )
    p3 = argmax(m3, "mmr_i", "cid").select(
        "qid",
        F.col("cid").alias("c3"),
        (F.col("mmr_i") / F.lit(10000000.0)).alias("score"),
    )
    out = (
        p1.select(F.col("qid").alias("query_id"), F.lit(1).alias("pick_rank"), F.col("c1").alias("vec_id"), "score")
        .unionByName(p2.select(F.col("qid").alias("query_id"), F.lit(2).alias("pick_rank"), F.col("c2").alias("vec_id"), "score"))
        .unionByName(p3.select(F.col("qid").alias("query_id"), F.lit(3).alias("pick_rank"), F.col("c3").alias("vec_id"), "score"))
    )
    return out


_Q8 = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> greatest(-127, least(127, CAST(floor(x * s.scale + 0.5) AS INTEGER))))"
)


@register(
    "v10_quantized_topk",
    oracle=f"""
    WITH s AS (
        SELECT 127.0 / max(m) AS scale
        FROM (SELECT list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m
              FROM embeddings)
    ),
    qv AS (SELECT vec_id, {_Q8} AS q8 FROM embeddings, s),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.q8) + 1), i -> q.q8[i] * c.q8[i])) AS BIGINT) AS qdot
        FROM qv q, qv c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, qdot,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY qdot DESC, neighbor_id ASC
           ) AS INTEGER) AS rank
    FROM dots QUALIFY rank <= 5
    """,
    survey="NS-sim extended (int8 scalar quantization: exact integer dot-product ranking)",
)
def v10_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors ranked by INT8-quantized dot product — the memory-
    bandwidth scale path for embedding search: a corpus-wide symmetric
    scale (127/max|x|, one broadcast scalar) quantizes every float32
    vector to int8, shrinking the scanned bytes 4× and turning the scoring
    hot loop into integer multiply-adds (what a SIMD/DiskANN-style
    deployment executes).  Ranking is on the EXACT integer dot product —
    no float accumulation anywhere — so Spark and DuckDB agree
    bit-for-bit; floor(x·s + 0.5) quantization avoids engine-dependent
    round-half behavior.  Recall vs the float baseline is auditable
    against v1 (same query set and tie-break)."""
    e = load_table(spark, sf_dir, "embeddings")
    vals = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    mx = e.select(F.max(F.array_max(vals)).alias("m")).select(
        (F.lit(127.0) / F.col("m")).alias("scale")
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    qv = e.crossJoin(F.broadcast(mx)).select("vec_id", q8.alias("q8"))
    queries = qv.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("q8").alias("q8_q")
    )
    pairs = F.broadcast(queries).crossJoin(
        qv.select(F.col("vec_id").alias("neighbor_id"), "q8")
    ).where(F.col("query_id") != F.col("neighbor_id"))
    qdot = F.aggregate(
        F.zip_with("q8_q", "q8", lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    scored = pairs.select("query_id", "neighbor_id", qdot.alias("qdot"))
    w = W.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


# v11: product quantization + asymmetric distance computation (ADC).
_PQ_BLOCKS, _PQ_DIM, _PQ_CODES = 8, 8, 4  # 64 dims -> 8 blocks of 8, 4 codes


def _pq_sq_u(a: str, b: str) -> str:
    """DuckDB: squared distance between two DOUBLE[] in integer micro-units."""
    return (
        f"CAST(round(list_sum(list_transform(range(1, {_PQ_DIM} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) * 1000000) AS BIGINT)"
    )


@register(
    "v11_pq_adc_topk",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    blocks AS (
        SELECT vec_id, b.b AS b, vec[b.b * {_PQ_DIM} + 1 : (b.b + 1) * {_PQ_DIM}] AS sub
        FROM corpus CROSS JOIN (SELECT unnest(range(0, {_PQ_BLOCKS})) AS b) b
    ),
    codebook AS (
        SELECT b, CAST(vec_id AS INTEGER) AS code, sub AS csub
        FROM blocks WHERE vec_id < {_PQ_CODES}
    ),
    encoded AS (
        SELECT vec_id, b, code FROM (
            SELECT bl.vec_id, bl.b, cb.code,
                   row_number() OVER (
                       PARTITION BY bl.vec_id, bl.b
                       ORDER BY {_pq_sq_u('bl.sub', 'cb.csub')}, cb.code
                   ) AS rn
            FROM blocks bl JOIN codebook cb USING (b)
        ) WHERE rn = 1
    ),
    dtable AS (
        SELECT cb.b, cb.code, {_pq_sq_u('q.sub', 'cb.csub')} AS dist_u
        FROM codebook cb
        JOIN (SELECT b, sub FROM blocks WHERE vec_id = 0) q USING (b)
    ),
    scored AS (
        SELECT e.vec_id AS neighbor_id,
               CAST(sum(d.dist_u) AS BIGINT) AS adc_dist_u
        FROM encoded e JOIN dtable d USING (b, code)
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id
    )
    SELECT neighbor_id, adc_dist_u,
           CAST(row_number() OVER (ORDER BY adc_dist_u ASC, neighbor_id ASC)
                AS INTEGER) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    survey="NS-sim extended (product quantization + ADC: block codes, distance-table scoring)",
)
def v11_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 64-dim vectors split into 8 blocks of 8, each
    block encoded as the nearest of 4 codebook entries (seeded from the
    lowest-id vectors; a production system Lloyd-refines them — v8 is that
    operator), then query scoring is ADC: per-block distance TABLE lookups
    summed, never touching the original floats.  At 100 TB this is the
    standard memory-bandwidth ladder beyond int8 (v10): 64 floats → 8
    bytes per vector (32×), with the scan reading codes only.

    Exactness discipline: every block distance is computed in integer
    MICRO-UNITS before summing (integer addition is order-independent),
    so the driver's hash gate sees bit-identical results from both
    engines — the v9/pr1 rule applied to quantized scoring."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    blocks = corpus.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("b"),
                    F.slice("vec", b * _PQ_DIM + 1, _PQ_DIM).alias("sub"),
                )
                for b in range(_PQ_BLOCKS)
            ])
        ).alias("bb"),
    ).select("vec_id", F.col("bb.b").alias("b"), F.col("bb.sub").alias("sub"))

    def sq_u(a, c):
        d = F.zip_with(a, c, lambda x, y: (x - y) * (x - y))
        s = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)
        return F.round(s * 1e6).cast("bigint")

    codebook = blocks.where(F.col("vec_id") < _PQ_CODES).select(
        "b", F.col("vec_id").cast("int").alias("code"), F.col("sub").alias("csub")
    )
    # Round 11: the per-(vector, block) nearest-code argmin is a plain
    # ``min`` over the packed integer key d·n_codes + code — identical
    # winner to the r9 row_number()==1 window (d ≥ 0, code < n_codes, so
    # lexicographic (d, code) order IS the packed-key order; no overflow:
    # d ≤ 8·dim·1e6·max² ≪ 2^61).  Round 10 tried ``min_by`` over a
    # STRUCT key, which cannot live in a fixed-width HashAggregate
    # buffer, so the whole joined stream fell back to SortAggregate —
    # the driver measured v11 0.57x.  A packed bigint keeps the argmin
    # in codegen HashAggregate with map-side partials: no sort, and the
    # shuffle carries one long per (vector, block).
    packed = sq_u(F.col("sub"), F.col("csub")) * _PQ_CODES + F.col("code")
    encoded = (
        blocks.join(F.broadcast(codebook), "b")
        .groupBy("vec_id", "b")
        .agg(
            F.pmod(F.min(packed), F.lit(_PQ_CODES)).cast("int").alias("code")
        )
    )
    qblocks = blocks.where(F.col("vec_id") == 0).select(
        "b", F.col("sub").alias("qsub")
    )
    dtable = codebook.join(F.broadcast(qblocks), "b").select(
        "b", "code", sq_u(F.col("qsub"), F.col("csub")).alias("dist_u")
    )
    scored = (
        encoded.where(F.col("vec_id") != 0)
        .join(F.broadcast(dtable), ["b", "code"])
        .groupBy(F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist_u").cast("bigint").alias("adc_dist_u"))
    )
    # Scale-safe top-k: orderBy().limit(k) compiles to TakeOrderedAndProject
    # (parallel per-partition partial top-k, tiny driver merge) instead of an
    # unpartitioned WindowExec that funnels every ADC-scored corpus row
    # through one reducer.  The rank window then runs over only k rows.
    from pyspark.sql import Window as W

    top = scored.orderBy(F.col("adc_dist_u").asc(), F.col("neighbor_id").asc()).limit(5)
    rank_w = W.orderBy(F.col("adc_dist_u").asc(), F.col("neighbor_id").asc())
    return top.withColumn("rank", F.row_number().over(rank_w).cast("int"))


@register(
    "v12_ivf_incremental",
    oracle=f"""
    WITH {_ASSIGN_CTE},
    cell AS (SELECT vec_id, centroid_id AS cell FROM assign WHERE cell_rank = 1)
    SELECT cell,
           CAST(count(CASE WHEN vec_id % 10 <> 0 THEN 1 END) AS BIGINT) AS n_base,
           CAST(count(CASE WHEN vec_id % 10 = 0 THEN 1 END) AS BIGINT) AS n_delta,
           CAST(count(*) AS BIGINT) AS n_total
    FROM cell GROUP BY cell
    """,
    survey="NS-sim extended (incremental IVF maintenance: delta batch assigned without index rebuild)",
)
def v12_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: the corpus is split into a base
    index (vec_id % 10 != 0) and an arriving delta batch (% 10 == 0); the
    delta is assigned to the EXISTING centroids in its own pass — cost
    O(|delta| × n_centroids), zero base rows touched, the append-only
    index-update path a daily-ingest ANN service needs at 100 TB (cell
    files grow by appended delta partitions; centroid drift is handled by
    periodic v8 k-means refresh, not per batch).  Output: per-cell base /
    delta / total occupancy — what an operator monitors for cell-balance
    degradation after incremental loads.  Both assignment passes share one
    plan shape: broadcast centroids, one corpus scan, rank-1 argmax with
    the deterministic (rounded sim DESC, centroid ASC) tie-break."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent_vec")
    )
    base = e.where(F.col("vec_id") % 10 != 0)
    delta = e.where(F.col("vec_id") % 10 == 0)
    ab = SIM.assign_cells(base, cents).select("vec_id", "cell")
    ad = SIM.assign_cells(delta, cents).select("vec_id", "cell")
    merged = ab.withColumn("_is_delta", F.lit(0)).unionByName(
        ad.withColumn("_is_delta", F.lit(1))
    )
    return merged.groupBy("cell").agg(
        F.count(F.when(F.col("_is_delta") == 0, 1)).alias("n_base"),
        F.count(F.when(F.col("_is_delta") == 1, 1)).alias("n_delta"),
        F.count("*").alias("n_total"),
    )


@register(
    "v13_two_stage_retrieval",
    oracle=f"""
    WITH s AS (
        SELECT 127.0 / max(m) AS scale
        FROM (SELECT list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m
              FROM embeddings)
    ),
    qv AS (SELECT vec_id, {_Q8} AS q8 FROM embeddings, s),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.q8) + 1), i -> q.q8[i] * c.q8[i])) AS BIGINT) AS qdot
        FROM qv q, qv c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY qdot DESC, neighbor_id ASC
                   ) AS rn
            FROM dots
        ) WHERE rn <= 10
    ),
    rr AS (
        SELECT sh.query_id, sh.neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 6) AS sim
        FROM short sh
        JOIN embeddings q ON q.vec_id = sh.query_id
        JOIN embeddings c ON c.vec_id = sh.neighbor_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
           ) AS INTEGER) AS rank
    FROM rr QUALIFY rank <= 3
    """,
    survey="NS-sim extended (two-stage retrieval: compressed-domain shortlist, exact-score rerank)",
)
def v13_two_stage_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production retrieval shape: a cheap compressed-domain first
    pass (v10's int8 integer dot products over 4×-smaller vectors) cuts
    the corpus to a 10-candidate shortlist per query, then ONLY the
    shortlist pays for exact float cosine — top-3 final.  At 100 TB the
    first pass is the only corpus-wide scan (memory-bandwidth-bound,
    integer SIMD), and the rerank touches k×|queries| rows; recall lost
    to quantization is auditable against v1's exact baseline on the same
    query set.  Shortlist ranking is exact integer math; the rerank
    rounds to 6 dp with id tie-break — both deterministic."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    vals = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    mx = e.select(F.max(F.array_max(vals)).alias("m")).select(
        (F.lit(127.0) / F.col("m")).alias("scale")
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    qv = e.crossJoin(F.broadcast(mx)).select("vec_id", q8.alias("q8"))
    queries = qv.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("q8").alias("q8_q")
    )
    pairs = F.broadcast(queries).crossJoin(
        qv.select(F.col("vec_id").alias("neighbor_id"), "q8")
    ).where(F.col("query_id") != F.col("neighbor_id"))
    qdot = F.aggregate(
        F.zip_with("q8_q", "q8", lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w1 = W.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    short = (
        pairs.select("query_id", "neighbor_id", qdot.alias("qdot"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    rr = (
        short.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(SIM.cosine("qvec", "cvec"), 6).alias("sim"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rr.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= 3)
    )


@register(
    "v14_matryoshka_retrieval",
    oracle=f"""
    WITH sl AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding[1:16] AS DOUBLE[]),
                                            CAST(c.embedding[1:16] AS DOUBLE[])), 6) AS sim16
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY sim16 DESC, neighbor_id ASC
                   ) AS rn
            FROM sl
        ) WHERE rn <= 10
    )
    SELECT s.query_id, s.neighbor_id,
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        s.neighbor_id ASC
           ) AS INTEGER) AS rank
    FROM short s
    JOIN embeddings q ON q.vec_id = s.query_id
    JOIN embeddings c ON c.vec_id = s.neighbor_id
    QUALIFY rank <= 3
    """,
    survey="NS-sim extended (Matryoshka retrieval: truncated-dimension shortlist, full-dimension rerank)",
)
def v14_matryoshka_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: the corpus-wide first pass
    scores only the FIRST 16 of 64 dimensions — a 4× cut in memory
    bandwidth and FLOPs, the dimension-truncation counterpart of v13's
    int8 quantization (MRL-trained embeddings order information by
    prefix, so the head dims carry most of the ranking signal) — then
    only the 10-candidate shortlist pays full-dimension cosine for the
    final top-3.  At 100 TB the head-dim slice is ALSO the storage story:
    the first pass reads a 16-dim column (or the prefix of a fixed-size
    array column), never the full vectors.  Determinism: both stages
    round to 6 dp with neighbor-id tie-break."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    head = e.select(
        "vec_id", F.slice("embedding", 1, 16).alias("h16")
    )
    queries = head.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("h16").alias("qh")
    )
    pairs = (
        F.broadcast(queries)
        .crossJoin(head.select(F.col("vec_id").alias("neighbor_id"), "h16"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    sim16 = F.round(SIM.cosine("qh", "h16"), 6)
    w1 = W.partitionBy("query_id").orderBy(
        F.col("sim16").desc(), F.col("neighbor_id").asc()
    )
    short = (
        pairs.select("query_id", "neighbor_id", sim16.alias("sim16"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(SIM.cosine("qvec", "cvec"), 6).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= 3)
    )


_BQ_BITS = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] > 0.0 THEN {2**i}::HUGEINT ELSE 0::HUGEINT END)"
    for i in range(64)
)


@register(
    "v16_binary_quantized_retrieval",
    oracle=f"""
    WITH bq AS (
        SELECT vec_id, CAST({_BQ_BITS} - CASE WHEN embedding[64] > 0.0 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS bits
        FROM embeddings
    ),
    d AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.bits, c.bits)) AS INTEGER) AS hamming
        FROM bq q, bq c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC
                   ) AS rn
            FROM d
        ) WHERE rn <= 10
    )
    SELECT s.query_id, s.neighbor_id,
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS sim,
           CAST(row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        s.neighbor_id ASC
           ) AS INTEGER) AS rank
    FROM short s
    JOIN embeddings q ON q.vec_id = s.query_id
    JOIN embeddings c ON c.vec_id = s.neighbor_id
    QUALIFY rank <= 3
    """,
    survey="NS-sim extended (binary quantization: 64 dims to ONE 64-bit word, hamming shortlist + exact rerank — 256x compression)",
)
def v16_binary_quantized_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom rung of the compression ladder (int8 v10 → PQ v11 →
    MRL v14 → binary): each 64-dim float vector collapses to its sign
    bits — exactly ONE 64-bit word, 256× smaller — and the corpus-wide
    pass ranks by hamming distance, a single xor+popcount per candidate
    (the cheapest similarity primitive hardware offers).  The 10-candidate
    shortlist then pays full float cosine for the final top-3, same
    audited two-stage shape as v13/v14.  Sign bits pack via exact integer
    bit arithmetic (bit 63 wraps to the BIGINT sign — mirrored in both
    engines), so the shortlist ranking is bit-deterministic."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    bit_terms = None
    for i in range(64):
        term = F.when(
            F.element_at("embedding", i + 1) > 0.0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        shifted = F.shiftleft(term, i)
        bit_terms = shifted if bit_terms is None else bit_terms.bitwiseOR(shifted)
    bq = e.select("vec_id", bit_terms.alias("bits"))
    queries = bq.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("bits").alias("qbits")
    )
    pairs = (
        F.broadcast(queries)
        .crossJoin(bq.select(F.col("vec_id").alias("neighbor_id"), "bits"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.bit_count(F.col("qbits").bitwiseXOR(F.col("bits")))
            .cast("int")
            .alias("hamming"),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    short = (
        pairs.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(SIM.cosine("qvec", "cvec"), 6).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= 3)
    )


@register(
    "v17_ivf_adc_rerank",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    {_ASSIGN_CTE.strip().lstrip()},
    cell AS (SELECT vec_id, centroid_id AS cell FROM assign WHERE cell_rank = 1),
    qprobe AS (
        SELECT centroid_id AS cell FROM assign WHERE vec_id = 0 AND cell_rank <= 2
    ),
    blocks AS (
        SELECT vec_id, b.b AS b, vec[b.b * {_PQ_DIM} + 1 : (b.b + 1) * {_PQ_DIM}] AS sub
        FROM corpus CROSS JOIN (SELECT unnest(range(0, {_PQ_BLOCKS})) AS b) b
    ),
    codebook AS (
        SELECT b, CAST(vec_id AS INTEGER) AS code, sub AS csub
        FROM blocks WHERE vec_id < {_PQ_CODES}
    ),
    encoded AS (
        SELECT vec_id, b, code FROM (
            SELECT bl.vec_id, bl.b, cb.code,
                   row_number() OVER (
                       PARTITION BY bl.vec_id, bl.b
                       ORDER BY {_pq_sq_u('bl.sub', 'cb.csub')}, cb.code
                   ) AS rn
            FROM blocks bl JOIN codebook cb USING (b)
        ) WHERE rn = 1
    ),
    dtable AS (
        SELECT cb.b, cb.code, {_pq_sq_u('q.sub', 'cb.csub')} AS dist_u
        FROM codebook cb
        JOIN (SELECT b, sub FROM blocks WHERE vec_id = 0) q USING (b)
    ),
    shortlist AS (
        SELECT e.vec_id AS neighbor_id,
               CAST(sum(d.dist_u) AS BIGINT) AS adc_dist_u
        FROM encoded e
        JOIN cell USING (vec_id)
        JOIN qprobe USING (cell)
        JOIN dtable d USING (b, code)
        WHERE e.vec_id <> 0
        GROUP BY e.vec_id
    ),
    top AS (
        SELECT neighbor_id, adc_dist_u,
               row_number() OVER (ORDER BY adc_dist_u ASC, neighbor_id ASC) AS adc_rank
        FROM shortlist QUALIFY adc_rank <= 20
    )
    SELECT t.neighbor_id, t.adc_dist_u,
           round(list_cosine_similarity(c.vec, q.vec), 6) AS cos_sim,
           CAST(row_number() OVER (
               ORDER BY round(list_cosine_similarity(c.vec, q.vec), 6) DESC,
                        t.neighbor_id ASC) AS INTEGER) AS rank
    FROM top t
    JOIN corpus c ON c.vec_id = t.neighbor_id
    JOIN (SELECT vec FROM corpus WHERE vec_id = 0) q ON TRUE
    QUALIFY rank <= 5
    """,
    survey="NS-sim extended (the composed production ANN path: IVF probe -> PQ/ADC shortlist -> exact rerank)",
)
def v17_ivf_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production retrieval ladder in one plan — what a vector
    store actually executes at 100 TB: (1) IVF probe limits the scan to
    the query's nprobe=2 cells (cell id = the disk partitioning key, so
    the other cells are never read); (2) within the probed cells, ADC
    over 8-byte PQ codes ranks candidates reading codes only (32× less
    memory bandwidth than floats); (3) only the top-20 shortlist touches
    the original vectors for an exact cosine rerank to top-5.  v4 and
    v11 exhibit stages (1) and (2) in isolation; this is their
    composition, with the rerank bounding any quantization error to the
    shortlist boundary.  All distances in integer micro-units or rounded
    to 6 dp (order-independent, driver-hashable)."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent_vec")
    )
    cell = SIM.assign_cells(e, cents, 1).select("vec_id", "cell")
    qprobe = SIM.assign_cells(e.where(F.col("vec_id") == 0), cents, 2).select("cell")

    blocks = corpus.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("b"),
                    F.slice("vec", b * _PQ_DIM + 1, _PQ_DIM).alias("sub"),
                )
                for b in range(_PQ_BLOCKS)
            ])
        ).alias("bb"),
    ).select("vec_id", F.col("bb.b").alias("b"), F.col("bb.sub").alias("sub"))

    def sq_u(a, c):
        d = F.zip_with(a, c, lambda x, y: (x - y) * (x - y))
        s = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)
        return F.round(s * 1e6).cast("bigint")

    codebook = blocks.where(F.col("vec_id") < _PQ_CODES).select(
        "b", F.col("vec_id").cast("int").alias("code"), F.col("sub").alias("csub")
    )
    # Round 11: argmin-by-(distance, code) as a plain ``min`` over the
    # packed integer key d·n_codes + code — codegen HashAggregate with
    # map-side partials; r10's struct-keyed min_by fell back to
    # SortAggregate (see v11_pq_adc_topk for the full rationale).
    packed = sq_u(F.col("sub"), F.col("csub")) * _PQ_CODES + F.col("code")
    encoded = (
        blocks.join(F.broadcast(codebook), "b")
        .groupBy("vec_id", "b")
        .agg(
            F.pmod(F.min(packed), F.lit(_PQ_CODES)).cast("int").alias("code")
        )
    )
    qblocks = blocks.where(F.col("vec_id") == 0).select(
        "b", F.col("sub").alias("qsub")
    )
    dtable = codebook.join(F.broadcast(qblocks), "b").select(
        "b", "code", sq_u(F.col("qsub"), F.col("csub")).alias("dist_u")
    )
    shortlist = (
        encoded.where(F.col("vec_id") != 0)
        .join(cell, "vec_id")
        .join(F.broadcast(qprobe), "cell")
        .join(F.broadcast(dtable), ["b", "code"])
        .groupBy(F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist_u").cast("bigint").alias("adc_dist_u"))
    )
    # Both selection stages use the scale-safe limit-first shape: the probed
    # shortlist still grows with corpus size / nlist, so its top-20 must be a
    # TakeOrderedAndProject (parallel partial top-k), not an unpartitioned
    # WindowExec over the whole shortlist.  The rerank stage then windows
    # over <= 20 rows only.
    top = shortlist.orderBy(
        F.col("adc_dist_u").asc(), F.col("neighbor_id").asc()
    ).limit(20)
    qvec = corpus.where(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    reranked = (
        top.join(corpus, top["neighbor_id"] == corpus["vec_id"])
        .crossJoin(F.broadcast(qvec))
        .select(
            "neighbor_id",
            "adc_dist_u",
            F.round(SIM.cosine("vec", "qvec"), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
        .limit(5)
    )
    from pyspark.sql import Window as W

    rerank_w = W.orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return reranked.withColumn("rank", F.row_number().over(rerank_w).cast("int"))


@register(
    "v18_nprobe_recall_curve",
    oracle=f"""
    WITH {_ASSIGN_CTE},
    cells AS (
        SELECT vec_id AS neighbor_id, embedding AS c_vec, centroid_id AS cell
        FROM assign WHERE cell_rank = 1
    ),
    grid AS (SELECT unnest([1, 2, 4]) AS nprobe),
    probes AS (
        SELECT g.nprobe, a.vec_id AS query_id, a.embedding AS q_vec,
               a.centroid_id AS cell
        FROM assign a CROSS JOIN grid g
        WHERE a.vec_id < 8 AND a.cell_rank <= g.nprobe
    ),
    ivf AS (
        SELECT p.nprobe, p.query_id, c.neighbor_id,
               row_number() OVER (
                   PARTITION BY p.nprobe, p.query_id
                   ORDER BY {_IVF_COS} DESC, c.neighbor_id ASC
               ) AS rank
        FROM probes p JOIN cells c ON p.cell = c.cell AND p.query_id <> c.neighbor_id
        QUALIFY rank <= 3
    ),
    exact AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round({_COS}, 6) DESC, c.vec_id ASC
               ) AS rank
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        QUALIFY rank <= 3
    )
    SELECT g.nprobe,
           round(CAST(count(i.neighbor_id) AS DOUBLE)
                 / (3.0 * (SELECT count(DISTINCT query_id) FROM exact)), 6) AS mean_recall_at_3,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(*) AS BIGINT) AS n_truth_pairs
    FROM grid g
    CROSS JOIN exact e
    LEFT JOIN ivf i ON i.nprobe = g.nprobe AND e.query_id = i.query_id
                   AND e.neighbor_id = i.neighbor_id
    GROUP BY g.nprobe
    """,
    survey="NS-sim extended (ANN tuning curve: recall@3 vs nprobe — the IVF analog of d22's LSH S-curve audit)",
)
def v18_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many cells must a probe read?  Recall@3 against the exact
    ground truth, measured at nprobe ∈ {{1, 2, 4}} of 8 cells — the
    tuning curve that decides the IVF latency/recall trade BEFORE the
    index ships (the ANN counterpart of d22's LSH S-curve calibration;
    v6 pins the deployed nprobe=2 point, this sweeps the knob).  The
    exact side is computed once and reused for every grid point, and so
    is the INDEX WORK: the corpus is cell-assigned ONCE and the queries
    probe-ranked once at max(nprobe); each grid point is then just a
    filter on the probe rank (nprobe=1's candidates ⊂ nprobe=2's ⊂
    nprobe=4's), so the sweep costs ONE corpus assignment and ONE
    candidate join, not |grid| of either (round-5 rewrite: the previous
    per-nprobe knn_ivf calls re-assigned the corpus 3x).  At 100 TB the
    query set is a hash sample (x2-style), not every vector."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    exact = SIM.knn_bruteforce(q, spread(e), k=3).select(
        "query_id", "neighbor_id"
    ).transform(ckpt)  # round 10: the ground truth is used by
    # the n_q count AND the grid fan-out — the leaf runs the corpus-wide
    # brute-force pass once instead of twice.  3·|queries| rows.
    n_q = exact.select("query_id").distinct().count()

    grid = (1, 2, 4)
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cent_vec")
    )
    # per-row norms hoisted out of the pair scorer (round 10, the
    # knn_bruteforce rewrite): bit-identical sims, 4 fewer interpreted
    # array folds per candidate pair.
    cells = SIM.assign_cells(spread(e), cents, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        SIM.norm("embedding").alias("_cn"),
        "cell",
    )
    probes = SIM.assign_cells(q, cents, max(grid)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        SIM.norm("embedding").alias("_qn"),
        "cell",
        F.col("cell_rank").alias("probe_rank"),
    )
    sim = F.when(
        (F.col("_qn") == 0.0) | (F.col("_cn") == 0.0), F.lit(0.0)
    ).otherwise(SIM.dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn")))
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            F.round(sim, 6).alias("sim"),
        )
    )
    # fan the ONE scored relation out to the grid; each grid point keeps
    # the candidates its nprobe would have generated, then takes top-k
    cand = scored.select(
        "*", F.explode(F.array(*[F.lit(g) for g in grid])).alias("nprobe")
    ).where(F.col("probe_rank") <= F.col("nprobe"))
    w = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    ivf = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("nprobe", "query_id", "neighbor_id")
    )
    # grid relations are 3 rows — broadcast explicitly so neither the
    # fan-out nor the zero-hit backfill can plan as CartesianProduct
    # (the engine-wide audit rejects any non-broadcast cartesian)
    grid_df = spark.createDataFrame([(g,) for g in grid], "nprobe int")
    grid_truth = exact.crossJoin(F.broadcast(grid_df))
    hits = (
        grid_truth.join(ivf, ["nprobe", "query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        grid_df.join(F.broadcast(hits), "nprobe", "left")
        .select(
            "nprobe",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (3.0 * n_q),
                6,
            ).alias("mean_recall_at_3"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            F.lit(3 * n_q).cast("bigint").alias("n_truth_pairs"),
        )
    )
