"""Embedding similarity search: brute-force cosine top-k + sign-LSH bucketed
ANN (BASELINE.json north star — training-data pipeline ops).

Scale design:
- *Brute force* is the baseline/recall-oracle: broadcast the (small) query
  set, stream the corpus once, rank per query.  Corpus never shuffles until
  the final per-query top-k (keyed by query id — tiny).
- *Sign-LSH* is the scale path: an axis-sign bucket key computed in the scan
  stage blocks the corpus; candidate generation becomes an equality join on
  the bucket, turning O(|Q|·|C|) into O(|Q|·bucket_size).  More planes →
  smaller buckets; multiple tables → recall (standard LSH trade-off).

Dot products fold left-to-right in doubles (F.aggregate), so scores are
deterministic for a given vector — the DuckDB oracle reproduces them to
rounding precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays, accumulated in double, in order."""
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    """L2 norm (double)."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0 when either vector has zero norm."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, sim, rank).

    Broadcast the query side; rank with a deterministic tie-break
    (sim desc, neighbor id asc).  Self-matches excluded.
    """
    # Round 10: norms are per-ROW, so compute them once on each side
    # before the pair fan-out.  The inlined cosine() evaluated norm(a)
    # and norm(b) TWICE per pair (once in the zero-norm guard, once in
    # the ratio) — 4 interpreted 64-dim array folds per (corpus × query)
    # pair that a projection does |corpus|+|queries| times total.  The
    # ratio dot(a,b)/(na·nb) is the same expression over the same double
    # values, so every sim is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(vec_col).alias("_cn"),
    )
    sim = F.when(
        (F.col("_qn") == 0.0) | (F.col("_cn") == 0.0), F.lit(0.0)
    ).otherwise(dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, round_to).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def sign_bucket(vec: Column | str, n_bits: int = 8) -> Column:
    """Axis-sign LSH bucket: bit i set iff vec[i] > 0 (first n_bits dims)."""
    v = _c(vec)
    acc = F.lit(0)
    for i in range(n_bits):
        acc = acc + F.when(
            F.element_at(v, i + 1) > 0.0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return acc.cast("int")


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest centroids by cosine.

    Returns (id, vec, cell, cell_rank).  Deterministic tie-break: sim desc
    (rounded half away from zero — the DuckDB-round mode, which is what
    the oracle side computes; see the in-loop comment for how it relates
    to Spark's F.round), centroid id asc.  Malformed vectors (null, or length ≠ centroid dim) are emitted
    with cell/cell_rank NULL — quarantined, never ranked (VERDICT r8 #2);
    zero-NORM vectors of the right dim score sim 0 against every centroid
    (a defined cosine degeneracy, not garbage) and rank by centroid id.

    Fully MAP-SIDE and VECTORIZED (round 8): the centroid table is tiny by
    construction (nlist rows), so it is collected once, packed into a numpy
    ``(nlist, dim)`` float64 matrix, and shipped as a Spark broadcast
    variable — exactly how MLlib's k-means distributes its centers.  Each
    Arrow batch of corpus vectors then ranks its cells in ONE numpy matmul
    (``V @ C.T``), normalized and rounded in bulk, with a stable argsort on
    (−sim) whose tie order is the ascending centroid id.  The plan is a
    single narrow ``MapInPandas``: zero Exchange at any corpus size, and —
    unlike the round-7 higher-order-function form — zero interpreted
    per-element lambda work.  (The r7 form was shuffle-free but paid the
    same BoundReference-per-element CPU tax the CDC v2 chunker did: a
    lambda referencing the enclosing row's array column re-evaluates that
    column access per centroid, ~1.7× wall on the headline bench.  See
    operators/chunking.py for the microbenchmark family.)

    Determinism: products widen float32→float64 exactly; the matmul is a
    fixed-order per-batch reduction and sims are rounded to ``round_to``
    before ranking, so rank flips would need a true cosine within ~1e-12
    of a rounding boundary — the DuckDB oracle gate verifies the ranks at
    every SF/volume tier.
    """
    import numpy as np

    in_fields = {f.name: f for f in vectors.schema.fields}
    cell_type = {f.name: f for f in centroids.schema.fields}[
        "centroid_id"
    ].dataType
    out_schema = T.StructType(
        [
            in_fields[id_col],
            in_fields[vec_col],
            T.StructField("cell", cell_type),
            T.StructField("cell_rank", T.IntegerType()),
        ]
    )

    cent_rows = sorted(
        centroids.select("centroid_id", "cent_vec").collect(),
        key=lambda r: r["centroid_id"],
    )
    if not cent_rows:
        # no centroids -> no assignments (the pre-r8 higher-order form's
        # behavior: an empty struct array sliced/exploded to zero rows) —
        # empty-table inputs must degrade to empty outputs, never raise
        return vectors.sparkSession.createDataFrame([], out_schema)
    cids = [r["centroid_id"] for r in cent_rows]
    cmat = np.array([list(r["cent_vec"]) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    k = min(int(n_assign), len(cids))
    bc = vectors.sparkSession.sparkContext.broadcast((cids, cmat, cnorm))

    def gen(batches):
        import numpy as np
        import pandas as pd

        cids_, C, cn = bc.value
        cid_arr = np.asarray(cids_)
        dim = C.shape[1]
        scale = 10.0 ** round_to
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            cells = pdf[vec_col].to_numpy()
            # MALFORMED QUARANTINE (VERDICT r8 #2): a null vector or one
            # whose length ≠ centroid dim is emitted with cell NULL and
            # cell_rank NULL — visible to downstream audits and naturally
            # dropped by cell-keyed joins — instead of being silently
            # coerced to a zero vector and deterministically binned into
            # centroid 0's cell (the r8 behavior, flagged by ADVICE).
            valid = np.fromiter(
                (v is not None and len(v) == dim for v in cells),
                dtype=bool,
                count=n,
            )
            parts = []
            if valid.any():
                ids_v = pdf[id_col].to_numpy()[valid]
                vecs_v = cells[valid]
                V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs_v])
                dots = V @ C.T  # (m, nlist) — the whole batch at once
                vn = np.sqrt((V * V).sum(axis=1))
                denom = vn[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(denom == 0.0, 0.0, dots / denom)
                # Round half AWAY FROM ZERO — the DuckDB-round mode (the
                # oracle side of every gate); np.round is half-to-even and
                # flips ties landing exactly on a dyadic decimal boundary
                # (ADVICE r8).  NOT exactly Spark F.round (ADVICE r9):
                # F.round is BigDecimal HALF_UP on the double's exact
                # decimal expansion, so when |sim|*1e6 FP-rounds onto
                # exactly .5 the two modes can disagree.  No query pairs
                # assign_cells output with F.round-ed sims (rank ties break
                # on THIS rounded value and centroid id only), so the
                # divergence has no consumer; keep it that way.
                simr = np.copysign(
                    np.floor(np.abs(sims) * scale + 0.5), sims
                ) / scale
                # stable sort on −sim: equal rounded sims keep the original
                # (ascending centroid id) order — the deterministic tie-break
                order = np.argsort(-simr, axis=1, kind="stable")[:, :k]
                m = len(ids_v)
                parts.append(
                    pd.DataFrame(
                        {
                            id_col: np.repeat(ids_v, k),
                            vec_col: vecs_v.repeat(k),
                            "cell": cid_arr[order].ravel(),
                            "cell_rank": np.tile(
                                np.arange(1, k + 1, dtype=np.int32), m
                            ),
                        }
                    )
                )
            if not valid.all():
                inv = ~valid
                n_bad = int(inv.sum())
                parts.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy()[inv],
                            vec_col: cells[inv],
                            "cell": pd.Series([None] * n_bad, dtype=object),
                            "cell_rank": pd.Series(
                                [None] * n_bad, dtype=object
                            ),
                        }
                    )
                )
            yield parts[0] if len(parts) == 1 else pd.concat(
                parts, ignore_index=True
            )

    return vectors.select(id_col, vec_col).mapInPandas(gen, schema=out_schema)


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: partition the corpus into centroid
    cells, probe only the query's ``nprobe`` nearest cells.

    Centroid choice here is deterministic (the ``n_centroids`` lowest-id
    vectors) so the DuckDB oracle can regenerate the exact index; a
    production build swaps in k-means centroids — the probe/search plan is
    identical either way.

    Scale design: each corpus vector lands in exactly ONE cell (no
    duplication), the cell id is a disk bucketing/partitioning key at
    100 TB, and a probe reads nprobe/n_centroids of the corpus instead of
    all of it.  Candidate generation is an equality join on the cell id
    with the (small) probe set broadcast.
    """
    cents = (
        corpus.where(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    # per-row norms hoisted out of the pair scorer (round 10, same
    # bit-identical rewrite as knn_bruteforce)
    cells = assign_cells(corpus, cents, 1, id_col, vec_col, round_to).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(vec_col).alias("_cn"),
        "cell",
    )
    probes = assign_cells(queries, cents, nprobe, id_col, vec_col, round_to).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("_qn"),
        "cell",
    )
    sim = F.when(
        (F.col("_qn") == 0.0) | (F.col("_cn") == 0.0), F.lit(0.0)
    ).otherwise(dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn")))
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, round_to).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def knn_lsh_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """ANN top-k within the query's sign-LSH bucket (the scale path).

    Candidates come from an equality join on the bucket key — at 100 TB the
    corpus is written bucketed/partitioned by this key, so the probe reads
    one partition per query instead of the full corpus.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("_qn"),
        sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(vec_col).alias("_cn"),
        sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    # per-row norms hoisted out of the pair scorer (round 10, same
    # bit-identical rewrite as knn_bruteforce)
    sim = F.when(
        (F.col("_qn") == 0.0) | (F.col("_cn") == 0.0), F.lit(0.0)
    ).otherwise(dot("q_vec", "c_vec") / (F.col("_qn") * F.col("_cn")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, round_to).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
