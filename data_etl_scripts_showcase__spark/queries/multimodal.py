"""Multimodal-column queries (north-star extensions).

Binary payload + metadata handling, and the mapInPandas decode stage with
its deterministic stub — both with full DuckDB oracles (the stub's
pseudo-features are pure functions of the bytes, reproducible in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as MM
from ..session import spread
from ..sources import load_table
from . import register

_MEDIA_CASE = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


@register(
    "mm1_binary_metadata",
    oracle=f"""
    SELECT doc_id AS asset_id,
           {_MEDIA_CASE} AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len,
           md5(text) AS checksum,
           upper(substr(md5(text), 1, 8)) AS magic
    FROM documents
    """,
    survey="NS-mm (binary column + typed metadata)",
)
def mm1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary column + metadata projection — no decode, no UDF.

    The scan-side half of multimodal handling: length/digest/magic come
    from expressions over the blob, so Catalyst can prune and filter
    without any Python.
    """
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return assets.select(
        "asset_id",
        "media_type",
        F.length("content").alias("byte_len"),
        F.md5("content").alias("checksum"),
        F.upper(F.substring(F.md5("content"), 1, 8)).alias("magic"),
    )


@register(
    "mm2_decoded_features",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               {_MEDIA_CASE} AS media_type,
               octet_length(CAST(text AS BLOB)) AS blen,
               md5(text) AS h
        FROM documents
    )
    SELECT asset_id, media_type,
           CAST(blen AS INTEGER) AS byte_len,
           h AS checksum,
           CAST(16 + blen % 624 AS INTEGER) AS width,
           CAST(16 + ('0x' || substr(h, 1, 4))::BIGINT % 624 AS INTEGER) AS height,
           CAST(1 + blen % 32 AS INTEGER) AS n_frames,
           array_to_string(CAST(range(0, 1 + blen % 32,
                      greatest(1, (1 + blen % 32 + 3) // 4)) AS INTEGER[]), '|') AS sampled_frames
    FROM a
    """,
    survey="NS-mm (mapInPandas decode stage, stub codec)",
)
def mm2_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature/frame-sample stage via mapInPandas.

    The codec is a deterministic stub (no media libs in this environment);
    the plumbing — binary column in, declared feature schema out, ≤4
    evenly-spaced sampled frames — is the real scale path and is verified
    value-for-value against the SQL oracle.  The frame list ships as a
    '|'-joined string (driver-canonicalizer contract: scalar top-level
    columns only); the operator itself keeps the typed array.
    """
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    feats = MM.extract_features(spread(assets))
    return feats.withColumn(
        "sampled_frames",
        F.array_join(
            F.transform("sampled_frames", lambda x: x.cast("string")), "|"
        ),
    )


@register(
    "mm3_audio_chunks",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               2048 + octet_length(CAST(text AS BLOB)) % 8192 AS n_samples
        FROM documents
        WHERE {_MEDIA_CASE} = 'audio'
    )
    SELECT asset_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(i * 512 AS INTEGER) AS start_sample,
           CAST(i * 512 + 1024 AS INTEGER) AS end_sample
    FROM a, LATERAL (SELECT unnest(range(0, (n_samples - 1024) // 512 + 1)) AS i)
    """,
    survey="NS-mm (audio windowing: mapInPandas 1→N fan-out, UDTF shape)",
)
def mm3_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-length windows per audio asset (stub sample
    counts) — the 1→N mapInPandas shape: output cardinality exceeds input,
    the filter to audio runs scan-side, and every chunk boundary is a pure
    function of the payload (oracle recomputes the grid in SQL)."""
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.chunk_audio(spread(assets))


@register(
    "mm4_image_resize_plan",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               octet_length(CAST(text AS BLOB)) AS blen,
               md5(text) AS h
        FROM documents
        WHERE {_MEDIA_CASE} = 'image'
    ),
    d AS (
        SELECT asset_id,
               16 + blen % 624 AS src_w,
               16 + ('0x' || substr(h, 1, 4))::BIGINT % 624 AS src_h
        FROM a
    ),
    r AS (
        SELECT asset_id, src_w, src_h,
               greatest(src_w, src_h) AS long_edge,
               CASE WHEN greatest(src_w, src_h) > {MM.RESIZE_TARGET}
                    THEN greatest(1, (src_w * {MM.RESIZE_TARGET}) // greatest(src_w, src_h))
                    ELSE src_w END AS out_w,
               CASE WHEN greatest(src_w, src_h) > {MM.RESIZE_TARGET}
                    THEN greatest(1, (src_h * {MM.RESIZE_TARGET}) // greatest(src_w, src_h))
                    ELSE src_h END AS out_h
        FROM d
    )
    SELECT asset_id,
           CAST(src_w AS INTEGER) AS src_w,
           CAST(src_h AS INTEGER) AS src_h,
           CAST(out_w AS INTEGER) AS out_w,
           CAST(out_h AS INTEGER) AS out_h,
           CAST(src_w * src_h AS BIGINT) AS n_pixels_in,
           CAST(out_w * out_h AS BIGINT) AS n_pixels_out,
           long_edge > {MM.RESIZE_TARGET} AS downscaled
    FROM r
    """,
    survey="NS-mm (image preprocessing: aspect-preserving resize plan, integer-exact)",
)
def mm4_image_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plan for every image asset — fit the long
    edge into a 224-pixel box, never upscale, report the pixel-count
    savings.  The standard vision-model preprocessing step, planned as a
    1→1 mapInPandas stage over the binary column (the stub decode stands
    in for PIL; the resize arithmetic is all-integer so the oracle
    recomputes it exactly).  Scan-side media_type filter means only image
    blobs ever reach Python."""
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.plan_resizes(spread(assets))


@register(
    "mm5_video_frame_sample",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               octet_length(CAST(text AS BLOB)) AS blen,
               md5(text) AS h
        FROM documents
        WHERE {_MEDIA_CASE} = 'video'
    ),
    p AS (
        SELECT asset_id,
               1 + blen % 32 AS n_frames,
               6 + ('0x' || substr(h, 5, 2))::BIGINT % 25 AS fps
        FROM a
    )
    SELECT asset_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(i * 1000 // fps AS INTEGER) AS pts_ms,
           CAST(fps AS INTEGER) AS fps,
           CAST(n_frames AS INTEGER) AS n_frames
    FROM p, LATERAL (
        SELECT unnest(range(0, n_frames, greatest(1, (n_frames + 7) // 8))) AS i
    )
    """,
    survey="NS-mm (video frame sampling: 1→N mapInPandas with integer-exact PTS grid)",
)
def mm5_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame sampling per video asset with integer-exact
    presentation timestamps — the video-side companion to mm3's audio
    windows: 1→N mapInPandas fan-out, scan-side media filter, stubbed
    container probe (fps/frame count derived from the bytes), and a ≤8
    frames/clip cap that bounds output cardinality at any corpus size."""
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.sample_video_frames(spread(assets))


@register(
    "mm6_modality_interleave",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               {_MEDIA_CASE} AS media_type,
               CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS m_idx,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS shuffle_key
        FROM documents
    ),
    r AS (
        SELECT asset_id, media_type, m_idx,
               row_number() OVER (
                   PARTITION BY m_idx ORDER BY shuffle_key, asset_id
               ) AS rnk
        FROM a
    )
    SELECT CAST((rnk - 1) * 3 + m_idx AS BIGINT) AS interleave_key,
           media_type, asset_id,
           CAST(rnk AS BIGINT) AS within_modality_rank
    FROM r
    """,
    survey="NS-mm (modality-interleaved batch assembly: deterministic hash-shuffle + round-robin key)",
)
def mm6_modality_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly for a multimodal corpus: pseudo-shuffle each
    modality by a content-independent md5 key, then round-robin interleave
    (``key = rank·n_modalities + modality``) so consecutive samples cycle
    image→audio→video instead of clumping — deterministic on any engine,
    partitioning, or rerun (same property as x13's split and x16's
    mixture).

    Scale shape: one window per modality partition (three bounded
    partitions here; at 100 TB use hash-bucket sub-partitions within each
    modality with the same key arithmetic), zero joins; downstream
    writers range-partition on interleave_key to get globally-mixed
    shards without a global sort."""
    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    from pyspark.sql import Window as W

    m_idx = (F.col("asset_id") % 3).cast("int")
    shuffle_key = F.conv(
        F.substring(F.md5(F.col("asset_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    a = assets.select(
        "asset_id", "media_type", m_idx.alias("m_idx"), shuffle_key.alias("sk")
    )
    rnk = F.row_number().over(
        W.partitionBy("m_idx").orderBy("sk", "asset_id")
    )
    return a.withColumn("rnk", rnk).select(
        ((F.col("rnk") - 1) * 3 + F.col("m_idx")).cast("bigint").alias(
            "interleave_key"
        ),
        "media_type",
        "asset_id",
        F.col("rnk").cast("bigint").alias("within_modality_rank"),
    )


@register(
    "mm7_caption_pairs",
    oracle=f"""
    WITH assets AS (
        SELECT doc_id AS asset_id,
               {_MEDIA_CASE} AS media_type,
               CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len
        FROM documents
    ),
    captions AS (
        SELECT doc_id AS caption_id, lang,
               CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS INTEGER)
                   AS n_caption_tokens
        FROM documents
    )
    SELECT a.asset_id, a.media_type, a.byte_len,
           c.caption_id, c.lang, c.n_caption_tokens
    FROM assets a
    JOIN captions c ON c.caption_id = (a.asset_id + 7) % 500
    WHERE a.media_type = 'image'
      AND c.n_caption_tokens BETWEEN 5 AND 200
      AND c.lang = 'en'
    """,
    survey="NS-mm extended (text-image training pair assembly: keyed pairing + caption quality gate)",
)
def mm7_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style training-pair assembly: image assets keyed to candidate
    captions ((id+7) mod N stands in for the alignment table a real corpus
    carries), with a caption quality gate (5–200 tokens, English) applied
    BEFORE the pair ships.  One equality join on the pairing key + codegen
    filters on both sides — at 100 TB the caption side prunes to the gate
    survivors before the shuffle, and the binary payload never moves
    (metadata-only projection until a downstream decode stage needs
    bytes)."""
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    n_docs = 500  # pairing-table modulus, matches the oracle
    assets = MM.to_assets(docs, "doc_id", "text").select(
        "asset_id",
        "media_type",
        F.octet_length("content").alias("byte_len"),
    )
    captions = docs.select(
        F.col("doc_id").alias("caption_id"),
        "lang",
        token_count("text").alias("n_caption_tokens"),
    ).where(
        (F.col("n_caption_tokens").between(5, 200)) & (F.col("lang") == "en")
    )
    pairs = assets.where(F.col("media_type") == "image").join(
        captions,
        ((F.col("asset_id") + 7) % n_docs) == F.col("caption_id"),
    )
    return pairs.select(
        "asset_id", "media_type", "byte_len",
        "caption_id", "lang", "n_caption_tokens",
    )


@register(
    "mm8_integrity_audit",
    oracle=f"""
    WITH assets AS (
        SELECT doc_id AS asset_id,
               {_MEDIA_CASE} AS media_type,
               octet_length(CAST(text AS BLOB)) AS actual_len,
               CASE WHEN doc_id % 50 = 0
                    THEN greatest(octet_length(CAST(text AS BLOB)) - 3, 0)
                    ELSE octet_length(CAST(text AS BLOB)) END AS declared_len
        FROM documents
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(count(CASE WHEN actual_len <> declared_len THEN 1 END) AS BIGINT)
               AS n_corrupt,
           CAST(sum(actual_len) AS BIGINT) AS total_bytes
    FROM assets GROUP BY media_type
    """,
    survey="NS-mm extended (blob integrity audit: declared-vs-actual length reconciliation)",
)
def mm8_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob integrity audit: reconcile each asset's DECLARED length against
    its actual payload bytes and count mismatches per modality — the
    transfer-corruption / truncated-upload gate an object-store ingest
    runs before decode jobs waste GPU time.  (Every 50th asset's declared
    length is deterministically perturbed here so the audit provably
    catches exactly that set.)  Metadata-only expressions over the blob —
    the bytes are length-checked, never parsed."""
    docs = load_table(spark, sf_dir, "documents")
    assets = MM.to_assets(docs, "doc_id", "text")
    actual = F.octet_length("content")
    declared = F.when(
        F.col("asset_id") % 50 == 0, F.greatest(actual - 3, F.lit(0))
    ).otherwise(actual)
    return (
        assets.select(
            "media_type",
            actual.alias("actual_len"),
            declared.alias("declared_len"),
        )
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n_assets"),
            F.count(
                F.when(F.col("actual_len") != F.col("declared_len"), 1)
            ).cast("bigint").alias("n_corrupt"),
            F.sum("actual_len").cast("bigint").alias("total_bytes"),
        )
    )


@register(
    "mm9_frame_feature_pooling",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id,
               octet_length(CAST(text AS BLOB)) AS blen,
               md5(text) AS h
        FROM documents
        WHERE {_MEDIA_CASE} = 'video'
    ),
    p AS (
        SELECT asset_id, h,
               1 + blen % 32 AS n_frames
        FROM a
    ),
    frames AS (
        SELECT asset_id, h, CAST(i AS INTEGER) AS frame_idx
        FROM p, LATERAL (
            SELECT unnest(range(0, n_frames, greatest(1, (n_frames + 7) // 8))) AS i
        )
    ),
    feat AS (
        SELECT asset_id, frame_idx,
               ('0x' || substr(md5(concat(h, ':', frame_idx::VARCHAR, ':0')), 1, 8))::BIGINT % 1000 AS f0,
               ('0x' || substr(md5(concat(h, ':', frame_idx::VARCHAR, ':1')), 1, 8))::BIGINT % 1000 AS f1,
               ('0x' || substr(md5(concat(h, ':', frame_idx::VARCHAR, ':2')), 1, 8))::BIGINT % 1000 AS f2,
               ('0x' || substr(md5(concat(h, ':', frame_idx::VARCHAR, ':3')), 1, 8))::BIGINT % 1000 AS f3
        FROM frames
    )
    SELECT asset_id,
           CAST(count(*) AS BIGINT) AS n_frames_pooled,
           round(avg(f0), 4) AS e0,
           round(avg(f1), 4) AS e1,
           round(avg(f2), 4) AS e2,
           round(avg(f3), 4) AS e3
    FROM feat GROUP BY asset_id
    """,
    survey="NS-mm extended (temporal pooling: per-frame features mean-pooled to an asset-level embedding)",
)
def mm9_frame_feature_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video → embedding, the full multimodal feature shape: decode
    (stubbed container probe), evenly-spaced frame sampling (mm5's grid),
    a per-frame feature vector (deterministic pseudo-features standing in
    for a vision encoder — pure functions of the frame bytes), and MEAN
    POOLING over the temporal axis into one asset-level embedding.  At
    100 TB the pooling is the cheap half (a keyed aggregate over ≤8 rows
    per asset); the encoder half is the mapInPandas batch stage mm2
    already proves — this query pins the aggregation contract those
    features feed.  Exact-integer features; only the final mean is float,
    rounded to 4 dp."""
    from ..operators.dedup import h32

    assets = MM.to_assets(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    frames = MM.sample_video_frames(spread(assets))
    chk = assets.where(F.col("media_type") == "video").select(
        "asset_id", F.md5("content").alias("h")
    )
    f = frames.join(chk, "asset_id")
    def frame_feat(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("h"),
                            F.lit(":"),
                            F.col("frame_idx").cast("string"),
                            F.lit(f":{j}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000
        ).alias(f"f{j}")

    feats = [frame_feat(j) for j in range(4)]
    feat = f.select("asset_id", "frame_idx", *feats)
    return feat.groupBy("asset_id").agg(
        F.count("*").alias("n_frames_pooled"),
        *[F.round(F.avg(f"f{j}"), 4).alias(f"e{j}") for j in range(4)],
    )


_PH_SUMS = ",\n               ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(32)
)
_PH_VAL = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {2**i}::BIGINT ELSE 0::BIGINT END)"
    for i in range(32)
)
_PH_BANDS = " UNION ALL ".join(
    f"SELECT asset_id, {i} AS band, (phash >> {8 * i}) & 255 AS bv FROM ph"
    for i in range(4)
)


@register(
    "mm10_phash_neardup",
    oracle=f"""
    WITH img AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx
        FROM documents WHERE doc_id % 3 = 0 AND length(hex(encode(text))) >= 6
    ),
    sh AS (
        SELECT asset_id,
               unnest(list_transform(range(1, greatest(length(hx) - 5, 0) + 1, 2),
                                     i -> substr(hx, i, 6))) AS shingle
        FROM img
    ),
    eh AS (
        SELECT asset_id,
               ('0x' || substr(md5(concat('7:', shingle)), 1, 8))::BIGINT AS h
        FROM sh
    ),
    sums AS (SELECT asset_id, {_PH_SUMS} FROM eh GROUP BY asset_id),
    ph AS (SELECT asset_id, {_PH_VAL} AS phash FROM sums),
    banded AS ({_PH_BANDS}),
    cand AS (
        SELECT DISTINCT x.asset_id AS id_a, y.asset_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bv = y.bv AND x.asset_id < y.asset_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(pa.phash, pb.phash)) AS INTEGER) AS hamming
    FROM cand c
    JOIN ph pa ON pa.asset_id = c.id_a
    JOIN ph pb ON pb.asset_id = c.id_b
    WHERE bit_count(xor(pa.phash, pb.phash)) <= 3
    """,
    survey="NS-mm,NS-dedup (perceptual-hash near-dup images: stub pHash + multi-index hamming search, exact recall by pigeonhole)",
)
def mm10_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection: stub pHash over the image assets'
    binary payloads (operators/multimodal.phash32_stub — the real DCT
    pHash slots into the decode_real seam), then multi-index hamming
    search (hamming ≤ 3 via 4-byte pigeonhole banding + equality
    self-join — 100% recall without an all-pairs plan).  Metadata pruning
    does its job first: only ``media_type = 'image'`` rows are hashed, a
    predicate on a plain column that never touches the blobs."""
    docs = load_table(spark, sf_dir, "documents")
    assets = MM.to_assets(docs, "doc_id", "text").where(
        F.col("media_type") == "image"
    )
    # spread (round 11): the hex-trigram hashing is ~1 md5
    # per 2 payload bytes and the local single-row-group scan is
    # unsplittable — without the spread the whole stage ran on one core
    # (mm10's 8→32-core scaling ratio was 1.21 in the r10 driver bench).
    ph = MM.phash32_stub(spread(assets))
    return MM.hamming_band_pairs(ph)


@register(
    "mm11_vad_segments",
    oracle=f"""
    WITH a AS (
        SELECT doc_id AS asset_id, md5(text) AS h,
               2048 + octet_length(CAST(text AS BLOB)) % 8192 AS n_samples
        FROM documents
        WHERE {_MEDIA_CASE} = 'audio'
    ),
    chunks AS (
        SELECT asset_id, h, CAST(i AS INTEGER) AS chunk_idx
        FROM a, LATERAL (SELECT unnest(range(0, (n_samples - 1024) // 512 + 1)) AS i)
    ),
    e AS (
        SELECT asset_id, chunk_idx,
               CAST(('0x' || substr(md5(concat(h, ':', CAST(chunk_idx AS VARCHAR))), 1, 4))::BIGINT % 1000
                    AS BIGINT) AS energy
        FROM chunks
    ),
    act AS (
        SELECT asset_id, chunk_idx, energy,
               chunk_idx - row_number() OVER (PARTITION BY asset_id ORDER BY chunk_idx) AS island
        FROM e WHERE energy >= 300
    )
    SELECT asset_id,
           CAST(min(chunk_idx) AS INTEGER) AS seg_start_chunk,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(energy) AS BIGINT) AS energy_sum
    FROM act GROUP BY asset_id, island
    """,
    survey="NS-mm extended (voice-activity segmentation: stub chunk energies + gaps-and-islands merge — audio curation shape)",
)
def mm11_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over chunked audio, the curation step
    that decides which spans of 100 TB of audio are worth transcribing:
    per-chunk energy (STUB — deterministic from the payload digest; a
    real energy/VAD model slots into the same per-chunk scalar), a
    threshold gate, and consecutive active chunks merged into segments
    via gaps-and-islands (w7's sessionization algebra applied to media
    windows).  The chunk grid is mm3's mapInPandas fan-out; everything
    after it is codegen windows — Python never sees inactive chunks'
    neighbors."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    assets = MM.to_assets(docs, "doc_id", "text")
    chunks = MM.chunk_audio(spread(assets))
    sums = assets.select(
        "asset_id", F.md5(F.col("content").cast("string")).alias("h")
    )
    e = chunks.join(sums, "asset_id").select(
        "asset_id",
        "chunk_idx",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("h"),
                            F.lit(":"),
                            F.col("chunk_idx").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000
        ).alias("energy"),
    )
    act = e.where(F.col("energy") >= 300).withColumn(
        "island",
        F.col("chunk_idx")
        - F.row_number().over(
            W.partitionBy("asset_id").orderBy("chunk_idx")
        ),
    )
    return act.groupBy("asset_id", "island").agg(
        F.min("chunk_idx").cast("int").alias("seg_start_chunk"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("energy").cast("bigint").alias("energy_sum"),
    ).drop("island")
