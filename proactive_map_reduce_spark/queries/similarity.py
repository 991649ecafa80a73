"""Embedding similarity and multimodal queries: brute-force/LSH/IVF top-k,
centroids, quantization, and the binary-column multimodal stages."""

from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    _chunks,
    _docs,
    _events_with_pos,
    _hashlib_sha256,
    _standin_embed,
    _words,
)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (label-blocked)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.embedding_near_dup_pairs(emb, NEAR_DUP_COS, dim=sim_ops.EMBED_DIM)


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 8 query vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.brute_force_topk(emb, n_queries=8, k=5, dim=sim_ops.EMBED_DIM)


def q_similarity_lsh(spark, sf_dir):
    """Sign-bucket LSH approximate top-5 (scale path: bucket equi-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_topk(emb, n_queries=8, k=5, n_bits=4, dim=sim_ops.EMBED_DIM)


def q_multimodal_features(spark, sf_dir):
    """Binary-payload feature extraction through the mapInPandas seam
    (deterministic fake codec; real decode is the documented stub)."""
    payloads = mm_ops.attach_payload(_docs(spark, sf_dir))
    return mm_ops.extract_features(payloads)


def q_multimodal_resize(spark, sf_dir):
    """Resize stage (stub codec, real mapInPandas plumbing): scale-to-width
    with integer aspect math, audio passes through 0x0."""
    payloads = mm_ops.attach_payload(_docs(spark, sf_dir))
    out = mm_ops.resize_media(payloads, target_w=512)
    return out.select(
        "doc_id", "media_type", "width", "height", "out_width", "out_height",
        F.length("out_payload").cast("bigint").alias("out_payload_len"),
    )


def q_multimodal_frames(spark, sf_dir):
    """Frame sampling: every 30th frame id of each video payload."""
    feats = mm_ops.extract_features(mm_ops.attach_payload(_docs(spark, sf_dir)))
    return mm_ops.sample_frames(feats, every=30).select(
        "doc_id", F.col("n_frames"), F.col("frame_id").cast("bigint").alias("frame_id")
    )


def q_similarity_ivf(spark, sf_dir):
    """IVF approximate top-k (deterministic fixed-point Lloyd's coarse
    quantizer, nprobe=3 of 8 clusters). Integer distance/centroid math
    makes cluster boundaries bit-stable cross-engine → fully hash-checked
    in the driver gate; recall vs brute force is pinned by tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(emb, n_queries=8, k=5, n_clusters=8, nprobe=3)


def q_embed_documents(spark, sf_dir):
    """Documents → embeddings bridge: deterministic stand-in encoder
    (hash-derived unit-less vector per doc; a real encoder swaps in as a
    mapInPandas stage exactly like M1). Emits the vector's checksum and
    first component so the full array is value-checked without float-
    array hashing ambiguity."""
    d = _docs(spark, sf_dir)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda i: F.round(
            (portable_hash64(F.concat(F.col("text"), i.cast("string"))) % 10000) / 10000.0, 6
        ),
    )
    return d.select(
        "doc_id",
        vec.alias("emb"),
    ).select(
        "doc_id",
        F.lit(EMBED_DIM).cast("int").alias("dim"),
        F.round(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x), 6).alias("emb_sum"),
        F.col("emb")[0].alias("emb_0"),
    )


def q_quantize_embeddings(spark, sf_dir):
    """Int8 embedding quantization (the storage/serving compression every
    vector index applies before ANN): per-vector symmetric scale
    s = max|x|/127, dims quantized to round(x/s), plus reconstruction
    error stats — max abs error must stay ≤ s/2 by construction.

    Narrow zero-shuffle projection: quantization is per-row arithmetic
    over the array column, entirely inside the scan stage — dim-unrolled
    (EMBED_DIM is schema-known) so the whole pass stays in whole-stage
    codegen rather than interpreted array HOFs, same as the similarity
    hot path. At 100 TB this is the prep pass that shrinks the vector
    column 4× before the IVF/LSH index build reads it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dim = sim_ops.EMBED_DIM
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("v"))
    amax = F.greatest(*[F.abs(F.col("v")[d]) for d in range(dim)])
    staged = base.select("vec_id", "v", (amax / F.lit(QUANT_SCALE)).alias("s"))
    # zero-vector guard: s = max|x|/127 = 0 for an all-zero embedding
    # (padding row, failed encode), and x/0 THROWS under ANSI mode while
    # DuckDB yields NULL. Dividing by a stand-in 1.0 keeps both engines
    # on q=0, err=0 — scale itself still reports 0.
    s_safe = F.when(F.col("s") == 0, F.lit(1.0)).otherwise(F.col("s"))
    qd = [F.round(F.col("v")[d] / s_safe).cast("int") for d in range(dim)]
    errd = [
        F.abs(F.col("v")[d] - qd[d] * F.col("s")) for d in range(dim)
    ]
    # Corrupt-vector quarantine (the null-payload convention): a NaN
    # component makes the scale NaN and round(NaN)::int RAISES under
    # ANSI (DuckDB's NaN::int cast equally errors — adversarial-gate
    # find), so quantization is undefined for the row. Keep the row
    # (joins don't silently lose the vector) with NULL metadata; CASE
    # short-circuits, so the int casts never see the NaN lane.
    has_nan = F.exists("v", lambda c: F.isnan(c))
    null_if_nan = lambda col: F.when(has_nan, F.lit(None)).otherwise(col)  # noqa: E731
    return staged.select(
        "vec_id",
        null_if_nan(F.round(F.col("s"), 6)).alias("scale"),
        null_if_nan(F.greatest(*qd)).alias("q_max"),
        null_if_nan(F.least(*qd)).alias("q_min"),
        null_if_nan(F.round(F.greatest(*errd), 6)).alias("max_abs_err"),
    )


def q_similarity_ivf_sampled(spark, sf_dir):
    """IVF with the sampled-training path ON (train_fraction=0.5, the
    deterministic md5 hash gate): the 100 TB configuration, where the
    coarse quantizer trains on a corpus sample while assignment and
    probing stay full passes. Fully hash-checked — the sample, and thus
    the quantizer, is bit-reproducible cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(
        emb, n_queries=8, k=5, n_clusters=8, nprobe=3, train_fraction=0.5
    )


def q_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroids (the building block of IVF training
    and cluster-based curation): posexplode the vectors, average per
    (label, dim), reassemble in dim order. Two exchanges — (label, dim)
    partial-agg then label reassembly; vector width is a constant, so
    exchanged volume is rows x dim regardless of corpus size.

    Output is the centroid's checksum + first component (same
    float-array-hash-free convention as q_embed_documents)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Corrupt-vector quarantine (the null-payload convention,
    # operators/multimodal.py): a NaN component cannot contribute to a
    # trained centroid, so vectors containing one are EXCLUDED from the
    # aggregate entirely — deterministic in both engines, unlike
    # NaN-poisoned float sums. Mirrored in the oracle.
    clean = emb.filter(
        ~F.exists("embedding", lambda c: F.isnan(c.cast("double")))
    )
    dims = clean.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    # Exact integer micro-unit accumulation (functions/numeric.py
    # fixed_units): per-(label,dim) bigint sums are associative, so the
    # displayed values cannot drift with partition merge order or engine
    # accumulation order (a raw double sum here was the one remaining
    # float-sum display site). Every vector carries every dim, so n is
    # constant per label and sum-of-means == (sum of unit sums)/n; the
    # final quotients divide IDENTICAL exact integers through the same
    # IEEE ops on both engines — bit-identical with no rounding step.
    # Components clamp to ±1e6 first (DOUBLE-side, BEFORE fixed_units —
    # Spark's floor() would merely saturate a 1e36-unit outlier at
    # Long.Max but DuckDB's BIGINT cast raises, so the clamp must happen
    # while both engines still agree): embeddings carry no schema-level
    # magnitude cap, and an unclamped 1e30 component overflows the
    # bigint micro-unit SUM under ANSI (adversarial-gate find). Real
    # embedding components are O(1); the clamp is exact-identity there
    # and caps garbage deterministically in both engines.
    comp = fixed_units(
        F.greatest(
            F.least(F.col("x").cast("double"), F.lit(1e6)), F.lit(-1e6)
        ),
        6,
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum(comp).alias("sxi"),
        F.count("*").alias("n"),
    )
    cent = per_dim.groupBy("label").agg(
        F.sum("sxi").alias("total_units"),
        F.min(F.when(F.col("dim") == 0, F.col("sxi"))).alias("units_0"),
        F.max("n").cast("bigint").alias("n_vectors"),
        F.count("*").cast("int").alias("dim"),
    )
    return cent.select(
        "label",
        "n_vectors",
        "dim",
        (F.col("total_units") / F.col("n_vectors") / F.lit(1e6)).alias("centroid_sum"),
        (F.col("units_0") / F.col("n_vectors") / F.lit(1e6)).alias("centroid_0"),
    )
