"""Similarity search over embedding columns (north-star extras).

Brute-force cosine top-k as the correctness baseline, and a sign-bit LSH
bucketed variant as the 100 TB scale path.

Scale design:
- Brute force is O(|Q|·|C|): acceptable only because the query set is
  small and rides into the plan as literals; candidates stream through
  one narrow stage — no shuffle of the corpus. Ranking shuffles only
  (query_id, cos) pairs.
- The LSH variant buckets vectors by the sign pattern of their leading
  dimensions (a deterministic random-hyperplane sketch with axis-aligned
  planes): candidate generation becomes an equi-join on bucket id, so the
  per-query work no longer scans the full corpus. The bucket is the sign
  pattern of the first 4 dimensions; fewer bits would mean bigger
  buckets and higher recall.

Floats are widened to double before any arithmetic; cosine is rounded to
6 before ranking so both engines rank identical values (ties broken by
vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    # Cast, not F.transform: array-to-array Cast is a codegen expression,
    # while transform() is an interpreted higher-order function evaluated
    # per element. float->double widening is exact either way, so the
    # values (and oracle hashes) are identical.
    return col.cast("array<double>")


def cos_expr(dot, norm_prod):
    """dot/(‖a‖·‖b‖) with the zero-norm guard: a zero vector has no
    direction, so its cosine is NULL — exactly what DuckDB's x/0.0
    yields, while Spark under ANSI mode THROWS on any double division
    by zero (found by the --extreme sweep's zero-vector row; zero
    embeddings are routine in practice — padding rows, dead features).
    Null cosines sort last in top-k windows and fail ``>= threshold``
    filters identically on both engines, so every consumer's semantics
    are unchanged for non-degenerate vectors."""
    return F.when(norm_prod != 0, dot / norm_prod)


def cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return cos_expr(dot, na * nb)


# Test-data embedding dimensionality (embeddings.parquet, all SFs). Every
# similarity operator unrolls its dot and norm over it, so query
# construction never fires an eager probe job for the width.
EMBED_DIM = 64

# Near-duplicate cosine threshold. The fixture embeddings are random (max
# cos ~0.48); at this threshold ``embedding_near_dup_pairs`` returns a
# small nonzero pair set.
NEAR_DUP_COS = 0.4

# Accumulator-chunk width for the unrolled dot/norm sums. Chunked
# accumulation (8 sums of 8, then one 8-term combine) keeps the identical
# term count inside whole-stage codegen but caps expression depth at ~15.
# The chunk association is mirrored verbatim in oracles._cos_sql so both
# engines compute bit-identical IEEE doubles.
#
# Round-4 root cause of the bench gap (supersedes the round-3 "per-action
# constants" theory): a 64-term dot over TWO DISTINCT array operands
# generates a fused doConsume past HotSpot's 8000-bytecode compile limit
# (DontCompileHugeMethods), so the stage ran as interpreted bytecode —
# term-count sweep showed a cliff between 32 and 64 mixed terms (0.12 s →
# 0.33 s) while one-operand 64-term sums (v·v, qv·qv — subexpression
# sharing halves the bytecode) stayed compiled and fast. Fixed globally by
# spark.sql.codegen.hugeMethodLimit=8000 in session._RUNTIME_CONFS: Spark
# now abandons fusion exactly where the JVM would refuse to JIT, and
# per-operator codegen (split methods under the limit) runs compiled.
# Measured interleaved at sf0.1: noop-save 0.57 s → 0.38 s. The remaining
# ~0.3 s over DuckDB's 0.09 s is the two-AQE-stage action floor (~0.22 s
# for a trivial aggregation) plus one serial single-split scan task —
# constants that vanish at real scale and with resident plans.
_CHUNK = 8


def _chunked_sum(terms):
    """Left-to-right fold of ``terms`` in chunks of ``_CHUNK``: chunk sums
    first (each left-leaning), then one left-leaning combine. SQL's
    left-associative `+` over the same chunk layout parses to the exact
    same tree, so the oracle mirrors this association verbatim."""
    chunks = []
    for c0 in range(0, len(terms), _CHUNK):
        s = terms[c0]
        for t in terms[c0 + 1 : c0 + _CHUNK]:
            s = s + t
        chunks.append(s)
    out = chunks[0]
    for c in chunks[1:]:
        out = out + c
    return out


def _chunked_sum_sql(terms: list[str]) -> str:
    """The same chunk association as ``_chunked_sum``, as ONE SQL string.

    Building a 64-term expression Column-by-Column costs ~200 py4j
    round-trips ≈ 0.7 s of driver time per plan build (measured);
    F.expr() parses the whole tree in a single call. Explicit parens per
    chunk reproduce the fold order exactly, so IEEE results — and oracle
    hashes — are unchanged.
    """
    chunks = [
        "(" + " + ".join(terms[c0 : c0 + _CHUNK]) + ")"
        for c0 in range(0, len(terms), _CHUNK)
    ]
    return "(" + " + ".join(chunks) + ")"


def unrolled_dot(a, b):
    """Σ a[d]·b[d] unrolled over the ``EMBED_DIM`` dims, chunk-accumulated
    (see ``_CHUNK``). The whole expression stays inside whole-stage
    codegen — Spark's array higher-order functions are interpreted, which
    made the HOF cosine the hot-path cost of every similarity query —
    while the shallow tree keeps Catalyst's per-plan constant cost flat.

    Pass column NAMES (str) to build the tree through one F.expr parse
    (fast path); Column args take the py4j-per-term path."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_chunked_sum_sql([f"{a}[{d}] * {b}[{d}]" for d in range(EMBED_DIM)]))
    return _chunked_sum([a[d] * b[d] for d in range(EMBED_DIM)])


def unrolled_norm():
    """‖v‖ of the ``v`` column, with the same chunked fold order as
    ``unrolled_dot``."""
    return F.sqrt(F.expr(_chunked_sum_sql([f"v[{d}] * v[{d}]" for d in range(EMBED_DIM)])))


def brute_force_topk(emb: DataFrame) -> DataFrame:
    """Exact cosine top-5 over (vec_id, embedding) rows for the 8 query
    vectors vec_id < 8.

    Norms are computed ONCE per row (not per query×corpus pair), and
    dot/norm are dim-unrolled codegen expressions built through a single
    F.expr parse — same IEEE values as the HOF form, minus the
    interpreted-eval, the |Q|× norm recomputation, and the per-term py4j
    construction cost.

    The query vectors are fetched at plan-build time (one pushed-filter
    job over |Q| rows) and ride into the plan as literals — exactly how a
    serving system receives query vectors as request parameters. The pair
    stage is then a single narrow projection over ONE corpus scan: no
    broadcast exchange, no second scan.

    A query vector with a NULL component (or a NULL vector) has no
    literal spelling and no defined cosine; it raises ``ValueError``
    naming its id. NaN and ±Infinity components are spelled as SQL
    double casts and flow through the arithmetic like any double.
    """
    base = emb.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", unrolled_norm())
    qrows = (
        base.filter(F.col("vec_id") < 8)
        .select("vec_id", "v", "nv")
        .collect()
    )
    if not qrows:
        # F.array() with zero args is array<null> — explode + struct
        # field access would fail analysis. An empty query set has a
        # well-defined answer: no rows, in the output schema.
        return emb.sparkSession.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, cos_sim double, rank int",
        )
    # ONE literal in the plan: the queries ride in as
    # `inline(array(named_struct('query_id', …, 'qv', array(…),
    # 'nq', …)))` — a single foldable Generate input, so (query_id, qv,
    # nq) come out as plain GENERATE ATTRIBUTES. A packed form (three
    # array literals indexed by the explode position) lets
    # CollapseProject re-inline the whole |Q|×dim vector literal into
    # EVERY one of the `dim` dot-product terms (`GetArrayItem(literal,
    # qi)` counts as cheap), blowing the physical plan to ~666 KB — the
    # per-action optimizer walk and codegen setup over that tree, not
    # the arithmetic, was the cost. Struct-field extraction over a
    # Generate attribute carries no literal, so the plan stays ~15 KB
    # with the same chunked IEEE association. Floats ride through
    # repr() (exact round-trip, like the C4 schedule constants);
    # non-finite components spell the SQL cast form instead.
    def _d(x: float | None, vec_id) -> str:
        import math as _math

        if x is None:
            raise ValueError(
                f"brute_force_topk: query vec_id={vec_id} has a NULL "
                "vector component or norm; a query vector needs every "
                "component"
            )
        if _math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if _math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        return repr(float(x)) + "D"

    def _struct(r) -> str:
        qid = int(r["vec_id"])
        nq = _d(r["nv"], qid)  # a NULL vector or component has a NULL norm
        v = r["v"]
        vec = ", ".join(_d(x, qid) for x in ([None] if v is None else v))
        return f"named_struct('query_id', {qid}L, 'qv', array({vec}), 'nq', {nq})"

    structs = ", ".join(_struct(r) for r in qrows)
    scored = (
        base.select("vec_id", "v", "nv", F.expr(f"inline(array({structs}))"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cos_expr(unrolled_dot("qv", "v"), F.col("nq") * F.col("nv")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def sign_bucket(vec_col):
    """Deterministic LSH bucket: sign pattern of the first 4 dims."""
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, 1, 4),
            F.sequence(F.lit(0), F.lit(3)),
            lambda x, i: F.when(x >= 0, F.pow(F.lit(2.0), i.cast("double"))).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    ).cast("bigint")


def lsh_topk(emb: DataFrame) -> DataFrame:
    """Approximate top-5 for the 8 query vectors vec_id < 8: rank only
    candidates in the query's 4-bit sign bucket.

    The trade, measured against ``brute_force_topk`` (seeded Gaussian
    64-dim vectors, 4 vCPU): 1.6 s vs 3.8 s at 100k
    vectors and 3.3 s vs 14.0 s at 400k, at recall@5 0.25."""
    base = (
        emb.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
        .withColumn("bucket", sign_bucket(F.col("v")))
        .withColumn("nv", unrolled_norm())
    )
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
        F.col("nv").alias("nq"),
    )
    scored = (
        base.join(F.broadcast(queries), F.col("bucket") == F.col("qb"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cos_expr(unrolled_dot("qv", "v"), F.col("nq") * F.col("nv")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(F.col("rank") <= 5)


def embedding_near_dup_pairs(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate (vec_id) pairs at cosine ≥
    ``NEAR_DUP_COS``, blocked by label.

    Blocking bounds the pair count (at scale: replace label with a coarse
    LSH bucket); exact cosine verifies each candidate pair.
    """
    base = emb.select(
        F.col("vec_id"), F.col("label").alias("blk"), _as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", unrolled_norm())
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("blk"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("blk"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                cos_expr(
                    unrolled_dot(F.col("va"), F.col("vb")),
                    F.col("na") * F.col("nb"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )
