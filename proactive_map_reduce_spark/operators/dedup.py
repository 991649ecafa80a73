"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (north-star extras): exact dedup, MinHash
+ LSH banding, SimHash, and n-gram Jaccard near-dup — the standard suite
for 100 TB corpus curation, built shuffle-consciously:

- Exact: one groupBy on a 256-bit content hash — the only full shuffle,
  keyed uniformly (no skew: hash keys are uniform by construction).
- MinHash: signatures are array higher-order expressions over each
  document's shingle array (one md5 per shingle, then `MINHASH_N` affine
  mins) in one narrow projection — no explode, no shuffle; LSH banding
  turns all-pairs comparison (O(n²), impossible at 100 TB) into an
  equi-join on (band_id, band_hash) — each bucket is tiny, and the join
  key count grows linearly with corpus size.
- SimHash: 32 array folds over the hashed word array per document,
  no shuffle.
- n-gram Jaccard: blocking key (lang, length bucket) bounds the candidate
  set; exact Jaccard via distinct-shingle join only within blocks.

All hashes are the portable md5-derived family (functions/hashing.py), so
every operator here is value-checkable against the DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.numeric import round_ratio
from ..functions.text import normalize_text

# Universal-hash family for MinHash: h_j(x) = (a_j·x + b_j) mod p over the
# base md5-derived hash. p = 2^31 − 1 keeps a_j·x < 2^62 (no int64
# overflow in either Spark or DuckDB); constants are fixed odd/offset
# values so signatures are deterministic and oracle-reproducible.
MINHASH_PRIME = 2147483647
MINHASH_A = [
    1103515245, 1588635695, 1117695901, 1287709093, 1196314165, 1653202929,
    1341234487, 1739581621, 1442695041, 1865811235, 1203248689, 1291394887,
    1520944621, 1947483647, 1635213587, 1111111113,
]
MINHASH_B = [
    12345, 1013904223, 56789, 987654321, 1327217885, 43210987, 246813579,
    135792468, 864209753, 975318642, 159263487, 951357852, 753159852,
    258741369, 369852147, 147258369,
]
#: Signature components per document, and the LSH bands they split into.
MINHASH_N = 16
MINHASH_BANDS = 4
#: Confirmation gate: est-Jaccard >= 8/16 = 0.5.
MINHASH_MIN_AGREEMENT = 8


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup on normalized content hash.

    Returns one row per distinct content: representative id (min), dup
    count. Scale: single shuffle on sha256 key; map-side partial agg.

    NULL content is UNKNOWN content, not identical content: sha2(NULL)
    is NULL and groupBy groups NULLs together, which would collapse
    every quarantined null-payload doc into one bogus cluster (and a
    keep-representative step would then delete docs never compared).
    Each null-content doc instead gets a per-doc sentinel key — its own
    singleton cluster.
    """
    keyed = df.select(
        F.col("doc_id"),
        F.when(
            F.col("text").isNull(),
            F.concat(F.lit("__null__:"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.sha2(normalize_text(F.col("text")), 256))
        .alias("content_key"),
    )
    return keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").cast("bigint").alias("n_dups"),
    )


def shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingle ARRAY per document (one row per doc).

    The gram set is every full n-gram of the space-split text, plus one
    partial gram for documents shorter than n. The array form keeps
    shingling a narrow projection (no explode, no shuffle); per-document
    arrays are bounded by document length, so this holds at any corpus
    scale.

    The split array gets its OWN projection: referenced both by the
    sequence bound and by every slice lambda, an inlined ``split(text)``
    would re-split per shingle position on the interpreted HOF path —
    materializing it pins one split per document (same fix as
    ``chunking.split_words``).

    Null text is filtered here, so a null document emits no row rather
    than a bogus ``shingles = [null]`` row. Callers that also pre-filter
    are redundant but harmless — Catalyst collapses the duplicate
    condition.
    """
    base = df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"), F.split(F.col("text"), " ").alias("__ws")
    )
    ws = F.col("__ws")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
    )
    return base.select(F.col("doc_id"), F.array_distinct(grams).alias("shingles"))


def minhash_arrays(df: DataFrame, with_sets: bool = False) -> DataFrame:
    """MinHash signatures straight from per-document word-3-gram shingle
    ARRAYS — a zero-shuffle signature builder.

    Universal hashing: ONE portable md5 per shingle (the expensive part)
    gives h0 = h(shingle) mod p, then ``MINHASH_N`` cheap affine functions
    h_j = min((a_j·h0 + b_j) mod p) (2^62 overflow bound documented at
    MINHASH_PRIME). Both steps are array higher-order expressions in one
    narrow projection — no explode, no shuffle, no aggregation. Min over
    the distinct-gram array equals min over the gram set.

    ``with_sets`` also returns the distinct HASHED shingles (h0 bigints)
    as ``shingles`` — the exact-Jaccard input of the LSH pair queries.
    Carrying one int64 per shingle instead of the string keeps the
    candidate join narrow. Both engines hash with the same portable
    function, so a (vanishingly rare, ~|union|²/2³¹) collision is seen
    identically on both sides and the oracle comparison stays exact.
    Array order is unspecified; every consumer is order-insensitive
    (array_intersect/size Jaccard and the order-insensitive oracle gate).

    Null-text documents emit no row. The caller passes the DOCUMENT
    frame; heavy per-doc hashing parallelizes via ensure_parallelism.
    """
    from ..sources.tables import ensure_parallelism

    src = ensure_parallelism(df.filter(F.col("text").isNotNull()))
    sh = shingle_arrays(src)
    h0s = F.transform(
        F.col("shingles"), lambda s: portable_hash64(s) % MINHASH_PRIME
    )
    base = sh.select(F.col("doc_id"), h0s.alias("__h0s"))
    cols = [
        F.array_min(
            F.transform(
                "__h0s",
                lambda h: (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j]))
                % MINHASH_PRIME,
            )
        ).alias(f"mh_{j}")
        for j in range(MINHASH_N)
    ]
    extra = [F.array_distinct("__h0s").alias("shingles")] if with_sets else []
    return base.select(F.col("doc_id"), *cols, *extra)


LSH_MAX_BUCKET = 256  # representatives per bucket; >K members star-link to rep


def band_rows(sig_df: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per doc per LSH band.

    band_hash = h(mh_a || '|' || mh_b || ...) over the band's signature
    components; a narrow projection + posexplode, no shuffle. Shared by
    the self-join pair path (``lsh_candidate_pairs``) and the asymmetric
    new-batch-vs-catalog path (``incremental_lsh_matches``)."""
    rows_per_band = MINHASH_N // MINHASH_BANDS
    band_exprs = []
    for b in range(MINHASH_BANDS):
        cols = [F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_exprs.append(
            portable_hash64(reduce(lambda x, y: F.concat(x, F.lit("|"), y), cols))
        )
    return sig_df.select(
        F.col("doc_id"), F.posexplode(F.array(*band_exprs)).alias("band_id", "band_hash")
    )


def incremental_lsh_matches(new_sigs: DataFrame, catalog_sigs: DataFrame) -> DataFrame:
    """Dedup a NEW batch against an EXISTING signature catalog:
    (new_id, dup_of, n_matches) for every new doc with a confirmed match.

    The incremental-ingestion pattern: at 100 TB you never re-minhash the
    accumulated corpus per arriving batch — the catalog side is a stored
    signature table (16 ints + precomputable bands per doc, no text), and
    each batch costs |batch| signature builds plus an equi-join probing
    the catalog's band index. This is an ASYMMETRIC band join (new ⋈
    catalog), not the corpus self-join of ``lsh_candidate_pairs``: the
    candidate volume is driven by the batch, not the corpus².

    Candidates are confirmed by signature agreement (n_sig_match ≥
    MINHASH_MIN_AGREEMENT ⇒ estimated Jaccard ≥ 8/16) — 16
    ints per side, no shingle-set traffic at all on this path.

    Mega-bucket guard: a boilerplate band bucket on the catalog side is
    capped at its ``LSH_MAX_BUCKET`` smallest ids (same deterministic rank
    rule as ``lsh_candidate_pairs``, mirrored by the oracle), so one hot
    bucket contributes O(|batch_in_bucket| · K) candidates instead of
    O(|batch| · |catalog_bucket|). ``n_matches`` counts confirmed
    catalog docs among those representatives.
    """
    nb = band_rows(new_sigs).select(
        F.col("doc_id").alias("new_id"), "band_id", "band_hash"
    )
    cb = band_rows(catalog_sigs)
    w = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
    cbr = (
        cb.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= LSH_MAX_BUCKET)
        .select(F.col("doc_id").alias("cat_id"), "band_id", "band_hash")
    )
    cand = nb.join(cbr, ["band_id", "band_hash"]).select("new_id", "cat_id").distinct()
    a = _aliased_sigs(new_sigs, "new_id", "_a")
    b = _aliased_sigs(catalog_sigs, "cat_id", "_b")
    return (
        cand.join(a, "new_id")
        .join(b, "cat_id")
        .withColumn("n_sig_match", _agreement_expr())
        .filter(F.col("n_sig_match") >= MINHASH_MIN_AGREEMENT)
        .groupBy("new_id")
        .agg(
            F.min("cat_id").alias("dup_of"),
            F.count("*").alias("n_matches"),
        )
    )


def lsh_candidate_pairs(sig_df: DataFrame) -> DataFrame:
    """LSH banding: docs sharing any band's full sub-signature are candidates.

    band_hash = h(mh_a || '|' || mh_b || ...) over the band's rows. Docs
    are grouped per (band_id, band_hash) — one shuffle on a uniform
    composite key, never an all-pairs product. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b.

    Mega-bucket guard (the 100 TB edge): a near-identical boilerplate
    cluster (templated pages that survive exact dedup) can land its whole
    id set in ONE bucket; unbounded i<j expansion is O(B²) pairs in a
    single task — 1M docs → 5×10¹¹ pairs → OOM. Instead, each bucket's
    members are ranked by id (row_number over a window — spills to disk,
    never holds a mega-bucket in an agg buffer) and:

    - full i<j expansion runs only among the first ``LSH_MAX_BUCKET`` members
      (the K smallest ids — deterministic, so the DuckDB oracle mirrors
      it with the same rank-≤-K rule);
    - every member past K emits ONE star pair (bucket min id, member).

    Buckets with ≤ K members behave exactly as before, so small
    data is unchanged; oversized buckets produce O(K² + B) pairs instead
    of O(B²), and the star links keep the cluster CONNECTED — downstream
    connected_components resolves the same clusters full expansion would.
    Only pairwise Jaccard scores for non-representative × non-representative
    pairs are skipped, which is the intended cap.
    """
    banded = band_rows(sig_df)
    return capped_block_pairs(banded, ["band_id", "band_hash"], max_block=LSH_MAX_BUCKET)


def capped_block_pairs(
    df: DataFrame, block_cols: list[str], max_block: int = LSH_MAX_BUCKET
) -> DataFrame:
    """Star-capped i<j pair expansion within blocks — the shared core of
    every candidate-generation path (LSH buckets, blocked baselines).

    ONE ordered window pass, three expressions over the same exchange +
    sort (ids are unique per block for every in-repo caller, so id order
    is total and deterministic): row_number ranks members; first() with
    the default running frame is the block min id; the sliding
    collect_list frame carries each row's PRECEDING members capped at
    max_block − 1 elements — per-row window state is bounded by K, never
    by the block, and WindowExec spills partitions to disk, so a
    mega-block cannot OOM a task. Members ranked ≤ K pair with every
    earlier member (full i<j among the K smallest ids); members past K
    emit ONE star link to the block min, keeping the block CONNECTED at
    O(K² + B) pairs instead of O(B²)."""
    w = Window.partitionBy(*block_cols).orderBy("doc_id")
    ranked = df.select(
        F.col("doc_id"),
        F.row_number().over(w).alias("rk"),
        F.first("doc_id").over(w).alias("rep"),
        F.collect_list("doc_id")
        .over(w.rowsBetween(-(max_block - 1), -1))
        .alias("preds"),
    )
    this_doc = F.col("doc_id")
    pair_arr = F.when(
        F.col("rk") <= max_block,
        F.transform(
            "preds",
            lambda x: F.struct(x.alias("doc_a"), this_doc.alias("doc_b")),
        ),
    ).otherwise(
        F.array(F.struct(F.col("rep").alias("doc_a"), this_doc.alias("doc_b")))
    )
    return (
        ranked.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        # doc_a < doc_b is the output contract. With unique ids per bucket
        # (every in-repo caller — groupBy outputs) this is a no-op: preds
        # hold strictly smaller ids and rep < member past K. It matters
        # only for duplicate doc_id inputs (e.g. a unioned signature
        # table), where the duplicate rows would otherwise emit (X, X)
        # self-pairs that downstream jaccard scores as 1.0.
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _agreement_expr():
    """Σ_j [mh_j_a == mh_j_b] — the shared Jaccard-estimate sum over the
    aliased signature-join columns. ONE definition serves the symmetric
    pair guard and the incremental batch path, so a change to the
    estimate (or its oracle-mirroring contract) cannot silently diverge
    between them."""
    agree = None
    for j in range(MINHASH_N):
        t = (F.col(f"mh_{j}_a") == F.col(f"mh_{j}_b")).cast("int")
        agree = t if agree is None else agree + t
    return agree


def _aliased_sigs(sig_df: DataFrame, out_id: str, suffix: str) -> DataFrame:
    """Signature columns renamed for one side of an agreement join."""
    return sig_df.select(
        F.col("doc_id").alias(out_id),
        *[F.col(f"mh_{j}").alias(f"mh_{j}{suffix}") for j in range(MINHASH_N)],
    )


def signature_agreement(pairs: DataFrame, sig_df: DataFrame) -> DataFrame:
    """Annotate candidate pairs with ``n_sig_match`` — how many of the
    MINHASH_N MinHash components the two docs share. agreement/MINHASH_N is
    the standard unbiased estimate of Jaccard similarity, computed from
    16 ints per doc instead of the full shingle sets.

    This is the pair-expansion guard (round-3 verdict #7): after a
    high-dup round, LSH can emit pairs whose exact-Jaccard confirmation
    would shuffle |pairs| × (|A|+|B|) hashed shingles through the set
    join. Filtering on ``n_sig_match`` first costs only the signature
    join (MINHASH_N ints per side), so the heavy shingle traffic tracks
    CONFIRMED near-dups, not raw candidates. Deterministic given the
    signatures, so the DuckDB oracle mirrors it exactly.
    """
    a = _aliased_sigs(sig_df, "doc_a", "_a")
    b = _aliased_sigs(sig_df, "doc_b", "_b")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", _agreement_expr().alias("n_sig_match"))
    )


def jaccard_pairs(shingle_df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    ``shingle_df`` carries one ``shingles`` array per document (distinct
    elements — ``shingle_arrays`` or ``minhash_arrays(with_sets=True)``).
    Each candidate pair joins both sides' arrays by id, so the work is
    |pairs| × (|A|+|B|) — bounded by the candidate set, never the
    shingle×shingle product. |A∩B| = size(array_intersect), |A∪B| =
    |A|+|B|-|A∩B|.
    """
    a = shingle_df.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = shingle_df.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # extra pair columns (e.g. a signature-agreement count) pass
    # through, so callers never re-spell the jaccard convention
    extras = [c for c in pairs.columns if c not in ("doc_a", "doc_b")]
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            *extras,
            # exact-int half-up round: union size can reduce to a
            # 2^7·5^t denominator where float round(x, 6) splits
            # engines (functions/numeric.py)
            round_ratio(
                inter, F.size("sh_a") + F.size("sh_b") - inter
            ).alias("jaccard"),
        )
    )


#: Introspection for the latest connected_components call (round count,
#: per-round wall seconds) — read by tools/ profiling, never by queries.
CC_STATS: dict = {}

#: Label-propagation round cap of connected_components, read at call time.
CC_MAX_ITER = 50


def connected_components(pairs: DataFrame) -> DataFrame:
    """Cluster near-dup (doc_a, doc_b) pairs into components:
    (doc_id, cluster_rep).

    The step every dedup pipeline needs after pair detection — transitive
    grouping so each duplicate CLUSTER keeps one representative (the min
    id). Iterative min-label propagation: each round, every node takes
    the min label in its neighborhood; converges in O(diameter) rounds
    (near-dup clusters are shallow — a handful of rounds in practice).

    Scale (round-8 rewrite — the r7 sf1 gate measured the previous form
    as the ~10-min long pole at 500k docs):

    - Each round is the neighbor-min join + groupBy PLUS a shortcut
      (pointer-doubling) join — every node also adopts its LABEL's
      label: lbl(v) ← min(lbl(v), min_nbr, lbl(lbl(v))). Labels are
      monotone non-increasing and bounded by the component min, and the
      shortcut halves label-tree depth each round, so convergence is
      O(log diameter) rounds instead of O(diameter) — the same round
      bound the large-star/small-star alternation (Kiveris et al.,
      "Connected Components in MapReduce") achieves, with one fewer
      shuffle per round than the two-phase star form and a fixpoint
      that is IDENTICAL by construction (per-component min id).
    - Per-round ``localCheckpoint``: an iterative loop's logical plan
      otherwise NESTS every prior round (persist caches data but keeps
      lineage), so Catalyst re-optimizes a plan that grows linearly in
      rounds — by round ~20 the driver spends more time planning than
      the cluster spends computing. Checkpointing truncates the plan to
      a leaf each round. Local (executor-storage) checkpoints suffice
      on one JVM; a multi-executor deployment that must survive
      executor loss sets a reliable ``spark.sparkContext.
      setCheckpointDir`` and swaps the call — the loop shape is
      unchanged.
    - Convergence action: the changed-label count doubles as the eager
      materialization point of the round's checkpoint.
    """
    import time as _time

    t0 = _time.time()
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    prev_ckpt = labels  # previous round's checkpointed frame, freed below
    CC_STATS.clear()
    CC_STATS.update(rounds=0, setup_sec=round(_time.time() - t0, 2), round_secs=[])
    try:
        max_iter = CC_MAX_ITER
        for _ in range(max_iter):
            t_round = _time.time()
            neighbor_min = (
                edges.join(labels, edges.src == labels.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            stepped = labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
                F.col("lbl").alias("_old"),
            )
            # Shortcut: adopt the label's own label. Every label IS a node
            # (labels only ever copy existing node ids), so the self-join
            # always matches; least() keeps monotonicity.
            parents = stepped.select(
                F.col("node").alias("_p_node"), F.col("lbl").alias("_p_lbl")
            )
            new_labels = (
                stepped.join(parents, stepped.lbl == parents._p_node, "left")
                .select(
                    "node",
                    F.least(F.col("lbl"), F.coalesce("_p_lbl", F.col("lbl"))).alias("lbl"),
                    (F.least(F.col("lbl"), F.coalesce("_p_lbl", F.col("lbl")))
                     < F.col("_old")).alias("_changed"),
                )
                .localCheckpoint(eager=False)
            )
            changed = new_labels.filter(F.col("_changed")).count()
            labels = new_labels.drop("_changed")
            # Release the PRIOR round's checkpoint blocks now that this
            # round's are materialized (the count above): without an
            # explicit unpersist every round's blocks linger until the
            # driver GC + ContextCleaner notice, so executor storage
            # grows linearly in rounds on large graphs (ADVICE r8). The
            # checkpointed plan is a LogicalRDD leaf; its rdd() is the
            # persisted handle.
            try:
                prev_ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass  # storage release is best-effort, never correctness
            prev_ckpt = new_labels
            CC_STATS["rounds"] += 1
            CC_STATS["round_secs"].append(round(_time.time() - t_round, 2))
            if changed == 0:
                break
        else:
            # label propagation still moving after CC_MAX_ITER rounds: the
            # graph's diameter exceeds the budget and some clusters would
            # be returned SPLIT (multiple cluster_reps for one true
            # component) with no other signal — surface it loudly
            import warnings

            warnings.warn(
                f"connected_components did not converge in {max_iter} "
                f"iterations ({changed} labels still changing) — returned "
                "clusters may be split; raise CC_MAX_ITER",
                RuntimeWarning,
                stacklevel=2,
            )
        return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_rep"))
    finally:
        edges.unpersist()


def simhash(df: DataFrame) -> DataFrame:
    """32-bit SimHash document fingerprint over the word multiset.

    bit_b(word) = (h(word) >> b) & 1; per-doc bit b of the fingerprint is
    the sign of Σ_words (2·bit_b − 1) = 2·Σ bit_b − n.

    ZERO shuffles (r13): the per-doc bit counts are array higher-order
    folds over the hashed word array — one md5 transform, then 32
    aggregate() folds per document — all inside one narrow projection.
    The former explode + groupBy form paid a word-row explode plus a
    per-doc exchange (small after partial agg, but a full stage
    boundary); measured at sf0.1 the HOF form is ~20% faster
    (0.262 → 0.207 s median) and the plan has no exchange at all.
    Null-text docs are dropped explicitly, exactly as the explode form
    dropped them (explode of a null split emits nothing).

    Round-4 A/B context (explode-form variants): a packed-counter
    variant (four 16-bit counters per long) and a count-only strawman
    both measured equal to the unrolled explode form — that family was
    bounded by the explode + shuffle base, which is what this removes.
    """
    from ..sources.tables import ensure_parallelism

    src = ensure_parallelism(df.filter(F.col("text").isNotNull()))
    base = src.select(F.col("doc_id"), F.split(F.col("text"), " ").alias("__ws"))
    hs = F.transform("__ws", lambda w: portable_hash64(w))
    hashed = base.select(
        F.col("doc_id"), hs.alias("__hs"), F.size("__ws").cast("bigint").alias("n")
    )
    ones = [
        F.aggregate(
            "__hs",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + F.shiftright(h, b) % 2,
        ).alias(f"ones_{b}")
        for b in range(32)
    ]
    per_doc = hashed.select("doc_id", F.col("n"), *ones)
    sim = None
    for b in range(32):
        bal = 2 * F.col(f"ones_{b}") - F.col("n")
        term = F.when(bal >= 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return per_doc.select(F.col("doc_id"), sim.cast("bigint").alias("simhash"))


def sentence_dedup(df: DataFrame) -> DataFrame:
    """Within-corpus exact sentence dedup (C4-style line dedup).

    A sentence survives only at its FIRST occurrence in corpus order
    (min (doc_id, sent_pos) per normalized-sentence hash); every later
    copy anywhere in the corpus is dropped. Returns per-document
    retention counts — the curation signal (how boilerplate-heavy is
    this document?).

    Scale shape: sentence rows shuffle ONCE keyed by the uniform content
    hash (first-occurrence selection is a window over that key — no
    skew, keys are hashes); the per-doc rollup is the second, narrow
    shuffle. No all-pairs comparison anywhere.

    Reference parity: sentence splitting is P1 (test_proactive.py:45-48);
    the dedup itself is an engine capability beyond the reference.
    """
    from .chunking import split_sentences

    sents = split_sentences(df)
    keyed = sents.select(
        "doc_id",
        "sent_pos",
        F.md5(normalize_text(F.col("sentence"))).alias("sent_key"),
    )
    w = Window.partitionBy("sent_key").orderBy("doc_id", "sent_pos")
    flagged = keyed.withColumn(
        "is_first", (F.row_number().over(w) == 1).cast("int")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sents"),
        F.sum("is_first").cast("bigint").alias("n_kept"),
        # exact-int half-up round (functions/numeric.py)
        round_ratio(F.sum("is_first"), F.count("*")).alias("keep_frac"),
    )
