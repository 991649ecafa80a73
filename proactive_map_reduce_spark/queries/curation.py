"""Corpus-curation queries: dedup (exact/MinHash-LSH/SimHash/Jaccard), text
analysis (lang-id, quality, fingerprints, TF-IDF/BM25), PII/decontamination,
mixing/packing, and the end-to-end curation pipeline."""

from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    _chunks,
    _docs,
    _events_with_pos,
    _hashlib_sha256,
    _standin_embed,
    _words,
)


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: group by normalized content hash, keep representative."""
    return dedup_ops.exact_dedup(_docs(spark, sf_dir)).select(
        "content_key", "rep_id", "n_dups"
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (16 portable hash functions over 3-gram shingles),
    computed as a narrow array projection — zero shuffles."""
    return dedup_ops.minhash_arrays(_docs(spark, sf_dir))


def q_dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs (4 bands × 4 rows) with exact Jaccard.

    Signatures and shingle sets come from ONE combined pass (persisted):
    the zero-shuffle array-HOF builder — one md5 pass, no word
    explosion — and the banding self-join and the candidate Jaccard both
    reuse it instead of re-deriving the corpus pipeline."""
    combined = dedup_ops.minhash_arrays(_docs(spark, sf_dir), with_sets=True).persist()
    pairs = dedup_ops.lsh_candidate_pairs(combined)
    return dedup_ops.jaccard_pairs(
        combined.select("doc_id", "shingles"), pairs
    )


def q_dedup_minhash_confirmed(spark, sf_dir):
    """MinHash near-dup pairs with the signature-agreement guard.

    LSH candidates are CONFIRMED against the 16-component signatures
    (n_sig_match >= 8, i.e. estimated Jaccard >= 0.5) before the exact
    set join — the pair-expansion guard: after a high-dup round the
    shingle-set shuffle costs |pairs| x (|A|+|B|) hashed shingles, while
    the agreement join costs 16 ints per side, so the heavy traffic
    tracks confirmed near-dups instead of raw band candidates. Output
    carries both the estimate (n_sig_match) and the exact jaccard of the
    survivors."""
    combined = dedup_ops.minhash_arrays(_docs(spark, sf_dir), with_sets=True).persist()
    pairs = dedup_ops.lsh_candidate_pairs(combined)
    confirmed = dedup_ops.signature_agreement(pairs, combined).filter(
        F.col("n_sig_match") >= dedup_ops.MINHASH_MIN_AGREEMENT
    )
    # one spelling of exact Jaccard — n_sig_match rides through as an
    # extra pair column
    return dedup_ops.jaccard_pairs(combined, confirmed).select(
        "doc_a", "doc_b", "n_sig_match", "jaccard"
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: a NEW batch (doc_id % 5 == 0, ~20%)
    deduped against the EXISTING corpus without re-pairing the corpus.

    The 100 TB ingestion pattern: the catalog side is a stored signature
    table (here derived from the same fixture, split by the batch gate —
    ONE signature pass, persisted, then filtered both ways; in production
    the catalog arrives precomputed and only the batch is minhashed).
    Candidates come from an asymmetric band equi-join (batch bands probe
    the catalog's band index, catalog buckets capped at K smallest ids),
    confirmed by 16-int signature agreement — no shingle-set traffic.
    Output: every new doc with is_dup, its earliest confirmed catalog
    match, and the confirmed-match count."""
    sigs = dedup_ops.minhash_arrays(_docs(spark, sf_dir)).persist()
    is_new = F.col("doc_id") % 5 == 0
    matches = dedup_ops.incremental_lsh_matches(sigs.filter(is_new), sigs.filter(~is_new))
    new_docs = _docs(spark, sf_dir).filter(is_new).select("doc_id")
    return (
        new_docs.join(matches, new_docs.doc_id == matches.new_id, "left")
        .select(
            "doc_id",
            F.when(F.col("new_id").isNull(), 0).otherwise(1).alias("is_dup"),
            "dup_of",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup within (lang, length-bucket) blocks.

    Candidate generation is the star-capped block expansion
    (`dedup.capped_block_pairs`, the same window core the LSH path uses):
    full i<j among the NGRAM_BLOCK_CAP smallest ids per block, one star
    link per member beyond. The r7-measured uncapped self-join grew
    O(B²) per block — 588k pairs at sf0.1 → 59.2M at sf1 — which made
    this baseline the repo's last quadratic plan; capped, pairs are
    O(K²+B) per block and the query runs in the sf1 gate."""
    d = _docs(spark, sf_dir)
    blocked = d.select(
        "doc_id", "lang", (F.col("n_chars") / 100).cast("bigint").alias("blk_bucket")
    )
    pairs = dedup_ops.capped_block_pairs(
        blocked, ["lang", "blk_bucket"], max_block=NGRAM_BLOCK_CAP
    )
    # per-doc shingle arrays straight off the scan: no word-row
    # exchange, and array_intersect Jaccard is order-insensitive, so the
    # distinct set is all that matters. Null-text docs emit no row.
    from ..sources.tables import ensure_parallelism

    sets = dedup_ops.shingle_arrays(
        ensure_parallelism(d.filter(F.col("text").isNotNull()))
    )
    return dedup_ops.jaccard_pairs(sets, pairs)


def q_simhash(spark, sf_dir):
    """32-bit SimHash fingerprint per document."""
    return dedup_ops.simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


def q_lang_id(spark, sf_dir):
    """Marker-word language identification."""
    return ts_ops.lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "pred_lang", "marker_hits"
    )


def q_quality_score(spark, sf_dir):
    """Quality-scoring features + composite score."""
    return ts_ops.quality_features(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish estimate)."""
    return ts_ops.token_stats(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    """Content hash + winnowing-style rolling-hash extremes."""
    return ts_ops.fingerprint(_docs(spark, sf_dir))


def q_corpus_stats(spark, sf_dir):
    """Corpus statistics per language: doc count, exact distinct word
    count, total words, median doc length (continuous interpolation).

    Scale: distinct-word counting is the expensive part — one shuffle on
    (lang, word) with map-side partial dedup; at 100 TB swap in
    approx_count_distinct(HLL) for a constant-memory sketch (exact kept
    here for oracle checkability)."""
    d = _docs(spark, sf_dir)
    words = _words(spark, sf_dir).join(d.select("doc_id", "lang"), "doc_id")
    per_lang_words = words.groupBy("lang").agg(
        F.countDistinct("word").alias("n_distinct_words"),
        F.count("*").cast("bigint").alias("n_words_total"),
    )
    per_lang_docs = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
    )
    return per_lang_docs.join(per_lang_words, "lang").select(
        "lang", "n_docs", "median_chars", "n_distinct_words", "n_words_total"
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation: LSH candidate pairs → connected
    components → (doc_id, cluster_rep) with min-id representatives.
    Only docs that appear in some pair are emitted (singletons are their
    own representative trivially)."""
    # signatures only — this query never computes exact Jaccard, so the
    # shingle-set payload of the array builder has no consumer
    sigs = dedup_ops.minhash_arrays(_docs(spark, sf_dir))
    pairs = dedup_ops.lsh_candidate_pairs(sigs).persist()
    return dedup_ops.connected_components(pairs)


def q_repetition_signals(spark, sf_dir):
    """Within-document repetition quality filters (Gopher-style): top-
    bigram fraction + duplicated-trigram fraction, computed array-locally
    per row — a pure narrow projection over the scan (zero shuffles)."""
    return ts_ops.repetition_signals(_docs(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — per-language keep rates
    applied via a portable content hash gate (hash(doc_id) % 100 <
    rate), the training-data mixing primitive: reproducible across
    runs/engines, unlike rand()-based sample().

    Scale: a pure narrow filter over the scan (zero shuffles); rates
    ride in as a literal CASE, so 100 TB sampling is scan-speed. The
    same gate composes into weighted multi-corpus interleaving."""
    d = _docs(spark, sf_dir)
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lg, F.lit(r))
            for lg, r in sorted(SAMPLE_RATES.items())
        ],
        F.lit(0),
    )
    gate = portable_hash64(F.col("doc_id").cast("string"), salt="sample") % 100
    return d.filter(gate < rate).select("doc_id", "lang", "n_chars")


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 terms per document by smoothed TF-IDF (lexical corpus
    search layer). Term stats are grouped aggregates; corpus-size and
    document-frequency scalars join back via broadcast — no count-over-
    unpartitioned-window anywhere, so the plan scales: two uniform
    hash shuffles ((doc,term) then term) plus one doc_id-partitioned
    rank window."""
    return rank_ops.tfidf_top_terms(_docs(spark, sf_dir))


def q_bm25_search(spark, sf_dir):
    """BM25 top-10 documents for a fixed query-term set. The word
    explosion is filtered to the query vocabulary BEFORE the first
    shuffle — exchanged volume is proportional to query hits, not
    corpus size; dl/avgdl ride along as broadcast joins; final top-k is
    TakeOrderedAndProject (no global sort)."""
    return rank_ops.bm25_search(_docs(spark, sf_dir))


def q_blocklist_filter(spark, sf_dir):
    """Blocklist gate: drop documents containing any blocklisted word —
    array-local `exists`, fused into the scan, zero shuffles."""
    return ts_ops.blocklist_filter(_docs(spark, sf_dir))


def q_sentence_dedup(spark, sf_dir):
    """C4-style within-corpus sentence dedup: a sentence survives only
    at its first corpus-order occurrence; returns per-document retention
    counts. One uniform hash-keyed shuffle for first-occurrence
    selection + one narrow per-doc rollup."""
    return dedup_ops.sentence_dedup(_docs(spark, sf_dir))


def q_unigram_lm_score(spark, sf_dir):
    """Unigram language-model surprisal per document — the SQL-checkable
    analog of a perplexity quality gate: score = -sum(tf·ln(p))/n where
    p = corpus_tf/total_tokens.

    The corpus unigram frequency is a sum window OVER the term partition
    of the (doc, term) aggregate — a re-aggregation joined back would
    re-explode the corpus (exchanges with different keys can't be
    reused). Total tokens comes from a narrow word-count scan (no
    explode), broadcast in. Net: ONE explode pass, three exchanges."""
    d = _docs(spark, sf_dir)
    tc = rank_ops.term_counts(d)
    wt = Window.partitionBy("term")
    # non-empty token total, matching term_counts' token convention (the
    # denominator must count exactly the tokens the tf numerators see)
    tot = d.agg(
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
        ).alias("total_tokens")
    )
    scored = (
        tc.withColumn("ctf", F.sum("tf").over(wt))
        .crossJoin(F.broadcast(tot))
        .withColumn("surprisal", -F.col("tf") * F.log(F.col("ctf") / F.col("total_tokens")))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.round(F.sum("surprisal") / F.sum("tf"), 6).alias("avg_surprisal"),
    )


def q_json_extract(spark, sf_dir):
    """JSON path extraction (engine JSON-function surface beyond the
    reference's whole-object (de)serialization): serialize each document
    row to a JSON string, then pull typed fields back out with
    get_json_object — the scan-side shred pattern for semi-structured
    columns. Narrow projection, zero shuffles."""
    d = _docs(spark, sf_dir)
    js = d.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("payload"),
    )
    return js.select(
        "doc_id",
        F.get_json_object("payload", "$.lang").alias("lang"),
        F.get_json_object("payload", "$.n_chars").cast("bigint").alias("n_chars"),
    )


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical candidate generation (top-20) →
    embedding-cosine rerank (top-5) against the stand-in-encoded query
    string — the two-stage search shape of production RAG/curation
    stacks (cheap wide recall, expensive narrow precision).

    Scale shape: stage 1 is the BM25 pipeline (query-vocab filter before
    any shuffle); stage 2 BROADCASTS the 20-row candidate set back into
    the documents scan, so reranking never shuffles the corpus — cost is
    one more scan-side projection over candidate rows only."""
    from ..operators.similarity import cosine

    docs = _docs(spark, sf_dir)
    cand = rank_ops.bm25_search(docs, top_n=20)
    qv = _standin_embed(F.lit(HYBRID_QUERY_TEXT))
    scored = (
        docs.join(F.broadcast(cand), "doc_id")
        .withColumn("dv", _standin_embed(F.col("text")))
        .select(
            "doc_id",
            "bm25",
            F.round(cosine(qv, F.col("dv")), 6).alias("cos_sim"),
        )
    )
    # rank within a constant partition key: the input is the 20-row
    # broadcast candidate set, so a single-partition window is the intended
    # bound — the literal key documents that and silences the global-window
    # warning Spark would otherwise emit on every run.
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for LLM training: greedily assign documents to
    fixed-token-budget packs, in deterministic (lang, doc_id) order —
    pack_id = floor(start_offset / budget) where start_offset is the
    running token count before the doc.

    Scale shape: packing runs WITHIN each lang partition (the window
    key), so no global single-partition cumulative scan exists; at
    100 TB the partition key becomes (lang, shard) and packs stay
    shard-local by construction. One exchange keyed by lang."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    packed = toks.withColumn(
        "start_off",
        F.coalesce(
            F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("pack_id", F.floor(F.col("start_off") / PACK_BUDGET).cast("bigint"))
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_curation_pipeline(spark, sf_dir):
    """The end-to-end training-data curation pipeline as ONE composed
    plan — the engine's north-star user journey: scan → quality gate →
    minhash near-dup drop → sentence-level dedup → sequence packing.

    Stage composition (each reuses the operators the standalone queries
    pin, sharing one documents scan on the heavy path):
    1. GATE: quality_features in the scan projection, filter
       quality_score >= CURATION_QUALITY_MIN. Cheap narrow filter FIRST,
       so the expensive shingle explosion below only sees survivors.
    2. NEAR-DUP DROP: minhash signatures + LSH banding + exact Jaccard
       (same single-aggregation path as q_dedup_minhash_pairs) on gated
       docs; for every verified pair (jaccard >= CURATION_JACCARD_MIN)
       the larger doc_id is dropped (greedy keep-first — pairwise, not
       transitive closure: a doc is dropped iff it directly pairs with a
       smaller doc_id; the cluster minimum always survives).
    3. SENTENCE DEDUP: C4-style first-occurrence sentence retention over
       the surviving docs (same key/window as q_sentence_dedup), keeping
       per-doc KEPT-token counts — later copies of a sentence contribute
       no tokens.
    4. PACK: greedy fixed-budget packing of kept tokens per lang in
       deterministic doc_id order (same closed form as q_pack_sequences).

    Scale shape: the gate is narrow; the minhash path is the documented
    banding/bucket pipeline (no all-pairs); the anti-join's right side is
    the drop list (pairs that verified), orders of magnitude smaller than
    the corpus; sentence dedup shuffles once on the uniform sentence
    hash; packing windows within lang partitions. No stage materializes
    to the driver.
    """
    d = _docs(spark, sf_dir)
    feats = ts_ops.quality_features(d, keep_cols=("doc_id", "lang", "text"))
    # persist the gate output: it feeds the minhash path AND the
    # anti-join left side — one filtered pass over the corpus instead of
    # two re-scans (at 100 TB this is the staged intermediate a real
    # pipeline writes between gate and dedup)
    gated = (
        feats.filter(F.col("quality_score") >= CURATION_QUALITY_MIN)
        .select("doc_id", "lang", "text")
        .persist()
    )

    combined = dedup_ops.minhash_arrays(gated, with_sets=True).persist()
    pairs = dedup_ops.lsh_candidate_pairs(combined)
    jacc = dedup_ops.jaccard_pairs(combined.select("doc_id", "shingles"), pairs)
    drop = (
        jacc.filter(F.col("jaccard") >= CURATION_JACCARD_MIN)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surv = gated.join(drop, "doc_id", "left_anti")

    # sentence split inline (split_sentences shape + lang carried through
    # the explode, so the post-rollup pack needs no lang restore-join)
    marked = F.regexp_replace(F.col("text"), "([.!?])[ \t\n\r\f]+", "$1" + chunking._SENT_MARK)
    sents = surv.select(
        "doc_id", "lang",
        F.posexplode(F.split(marked, chunking._SENT_MARK)).alias("sent_pos", "sentence"),
    ).filter(F.length("sentence") > 0)
    keyed = sents.select(
        "doc_id", "lang", "sent_pos",
        F.size(F.split(F.col("sentence"), " ")).alias("sent_tok"),
        F.md5(normalize_text(F.col("sentence"))).alias("sent_key"),
    )
    wf = Window.partitionBy("sent_key").orderBy("doc_id", "sent_pos")
    flagged = keyed.withColumn(
        "is_first", (F.row_number().over(wf) == 1).cast("int")
    )
    kept = flagged.groupBy("doc_id", "lang").agg(
        F.sum(F.col("is_first") * F.col("sent_tok")).alias("n_tok")
    )

    wp = Window.partitionBy("lang").orderBy("doc_id")
    packed = kept.withColumn(
        "start_off",
        F.coalesce(
            F.sum("n_tok").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("pack_id", F.floor(F.col("start_off") / PACK_BUDGET).cast("bigint"))
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_html_strip(spark, sf_dir):
    """Markup stripping (the WET-extraction stage of a web-corpus
    pipeline): documents are deterministically wrapped in synthetic
    tags, then the extractor removes markup, unescapes entities, and
    collapses whitespace. Zero-shuffle narrow projection; the wrap step
    stands in for raw crawl HTML so the strip semantics are
    value-checkable."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<html><body><p class=\"c\">"),
        F.regexp_replace(F.col("text"), " ", "&nbsp;"),
        F.lit("</p><br/></body></html>"),
    )
    stripped = F.regexp_replace(html, "<[^>]+>", " ")
    unescaped = F.regexp_replace(stripped, "&nbsp;", " ")
    clean = F.trim(F.regexp_replace(unescaped, "[ \t\n\r\f]+", " "))
    return d.select(
        "doc_id",
        F.length(html).cast("bigint").alias("html_len"),
        F.length(clean).cast("bigint").alias("clean_len"),
        (clean == F.col("text")).cast("int").alias("roundtrip_ok"),
    )


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (the redaction stage of a web-corpus pipeline):
    deterministic synthetic PII (email / phone / IPv4 — fixtures carry
    none) is injected per doc_id residue, then the scrubber replaces
    each class with a typed placeholder and reports per-class counts.

    Zero-shuffle narrow projection — at 100 TB this is a scan-fused
    regexp pass, the cheapest possible shape. The injection stands in
    for raw crawl text exactly like q_html_strip's synthetic markup, so
    redaction semantics stay value-checkable against the oracle.
    """
    d = _docs(spark, sf_dir)
    dirty = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" contact me at user.name@example.com now"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" call 555-123-4567 or 555-987-6543"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" server at 192.168.1.77 responded"))
        .otherwise(F.lit("")),
    )
    email_re = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone_re = r"\b\d{3}-\d{3}-\d{4}\b"
    ip_re = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    step1 = F.regexp_replace(dirty, email_re, "[EMAIL]")
    step2 = F.regexp_replace(step1, phone_re, "[PHONE]")
    clean = F.regexp_replace(step2, ip_re, "[IP]")
    # null-text quarantine (nulls value gate): the pre-fix mix — counts
    # coalesced to 0 but clean/no_email_left NULL — half-claimed "no PII
    # found" about text nobody saw. An absent document has UNKNOWN PII:
    # every derived field is NULL, the row is kept.
    null_text = F.col("text").isNull()

    def _q(col):
        return F.when(null_text, F.lit(None)).otherwise(col)

    return d.select(
        "doc_id",
        _q(F.size(F.regexp_extract_all(dirty, F.lit(email_re), F.lit(0))))
        .cast("bigint").alias("n_emails"),
        _q(F.size(F.regexp_extract_all(dirty, F.lit(phone_re), F.lit(0))))
        .cast("bigint").alias("n_phones"),
        _q(F.size(F.regexp_extract_all(step2, F.lit(ip_re), F.lit(0))))
        .cast("bigint").alias("n_ips"),
        _q(F.length(clean)).cast("bigint").alias("clean_len"),
        _q((F.instr(clean, "@") == 0).cast("int")).alias("no_email_left"),
    )


def q_decontaminate(spark, sf_dir):
    """Train/test decontamination (GPT-3/The-Pile style): flag every
    training document sharing any {DECONTAM_NGRAM}-gram with the held-out
    benchmark set (stand-in: docs with doc_id % 17 == 0).

    Shape: 5-gram shingles on BOTH sides as per-document ARRAYS
    (`dedup.shingle_arrays`, the zero-shuffle builder the minhash family
    uses) — the distinct hashed-gram set is built array-locally, so no
    word row is exchanged; what is exchanged is the two countDistinct
    aggregations. The gram set is every full n-gram plus one partial
    gram for docs shorter than n, and null text emits nothing. The
    explode feeding the join goes through ``chunking.gen_barrier`` (same
    fix as split_words) so the gram transform is not re-inlined into
    an inferred pre-Generate filter. At 100 TB the benchmark side is
    tiny (eval suites), so the join broadcasts; candidate work is
    proportional to true collisions — never a cross product. Output:
    per contaminated train doc, how many distinct benchmark grams hit
    and with how many benchmark docs it collides.
    """
    from ..sources.tables import ensure_parallelism

    d = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % 17 == 0
    sh = dedup_ops.shingle_arrays(
        ensure_parallelism(d), n=DECONTAM_NGRAM
    ).select(
        "doc_id",
        F.array_distinct(
            F.transform("shingles", lambda s: portable_hash64(s))
        ).alias("__gs"),
    )
    grams = sh.select(
        "doc_id",
        F.explode(chunking.gen_barrier(F.col("__gs"), "bigint")).alias("g"),
    )
    bench = grams.filter(is_bench).select(F.col("doc_id").alias("bench_id"), "g")
    train = grams.filter(~is_bench)
    hits = train.join(F.broadcast(bench), "g")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("g").cast("bigint").alias("n_contaminated_grams"),
        F.countDistinct("bench_id").cast("bigint").alias("n_bench_docs_hit"),
    )


def q_corpus_mix(spark, sf_dir):
    """Domain-mixture control (the "data mixing weights" primitive of
    LLM corpus assembly): each source gets a target keep-fraction
    (residue-derived here: src%3 → 100/50/25 percent), applied via the
    deterministic hash gate, with a per-source realized-vs-target
    report — the audit artifact a mixing run ships with.

    Scale: the gate is a narrow scan-fused filter (same idiom as
    q_stratified_sample, different stratum axis); the report is ONE
    groupBy(source). Changing the mixture = changing literals — no data
    movement beyond the one report aggregation.
    """
    d = _docs(spark, sf_dir)
    srcnum = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int")
    target = (
        F.when(srcnum % 3 == 0, 100).when(srcnum % 3 == 1, 50).otherwise(25)
    )
    gate = portable_hash64(F.col("doc_id").cast("string"), salt="mix") % 100
    kept = d.select(
        "source",
        target.alias("target_pct"),
        (gate < target).cast("int").alias("keep"),
    )
    return kept.groupBy("source", "target_pct").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        # exact-int half-up round (functions/numeric.py)
        round_ratio(F.sum("keep"), F.count("*")).alias("realized_frac"),
    )


def q_vocab_oov(spark, sf_dir):
    """Vocabulary induction + out-of-vocabulary rate (tokenizer prep):
    induce the top-{VOCAB_TOP} corpus vocabulary by frequency
    (deterministic tie-break: count desc, then word), then report each
    document's OOV word rate against it.

    Scale shape: pass 1 is a uniform-key word-count aggregation plus a
    top-V selection (TakeOrdered — V is small and rides to the driver
    like any model state); pass 2 re-joins the tiny vocabulary
    broadcast-side and rolls up per doc. The corpus-sized exchanges are
    the two word aggregations; the vocabulary never shuffles.
    """
    words = _words(spark, sf_dir).select("doc_id", "word")
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(VOCAB_TOP)
        .select("word")
    )
    flagged = words.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "word", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        # exact-int half-up round (functions/numeric.py)
        round_ratio(
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0)), F.count("*")
        ).alias("oov_rate"),
    )


def q_quality_topn_per_lang(spark, sf_dir):
    """Curation selection: keep the top-N documents per language by the
    composite quality score (the final 'what do we train on' step after
    dedup + filtering). Rank window rides the per-lang partition; ties
    break on doc_id so selection is reproducible across engines/runs."""
    feats = ts_ops.quality_features(_docs(spark, sf_dir)).join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        feats.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= QUALITY_QUOTA)
        .select("lang", "rnk", "doc_id", "quality_score")
    )
