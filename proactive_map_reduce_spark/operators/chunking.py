"""Chunking / partitioning operators (SURVEY §2.2-2.3: P1, P5, C1, C2, C4, W4).

Every operator here is a *closed-form* DataFrame transformation — the
reference's imperative slicing loops re-expressed as window/position
arithmetic so Catalyst can fuse them into scans (no Python in the hot path,
no collect). Chunk ids come from position arithmetic, not ntile, so results
are independent of physical partitioning — safe at any parallelism.

Scale notes: all operators are per-document (keyed by doc_id) and shuffle at
most once on doc_id; word explosion is a narrow transformation over the
scan. On 100 TB the explode fan-out stays partition-local and AQE handles
output partition sizing.

Reference parallels (semantics replicated exactly):
- sentence split: test_proactive.py:45-48 (NLTK punkt → here a
  deterministic regex split on sentence terminators).
- equal partition (C1): test_proactive.py:192-199 — partition_size =
  n // num_steps; chunks i*ps:(i+1)*ps; LAST chunk takes the remainder.
- rechunk fixed (C2): test_proactive.py:152-165 — fixed windows of
  chunk_len; a tail shorter than 0.3*chunk_len merges into the previous
  chunk (only when there is more than one chunk).
- ratio schedule (C4): test_proactive.py:141-147 — linear ramp
  min(low + i*increment, 1.0), the increment derived from a target mean
  ratio (``derived_increment``).
- middle-drop truncation (P5): pipeline_70b_samsum.py:155-157 — while total
  tokens > budget: delete the middle chunk (index len//2, 0-based).
- positional shift (W4): pipeline_70b_samsum.py:204-213 —
  shift[i] = sum of chunk lengths 0..i-1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import zipcache

# Sentence boundary: terminator followed by whitespace. Implemented as
# marker-insertion + split (not regex lookbehind) so the DuckDB oracle (RE2,
# no lookbehind) computes byte-identical results.
_SENT_MARK = ""

NUM_STEPS = 4       # C1 equal-partition chunk count
CHUNK_LEN = 20      # C2 fixed rechunk length (words)
TAIL_FRAC = 0.3     # C2 tail-merge threshold
DROP_BUDGET = 60    # P5 middle-drop token budget
# C4 reference parameterization (test_proactive.py:141-147): target mean
# ratio + low bound; the increment is derived (``derived_increment``).
RATIO_TLOW, RATIO_TARGET = 0.1, 0.45


def gen_barrier(arr: Column, elem_type: str) -> Column:
    """Identity wrapper for an array column feeding explode/posexplode.

    Exploding a bare array ATTRIBUTE whose value is computed by an
    expensive projection makes Catalyst (InferFiltersFromGenerate) add a
    ``size(arr) > 0 AND isnotnull(arr)`` filter below the Generate, and
    predicate pushdown then substitutes the alias — re-evaluating the
    whole array-building expression inside the Filter, 1-2 extra times
    per input row, usually BELOW the parallelizing exchange (r13's
    q_tokenize -14% regression was exactly this). The inference rule
    only fires on bare attributes, so ``concat(arr, array())`` — a
    semantics-preserving identity for both null and non-null arrays,
    and an expression no optimizer rule folds away — suppresses it.
    ``coalesce(arr, array())`` is NOT a reliable barrier: NullPropagation
    deletes it whenever the input is provably non-nullable (e.g. a
    transform-over-sequence gram array). Cost: one array copy per input
    ROW (pre-explode), noise next to the explode itself.
    """
    return F.concat(arr, F.array().cast(f"array<{elem_type}>"))


def split_sentences(df: DataFrame) -> DataFrame:
    """P1: one row per sentence with its 0-based position (terminators kept)."""
    marked = F.regexp_replace(F.col("text"), "([.!?])[ \t\n\r\f]+", "$1" + _SENT_MARK)
    return df.select(
        "doc_id", F.posexplode(F.split(marked, _SENT_MARK)).alias("sent_pos", "sentence")
    ).filter(F.length("sentence") > 0)


def split_words(df: DataFrame) -> DataFrame:
    """One row per whitespace word with its 0-based position (base unit).

    Carries `n_words_doc` computed from the array BEFORE exploding — chunk
    assignment downstream then needs no count-over-window, so the explode →
    chunk-id → groupBy pipeline has exactly ONE shuffle (the final group),
    not two. At 100 TB that's the difference between one wide exchange and
    two.

    The split array is materialized in its OWN projection below the
    generate (r13): a single-select form puts ``size(split(text))`` in
    the post-explode Project, where it re-splits the full document text
    once PER WORD ROW — O(len²) work per document (measured at sf0.1:
    the word-split stage drops ~6× when split evaluates once per doc).

    r14 (the r13 rewrite's one regression, q_tokenize −14%): exploding
    a bare array ATTRIBUTE makes Catalyst infer a pre-Generate filter
    ``size(__ws) > 0 AND isnotnull(__ws)``, and predicate pushdown then
    re-inlines ``split(text)`` into that filter — three split
    evaluations per document instead of one. Two-part fix, values
    identical: (a) an explicit ``text IS NOT NULL`` pre-filter (null
    text never produced word rows — posexplode of a null array emits
    nothing; the explicit form reaches the parquet scan as a pushed
    IsNotNull) and (b) ``gen_barrier(__ws)`` as the generator input —
    not a bare attribute, so the inference rule skips it (it only fires
    on attributes). After-plan: the Filter condition contains no
    ``split`` call at all.
    """
    from ..sources.tables import ensure_parallelism

    ws = F.split(F.col("text"), " ")
    base = ensure_parallelism(df.filter(F.col("text").isNotNull())).select(
        "doc_id", ws.alias("__ws"), F.size(ws).alias("n_words_doc")
    )
    return base.select(
        "doc_id",
        "n_words_doc",
        F.posexplode(gen_barrier(F.col("__ws"), "string")).alias("pos", "word"),
    )


def equal_partition_chunk_id(pos: Column, n: Column) -> Column:
    """C1 closed form: chunk of item `pos` out of `n`, last takes remainder.

    partition_size = n // NUM_STEPS; ps == 0 → everything lands in the last
    chunk (mirrors the reference loop where only the final slice is
    non-empty).
    """
    num_steps = NUM_STEPS
    ps = F.floor(n / num_steps)
    return (
        F.when(ps <= 0, F.lit(num_steps - 1))
        .otherwise(F.least(F.floor(pos / ps), F.lit(num_steps - 1)))
        .cast("int")
    )


def partition_equal_arrays(df: DataFrame, num_steps: int) -> DataFrame:
    """C1: split each document into `num_steps` contiguous word chunks.

    Returns (doc_id, chunk_id, chunk_text, n_words). The chunk of word
    `pos` out of `n` is ``equal_partition_chunk_id``: partition_size =
    n // num_steps, the LAST chunk takes the remainder, and when
    partition_size is 0 every word lands in the last chunk. Empty chunks
    are not emitted. C1 is pure per-document slicing
    (test_proactive.py:192-199 slices a local list), so chunk_text comes
    from slice() on the split array: a narrow ×num_steps explode, no
    shuffle of word rows at all.

    Shape: the chunks are built as ONE per-document array of
    (chunk_id, chunk_text, n_words) structs, empty chunks dropped with
    the array ``filter`` higher-order function, and the survivors
    exploded. An explode-then-filter form lets Catalyst push the
    ``n_words > 0`` filter below the chunk projection, re-inlining the
    whole ``slice(split(text)…)`` expression into a per-chunk-row Filter
    — ``split(text)`` evaluated ~2× per chunk row (~8× per document).
    Here split/size/floor land in their own projection (referenced more
    than once → never re-inlined), each slice is taken once, and the
    row filter is absent from the relational plan.
    """
    ws = F.split(F.col("text"), " ")
    last = num_steps - 1
    base = df.select(
        F.col("doc_id"), ws.alias("__ws"), F.size(ws).alias("__n"),
        F.floor(F.size(ws) / num_steps).alias("__ps"),
    )
    n, ps = F.col("__n"), F.col("__ps")

    def chunk_of(i):
        start = (i.cast("bigint") * ps + 1).cast("int")
        length = F.when(
            i == last, n.cast("bigint") - i.cast("bigint") * ps
        ).otherwise(ps).cast("int")
        return F.when(
            ps == 0,
            F.when(i == last, F.col("__ws")).otherwise(
                F.array().cast("array<string>")
            ),
        ).otherwise(F.slice("__ws", start, length))

    arrs = F.transform(F.sequence(F.lit(0), F.lit(last)), chunk_of)
    structs = F.transform(
        arrs,
        lambda a, i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.array_join(a, " ").alias("chunk_text"),
            F.size(a).cast("bigint").alias("n_words"),
        ),
    )
    kept = F.filter(structs, lambda c: c["n_words"] > 0)
    return base.select(F.col("doc_id"), F.explode(kept).alias("__c")).select(
        "doc_id",
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        F.col("__c.n_words").alias("n_words"),
    )


def rechunk_chunk_id(pos: Column, n: Column) -> Column:
    """C2 closed form. Fixed windows of ``CHUNK_LEN``; short tail merges back.

    n_chunks = ceil(n/chunk_len); tail = n - (n_chunks-1)*chunk_len;
    merge iff n_chunks > 1 and tail < tail_frac*chunk_len, with chunk_len
    = ``CHUNK_LEN`` and tail_frac = ``TAIL_FRAC``.

    Deliberate deviation: the reference loop (test_proactive.py:152-165)
    raises IndexError on any input shorter than ``tail_frac*chunk_len``
    (it merges the short tail into ``chunk_ids[-1]`` which doesn't exist
    yet); here a document that fits in one chunk IS its one chunk — the
    ``n_chunks > 1`` guard — since crashing the 100 TB job on its
    shortest document is not a semantics worth preserving.
    """
    chunk_len, tail_frac = CHUNK_LEN, TAIL_FRAC
    n_chunks = F.ceil(n / chunk_len)
    tail = n - (n_chunks - 1) * chunk_len
    merged_last = F.when(
        (n_chunks > 1) & (tail < F.lit(tail_frac * chunk_len)), n_chunks - 2
    ).otherwise(n_chunks - 1)
    return F.least(F.floor(pos / chunk_len), merged_last).cast("int")


def rechunk_fixed(words_df: DataFrame) -> DataFrame:
    """C2: re-chunk word rows into fixed-size windows with tail-merge."""
    if "n_words_doc" not in words_df.columns:
        n = Window.partitionBy("doc_id")
        words_df = words_df.withColumn("n_words_doc", F.count("*").over(n))
    with_chunk = words_df.withColumn(
        "chunk_id", rechunk_chunk_id(F.col("pos"), F.col("n_words_doc"))
    )
    return with_chunk.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.min("pos").cast("bigint").alias("start_pos"),
    )


def derived_increment() -> float:
    """C4, the reference's parameterization (test_proactive.py:141-147
    ``split_ratio``): from the TARGET mean ratio ``RATIO_TARGET``, the
    low bound ``RATIO_TLOW`` and ``NUM_STEPS``, the increment is derived
    as ``(2*target_ratio - low)/num_steps`` — the uncapped ramp low,
    low+inc, … then averages ≈ target_ratio
    (arithmetic-series mean (low + last)/2 → target as num_steps grows).
    Computed in plain Python floats, exactly the reference expression,
    so schedules built from it are bit-equal to the reference list."""
    return (2.0 * RATIO_TARGET - RATIO_TLOW) / NUM_STEPS


@F.udf(returnType=T.ArrayType(T.IntegerType()))
def _middle_drop_surviving(chunk_lens: list, budget: int) -> list:
    """P5 loop, exact reference semantics (pipeline_70b_samsum.py:155-157):

        while sum(len(c) for c in chunks) > budget:
            del chunks[len(chunks) // 2]

    Returns the surviving ORIGINAL chunk indices. Runs per document over a
    tiny array → a plain UDF is fine (not a hot path)."""
    zipcache.install()
    idx = list(range(len(chunk_lens)))
    lens = list(chunk_lens)
    while lens and sum(lens) > budget:
        m = len(lens) // 2
        del lens[m]
        del idx[m]
    return idx


def middle_drop(chunks_df: DataFrame) -> DataFrame:
    """P5: drop middle chunks per doc until total n_tokens <= DROP_BUDGET.

    Input: (doc_id, chunk_id, n_tokens). Output: surviving rows only.
    The per-doc fixpoint runs inside an array UDF over the (ordered) chunk
    length list — one shuffle on doc_id, no driver loop.
    """
    agg = chunks_df.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("chunk_id", "n_tokens"))).alias("cl")
    )
    surviving = agg.select(
        "doc_id",
        F.explode(
            _middle_drop_surviving(
                F.transform("cl", lambda s: s["n_tokens"].cast("int")), F.lit(DROP_BUDGET)
            )
        ).alias("surv_idx"),
        F.col("cl"),
    ).select(
        "doc_id", F.col("cl")[F.col("surv_idx")]["chunk_id"].alias("chunk_id")
    )
    return chunks_df.join(surviving, ["doc_id", "chunk_id"], "inner")


def positional_shift(chunks_df: DataFrame) -> DataFrame:
    """W4: shift[i] = cumulative sum of chunk token counts 0..i-1."""
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return chunks_df.withColumn(
        "shift", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    )


def prompt_assemble(df: DataFrame) -> DataFrame:
    """P6: wrap chunk_text in double quotes (test_proactive.py:201-204)."""
    return df.withColumn("prompt", F.concat(F.lit('"'), F.col("chunk_text"), F.lit('"')))
