"""Shared imports, fixture loaders, and tunable constants for the query registry."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..functions.hashing import portable_hash64, token_id
from ..functions.numeric import (
    decimal_sum,
    fixed_units,
    mean_6dp,
    money_sum_2dp,
    round_ratio,
)
from ..functions import scoring
from ..functions.scoring import set_f1, subset_accuracy
from ..functions.text import (
    any_answer_contained,
    exact_match,
    first_line,
    norm_tokens,
    normalize_question,
    normalize_text,
    substring_match,
)
from ..operators import chunking, mapstage
from ..operators.chunking import NUM_STEPS, RATIO_TLOW
from ..operators import reduce as red
from ..operators import topk as topk_ops
from ..sources.tables import load_table
from ..operators import dedup as dedup_ops            # noqa: E402
from ..operators import multimodal as mm_ops          # noqa: E402
from ..operators import similarity as sim_ops         # noqa: E402
from ..operators import textstats as ts_ops           # noqa: E402
from ..streaming import proactive as stream_ops        # noqa: E402
from ..operators import skew as skew_ops               # noqa: E402
from ..sources import text_corpus as txt_src           # noqa: E402
from ..operators import asof as asof_ops                # noqa: E402
from ..operators import rangejoin as range_ops          # noqa: E402
from ..operators import ranking as rank_ops             # noqa: E402


RATIO_LOW, RATIO_INC = 0.2, 0.1   # C4 schedule (explicit-increment form)
# C4 reference parameterization: the derived increment is computed ONCE
# here in Python and interpolated into both engines' plans by repr, so
# the literal the two parse is the identical IEEE double.
RATIO_TINC = chunking.derived_increment()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.split_words(_docs(spark, sf_dir))


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 chunks of every document (the shared pipeline intermediate).

    Built with the shuffle-free array-slice form: chunk production is a
    narrow transformation, so every consumer's first exchange is its OWN
    aggregation key, not a word shuffle."""
    from ..sources.tables import ensure_parallelism

    return chunking.partition_equal_arrays(
        ensure_parallelism(_docs(spark, sf_dir)), NUM_STEPS
    )


def _events_with_pos(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.withColumn("pos", (F.row_number().over(w) - 1).cast("int"))


# Star-cap for the blocked n-gram Jaccard BASELINE (q_dedup_ngram_jaccard):
# full i<j expansion among the 64 smallest ids per (lang, length-bucket)
# block, one star link per member beyond — O(K²+B) pairs per block instead
# of O(B²). 64 (vs the LSH path's 256) because the baseline's blocks are
# FEW and FAT (30 blocks, max 451 members at sf0.1 → ~4.5k at sf1; the
# uncapped expansion measured 59.2M pairs at sf1), and each pair costs an
# exact shingle-set intersection in BOTH engines. At sf0.01 the largest
# block has 54 members, so the driver-gate values are cap-invariant; the
# sf0.1 full gate exercises the cap on 26 oversized blocks.
NGRAM_BLOCK_CAP = 64


EMBED_DIM = 8


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


SAMPLE_RATES = {"de": 100, "en": 25, "es": 50, "fr": 75}  # percent per stratum


HYBRID_QUERY_TEXT = "join hash stream"


def _standin_embed(text_col):
    """The deterministic stand-in encoder of q_embed_documents as a
    reusable expression (hash-derived vector, rounded per dim)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda i: F.round(
            (portable_hash64(F.concat(text_col, i.cast("string"))) % 10000) / 10000.0, 6
        ),
    )


INCR_SPLIT_DATE = "1998-06-01"


PACK_BUDGET = 256  # tokens per packed training sequence


CURATION_QUALITY_MIN = 0.40  # keeps ~40% of fixture docs (gate must bite)


CURATION_JACCARD_MIN = 0.5   # near-dup drop threshold on exact Jaccard


DECONTAM_NGRAM = 5


QUANT_SCALE = 127.0


VOCAB_TOP = 1000


QUALITY_QUOTA = 20  # docs kept per language


CACHE_BUDGET_FRAC = 0.3  # memory-tier budget as a fraction of total stage size


def _hashlib_sha256(s: str) -> str:
    import hashlib

    return hashlib.sha256(s.encode("utf-8")).hexdigest()
