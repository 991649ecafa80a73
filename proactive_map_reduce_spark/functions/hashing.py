"""Portable deterministic hashing (SURVEY F10, C3 stand-in tokenizer).

The engine needs hash functions that produce IDENTICAL values in Spark and
in the DuckDB oracle, so hash-derived operators (stand-in tokenizer,
minhash/simhash dedup, cache keys) are fully value-checkable. Spark's
``hash()``/``xxhash64()`` are Spark-specific, so we derive integers from
md5 hex (same bytes everywhere):

    Spark : cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint)
    DuckDB: CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)

8 hex chars → unsigned 32-bit value, always fits in a signed 64-bit int.

Reference parallels: sha256 cache keys `kv_store/kv_loading_interface.py:
19-23,128-135`; the tokenizer seam `pipeline_70b_samsum.py:150,170`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VOCAB_SIZE = 32000  # stand-in BPE vocab size for the C3 tokenizer


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """Unsigned-32-bit integer hash of a string column, as bigint."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(c, F.lit(salt))
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def token_id() -> Column:
    """Deterministic stand-in token id of the ``word`` column (C3
    tokenizer stand-in)."""
    return portable_hash64("word") % VOCAB_SIZE
