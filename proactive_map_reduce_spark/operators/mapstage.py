"""The black-box map stage (SURVEY §2.4 M1/M2).

The reference's map stage is an LLM forward pass (prefill + greedy decode,
`test_proactive.py:291-335`, `pipeline_70b_samsum.py:260-303`). In this
engine it is a pluggable ``mapInPandas`` operator: the model function is an
``Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]`` transform that the
engine treats as opaque. Shipping a real model means swapping
``standin_model`` for a function that loads the model once per executor
(inside ``mapInPandas``'s iterator closure) and processes Arrow batches.

For correctness testing the stand-in "model" is deterministic AND
SQL-expressible (reverse word order — the oracle checks it end to end):
a translator caricature that preserves token counts, so downstream length
arithmetic (decode speeds, token-F1) has non-trivial values.

Scale notes: mapInPandas keeps batches Arrow-encoded end-to-end (~10-100×
over row-at-a-time UDFs); partitioning is inherited, so chunk rows of one
document need NOT be co-located — the stage is embarrassingly parallel.
``maxRecordsPerBatch`` bounds executor memory for wide text columns.
A task's fixed cost does not shrink with its rows: PySpark's worker
calls ``importlib.invalidate_caches()`` before every Python task, which
on Python < 3.13 re-read pyspark.zip's directory 16 times, 120-310 ms
per task (4 vCPU, Python 3.11). ``run`` calls ``zipcache.install()`` so
a reused worker re-reads only a changed archive (0.08-0.18 ms); that
matters most where the seam runs as one small task per micro-batch
(the W2 runner, ten per doc_staged op).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import zipcache

# --- M1: pluggable model stage ----------------------------------------------


def standin_model(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic 'LLM': reverses word order of `chunk_text` → `out_text`.

    Token-count preserving; SQL equivalent is list_reverse(split(text)).

    One ``str.split`` per row feeds BOTH outputs (r13): the reversal
    preserves token count, so ``n_out_tokens`` comes from the same split
    instead of ``llm_map``'s fallback re-splitting ``out_text`` — the
    batch makes one pass over the text bytes, not two. A plain list
    comprehension over ``.tolist()`` replaces two ``Series.map`` calls
    (no per-row pandas apply machinery); values are unchanged.

    r14: the output frame is BUILT from the columns the seam returns
    instead of ``batch.copy()`` — the copy duplicated every input
    column (including the pointer array of the large ``chunk_text``
    column, which ``llm_map`` immediately drops) and re-indexed the
    frame, pure per-batch overhead at the Python boundary (guide §4).
    The id columns are taken positionally (``.to_numpy()``) so the
    output pairs each id with its own row's output whatever index the
    input batch carries; the output has a fresh RangeIndex.
    """
    texts = batch["chunk_text"].tolist()
    rev, n_toks = [], []
    for t in texts:
        if isinstance(t, str):
            ws = t.split(" ")
            rev.append(" ".join(reversed(ws)))
            n_toks.append(len(ws))
        else:
            rev.append(t)
            n_toks.append(0)
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"].to_numpy(),
            "chunk_id": batch["chunk_id"].to_numpy(),
            "out_text": rev,
            "n_out_tokens": n_toks,
        }
    )


def llm_map(
    df: DataFrame,
    model_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """M1: apply the black-box model over chunk rows via mapInPandas.

    `df` must contain (doc_id, chunk_id, chunk_text); returns
    (doc_id, chunk_id, out_text, n_out_tokens). A real model plugs in as
    `model_fn` (called once per Arrow batch; load weights lazily per
    executor).

    Catalyst cannot prune columns through an opaque Python stage, so the
    seam projects explicitly: only (ids, chunk_text) cross into Python
    and only (ids, out_text, n_out_tokens) cross back — chunk_text is
    NOT echoed through Arrow a second time. At 100 TB the echo would
    double the seam's serialization volume for nothing.
    """
    fn = model_fn or standin_model
    schema = T.StructType(
        [
            df.schema["doc_id"],
            df.schema["chunk_id"],
            T.StructField("out_text", T.StringType()),
            T.StructField("n_out_tokens", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zipcache.install()
        for batch in batches:
            out = fn(batch)
            if "n_out_tokens" not in out.columns:
                out["n_out_tokens"] = out["out_text"].map(
                    lambda t: len(t.split(" ")) if isinstance(t, str) else 0
                )
            yield out[["doc_id", "chunk_id", "out_text", "n_out_tokens"]]

    return df.select("doc_id", "chunk_id", "chunk_text").mapInPandas(run, schema=schema)


# --- M2/M3: detok + first-line answer extraction ----------------------------


def decode_first_line(df: DataFrame) -> DataFrame:
    """M2/M3: `lstrip('\\n').split('\\n')[0]` — first-line answer extraction
    (pipeline_70b_samsum.py:302-303, test_proactive.py:85-87) of out_text
    into ``answer``.

    Delegates to ``functions.text.first_line``: Spark's ltrim strips only
    SPACES, so an out_text starting with '\\n' (the reference's decode
    shape) needs the explicit leading-newline regexp to match the
    reference's lstrip('\\n') and the DuckDB oracle's ltrim(…, chr(10))."""
    from ..functions.text import first_line

    return df.withColumn("answer", first_line(F.col("out_text")))
