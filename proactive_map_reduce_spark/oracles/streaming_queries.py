"""Streaming-surface oracles (batch-equivalent SQL of the stream queries)."""

from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    ORACLES,
    _AGREE_TERMS,
    _BANDED,
    _BEST_ANS,
    _BLEU_LOGSUM,
    _BLEU_PIV,
    _CAND,
    _CHUNKS,
    _COS_CHUNK,
    _COS_DIM,
    _EMB_BASE,
    _FLAGSHIP_CTES,
    _HS,
    _LAST,
    _MAPPED,
    _MM_META,
    _RECHUNK,
    _SHINGLES,
    _SIG,
    _TAIL_LIMIT,
    _WORDS,
    _chunked_sum_sql,
    _cos_sql,
    _h,
    _jaccard_select,
    _norm,
    _set_f1_sql,
    _shingles_from,
)

# Watermarked streaming windows over in-order buckets ≡ batch aggregation.
ORACLES["q_stream_window_late"] = """
SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


ORACLES["q_stream_stream_join"] = """
SELECT l.user_id,
       l.event_id AS l_id,
       r.event_id AS r_id,
       CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS gap_us
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'view'
 AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts + INTERVAL 30 MINUTE
"""


# batch range join shares the stream-stream join's result set
ORACLES["q_range_join"] = ORACLES["q_stream_stream_join"]


# Streaming watermarked dedup == batch DISTINCT over the same
# at-least-once (duplicated) delivery.
ORACLES["q_stream_dedup"] = """
WITH delivered AS (
  SELECT * FROM events
  UNION ALL
  SELECT * FROM events WHERE event_id % 10 = 0
)
SELECT DISTINCT event_id, user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
FROM delivered
"""


# Stream-static enrichment == the batch equi-join (inner join output is
# final per micro-batch; no watermark semantics involved).
ORACLES["q_stream_static_enrich"] = """
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, round(e.value, 6) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


# The sequential re-feed recursion as a recursive-CTE fold: base = each
# doc's first chunk with empty accumulator, step joins chunk_id+1.
# chain_n = substr(md5(chain_{n-1} || out_n), 1, 8) exactly mirrors the
# state function; acc counts non-empty tokens like the engine.
ORACLES["q_stream_refeed_chain"] = f"""
WITH RECURSIVE {_WORDS}, {_CHUNKS}, {_MAPPED},
m AS (
  SELECT doc_id, chunk_id, out_text,
         CAST(len(list_filter(string_split(out_text, ' '), w -> w != ''))
              AS BIGINT) AS n_out
  FROM mapped
),
rec AS (
  SELECT doc_id, chunk_id, CAST(0 AS BIGINT) AS acc_words_before,
         substr(md5(out_text), 1, 8) AS chain, n_out
  FROM m
  WHERE chunk_id = (SELECT min(chunk_id) FROM m m2 WHERE m2.doc_id = m.doc_id)
  UNION ALL
  SELECT m.doc_id, m.chunk_id, rec.acc_words_before + rec.n_out,
         substr(md5(rec.chain || m.out_text), 1, 8), m.n_out
  FROM rec JOIN m ON m.doc_id = rec.doc_id AND m.chunk_id = rec.chunk_id + 1
)
SELECT doc_id, chunk_id, acc_words_before, chain FROM rec
"""
