"""Embedding-similarity and multimodal oracles."""

from ..functions.numeric import fixed_units_sql as _fu
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

ORACLES["q_dedup_embedding"] = f"""
WITH {_EMB_BASE},
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_cos_sql('a.v', 'b.v')}, 6) AS cos_sim
  FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {NEAR_DUP_COS}
"""


ORACLES["q_similarity_topk"] = f"""
WITH {_EMB_BASE},
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('q.qv', 'c.v')}, 6) AS cos_sim
  FROM base c CROSS JOIN q WHERE c.vec_id != q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


ORACLES["q_similarity_lsh"] = f"""
WITH {_EMB_BASE},
bucketed AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(generate_series(1, 4),
              i -> CASE WHEN v[i] >= 0 THEN CAST(pow(2, i - 1) AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END)) AS BIGINT) AS bucket
  FROM base
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM bucketed WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({_cos_sql('q.qv', 'c.v')}, 6) AS cos_sim
  FROM bucketed c JOIN q ON c.bucket = q.qb WHERE c.vec_id != q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


ORACLES["q_multimodal_features"] = f"""
WITH m AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         {_h('text')} AS h
  FROM documents
)
SELECT doc_id, media_type,
       -- BYTE length of the utf-8 payload, not character length of the
       -- text: the payload is a binary column, and the two only agree
       -- on pure-ASCII corpora (adversarial-gate find on multibyte text)
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
       md5(text) AS payload_md5,
       -- null-payload quarantine (engine-mirror, nulls value gate): the
       -- constant CASE arms (audio→0, non-video→1) must not fire for a
       -- missing asset — every metadata field is NULL, the row is kept
       CAST(CASE WHEN text IS NULL THEN NULL
                 WHEN media_type = 'audio' THEN 0 ELSE h % 1920 END AS BIGINT) AS width,
       CAST(CASE WHEN text IS NULL THEN NULL
                 WHEN media_type = 'audio' THEN 0 ELSE (h // 1920) % 1080 END AS BIGINT) AS height,
       CAST(CASE WHEN text IS NULL THEN NULL
                 WHEN media_type = 'video' THEN h % 300 ELSE 1 END AS BIGINT) AS n_frames
FROM m
"""


ORACLES["q_multimodal_resize"] = f"""
WITH {_MM_META},
dims AS (
  -- h IS NULL ⟺ text IS NULL (md5 of NULL): the null-payload
  -- quarantine must precede the constant audio→0 arm, and the out_*
  -- CASEs below need their own NULL arm — DuckDB's least(NULL, 512)
  -- IGNORES the null and returned a confident 512 for a missing asset
  -- (nulls value gate find)
  SELECT doc_id, media_type,
         CAST(CASE WHEN h IS NULL THEN NULL
                   WHEN media_type = 'audio' THEN 0 ELSE h % 1920 END AS BIGINT) AS width,
         CAST(CASE WHEN h IS NULL THEN NULL
                   WHEN media_type = 'audio' THEN 0 ELSE (h // 1920) % 1080 END AS BIGINT) AS height
  FROM m
)
SELECT doc_id, media_type, width, height,
       CAST(CASE WHEN width IS NULL THEN NULL
                 WHEN width <= 0 THEN 0 ELSE least(width, 512) END AS BIGINT) AS out_width,
       CAST(CASE WHEN width IS NULL THEN NULL
                 WHEN width <= 0 THEN 0
                 ELSE height * least(width, 512) // width END AS BIGINT) AS out_height,
       CAST(CASE WHEN width IS NULL THEN NULL
                 WHEN width <= 0 THEN 0
                 ELSE length('resized:' || CAST(least(width, 512) AS VARCHAR) || ':'
                      || CAST(height * least(width, 512) // width AS VARCHAR)) END AS BIGINT)
         AS out_payload_len
FROM dims
"""


ORACLES["q_multimodal_frames"] = f"""
WITH {_MM_META},
vids AS (
  SELECT doc_id, CAST(h % 300 AS BIGINT) AS n_frames
  FROM m WHERE media_type = 'video' AND h % 300 > 0
)
SELECT doc_id, n_frames, CAST(t.f AS BIGINT) AS frame_id
FROM vids, UNNEST(generate_series(0, n_frames - 1, 30)) AS t(f)
"""


ORACLES["q_embed_documents"] = f"""
WITH v AS (
  SELECT doc_id,
         [round(({_h("text || CAST(i AS VARCHAR)")} % 10000) / 10000.0, 6)
          FOR i IN range(0, 8)] AS emb
  FROM documents
)
SELECT doc_id, CAST(8 AS INT) AS dim,
       round(list_sum(emb), 6) AS emb_sum,
       emb[1] AS emb_0
FROM v
"""


ORACLES["q_quantize_embeddings"] = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s,
         len(list_filter(v, x -> isnan(x))) > 0 AS nan
  FROM v
),
q AS (
  -- zero-vector guard mirrors the engine: divide by 1.0 when s = 0 so
  -- q=0 and err=0 instead of engine-dependent x/0 behavior.
  -- NaN quarantine mirrors the engine (queries/similarity.py): the INT
  -- casts must not see the NaN lane (they error in both engines), so
  -- the CASE skips computing qv/errv entirely for quarantined rows.
  SELECT vec_id, s, nan,
         CASE WHEN nan THEN NULL ELSE
           list_transform(v, x -> CAST(round(x / CASE WHEN s = 0 THEN 1.0 ELSE s END) AS INT))
         END AS qv,
         CASE WHEN nan THEN NULL ELSE
           list_transform(v, x -> abs(x - round(x / CASE WHEN s = 0 THEN 1.0 ELSE s END) * s))
         END AS errv
  FROM s
)
SELECT vec_id,
       CASE WHEN nan THEN NULL ELSE round(s, 6) END AS scale,
       CAST(CASE WHEN nan THEN NULL ELSE list_max(qv) END AS INT) AS q_max,
       CAST(CASE WHEN nan THEN NULL ELSE list_min(qv) END AS INT) AS q_min,
       CASE WHEN nan THEN NULL ELSE round(list_max(errv), 6) END AS max_abs_err
FROM q
"""


# Centroid via per-dim mean of the unnested vectors; sum/count division
# mirrors the Spark side exactly (no avg(), same accumulation shape).
# Exact integer micro-unit sums (mirrors queries/similarity.py): bigint
# accumulation is order-independent; the final quotients divide the SAME
# exact integers on both engines.
ORACLES["q_embedding_centroids"] = f"""
WITH clean AS (
  -- corrupt-vector quarantine + double-side ±1e6 component clamp,
  -- mirroring queries/similarity.py (NaN vectors excluded; the clamp
  -- runs BEFORE the bigint micro-unit cast, which would error here on
  -- a 1e30 outlier where Spark's floor merely saturates)
  SELECT label, embedding
  FROM embeddings
  WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0
),
d AS (
  SELECT label, t.i - 1 AS dim,
         {_fu('greatest(least(CAST(e.embedding[t.i] AS DOUBLE), 1e6), -1e6)', 6)} AS xi
  FROM clean e, UNNEST(generate_series(1, len(e.embedding))) AS t(i)
),
pd AS (
  SELECT label, dim, sum(xi) AS sxi, count(*) AS n
  FROM d GROUP BY label, dim
),
cent AS (
  SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
         CAST(count(*) AS INT) AS dim,
         CAST(sum(sxi) AS DOUBLE) / max(n) / 1000000.0 AS centroid_sum,
         CAST(min(CASE WHEN dim = 0 THEN sxi END) AS DOUBLE) / max(n) / 1000000.0
           AS centroid_0
  FROM pd GROUP BY label
)
SELECT label, n_vectors, dim, centroid_sum, centroid_0 FROM cent
"""
