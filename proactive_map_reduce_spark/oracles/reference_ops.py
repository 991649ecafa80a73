"""Reference-parity oracles (scans, chunking, map/reduce, aggregations,
scalar functions, BLEU/ROUGE, flagship)."""

from ..functions.numeric import fixed_units_sql as _fu
from ..functions.numeric import round_ratio_sql as _rr
from ..functions.numeric import mean_6dp_sql as _m6
from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    ORACLES,
    _sentence_split_cte,
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
    _norm_toks,
    _set_f1_sql,
    _subset_sql,
    _shingles_from,
)

ORACLES["q_scan_documents"] = """
SELECT doc_id, lang, source, n_chars, CAST(length(text) AS BIGINT) AS text_len
FROM documents
"""


ORACLES["q_join_doc_gt"] = """
SELECT a.doc_id, a.text AS src_text, a.lang AS src_lang,
       b.text AS gt_text, b.lang AS gt_lang
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


ORACLES["q_scan_json_dataset"] = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


ORACLES["q_corpus_split_files"] = """
SELECT CAST(doc_id // 10 AS INT) AS section,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id // 10 <= 200 GROUP BY 1
"""


ORACLES["q_sentence_split"] = f"""
WITH s AS (
  {_sentence_split_cte('documents')}
)
SELECT doc_id, CAST(sent_pos AS INT) AS sent_pos,
       CAST(length(sentence) AS BIGINT) AS sent_len
FROM s
"""


ORACLES["q_word_split"] = f"""
WITH {_WORDS}
SELECT doc_id, CAST(pos AS INT) AS pos, word FROM w
"""


ORACLES["q_project_lengths"] = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, n_chars
FROM documents
"""


ORACLES["q_filter_empty"] = """
SELECT doc_id, n_chars FROM documents WHERE len(string_split(text, ' ')) > 5
"""


ORACLES["q_limit_head"] = """
SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 20
"""


ORACLES["q_prompt_assemble"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT doc_id, chunk_id,
       CAST(length('"' || chunk_text || '"') AS BIGINT) AS prompt_len,
       '"' || chunk_text || '"' AS prompt
FROM chunks
"""


ORACLES["q_tokenize"] = f"""
WITH {_WORDS}
SELECT doc_id, CAST(pos AS INT) AS pos, {_h('word')} % 32000 AS token FROM w
"""


ORACLES["q_partition_equal"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT doc_id, chunk_id, chunk_text, n_words FROM chunks
"""


ORACLES["q_rechunk_fixed"] = f"""
WITH {_WORDS}, {_RECHUNK}
SELECT doc_id, chunk_id, n_tokens, start_pos FROM rc
"""


ORACLES["q_split_ratio_schedule"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT doc_id, chunk_id,
       round(least({RATIO_LOW} + chunk_id * {RATIO_INC}, 1.0), 6) AS ratio
FROM chunks
"""


# derived-increment C4: {RATIO_TINC} interpolates the SAME Python double
# the Spark plan uses (repr round-trips exactly), so both engines ramp
# with the identical IEEE literal
ORACLES["q_ratio_schedule_target"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT doc_id, chunk_id,
       round(least({RATIO_TLOW} + chunk_id * {RATIO_TINC}, 1.0), 6) AS ratio
FROM chunks
"""


ORACLES["q_middle_drop_truncate"] = f"""
WITH RECURSIVE {_WORDS}, {_RECHUNK},
base AS (
  SELECT doc_id, list(chunk_id ORDER BY chunk_id) AS ids,
         list(n_tokens ORDER BY chunk_id) AS lens
  FROM rc GROUP BY doc_id
),
s AS (
  SELECT doc_id, ids, lens FROM base
  UNION ALL
  SELECT doc_id,
         ids[1:len(ids)//2] || ids[len(ids)//2+2:],
         lens[1:len(lens)//2] || lens[len(lens)//2+2:]
  FROM s WHERE len(ids) > 0 AND list_sum(lens) > {DROP_BUDGET}
),
fin AS (
  SELECT doc_id, ids FROM s
  WHERE len(ids) = 0 OR list_sum(lens) <= {DROP_BUDGET}
)
SELECT rc.doc_id, rc.chunk_id, rc.n_tokens
FROM rc JOIN (SELECT doc_id, unnest(ids) AS chunk_id FROM fin) sv
  USING (doc_id, chunk_id)
"""


ORACLES["q_positional_shift"] = f"""
WITH {_WORDS}, {_RECHUNK}
SELECT doc_id, chunk_id, n_tokens,
       CAST(coalesce(sum(n_tokens) OVER (
         PARTITION BY doc_id ORDER BY chunk_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shift
FROM rc
"""


ORACLES["q_llm_map"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED}
SELECT doc_id, chunk_id, out_text, n_out_tokens FROM mapped
"""


ORACLES["q_first_line_answer"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED}
SELECT doc_id, chunk_id,
       CAST(length(string_split(ltrim(out_text, chr(10)), chr(10))[1]) AS BIGINT) AS answer_len
FROM mapped
"""


ORACLES["q_incremental_concat"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED}
SELECT doc_id, string_agg(out_text, ' ' ORDER BY chunk_id) AS final_text,
       CAST(count(*) AS BIGINT) AS n_chunks
FROM mapped GROUP BY doc_id
"""


ORACLES["q_prefix_scan_inputs"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT doc_id, chunk_id,
       CAST(length(string_agg(chunk_text, ' ') OVER (
         PARTITION BY doc_id ORDER BY chunk_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS input_len
FROM chunks
"""


# v2 re-feed: prior-stage outputs append to the chunk prefix; stage 0
# (no prior output) carries no trailing separator
ORACLES["q_prefix_scan_refeed"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED}
SELECT c.doc_id, c.chunk_id,
       CAST(
         length(string_agg(c.chunk_text, ' ') OVER (
           PARTITION BY c.doc_id ORDER BY c.chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         + CASE WHEN op.prev_out IS NULL THEN 0
                ELSE 1 + length(op.prev_out) END
       AS BIGINT) AS input_len
FROM chunks c JOIN (
  SELECT doc_id, chunk_id,
         string_agg(out_text, ' ') OVER (
           PARTITION BY doc_id ORDER BY chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_out
  FROM mapped
) op USING (doc_id, chunk_id)
"""


ORACLES["q_flagship"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED},
fin AS (
  SELECT doc_id, string_agg(out_text, ' ' ORDER BY chunk_id) AS final_text,
         CAST(count(*) AS BIGINT) AS n_chunks
  FROM mapped GROUP BY doc_id
),
gt AS (
  SELECT doc_id, lang,
         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS gt_text
  FROM documents
),
scored AS (
  -- normalized tokens (the reference scores normalize_answer(x).split())
  SELECT f.doc_id, g.lang, f.n_chunks,
         list_distinct({_norm_toks('f.final_text')}) AS p,
         list_distinct({_norm_toks('g.gt_text')}) AS g_set,
         f.final_text, g.gt_text
  FROM fin f JOIN gt g USING (doc_id)
)
SELECT doc_id, lang, n_chunks,
       {_set_f1_sql('p', 'g_set')} AS set_f1,
       CAST({_norm('final_text')} = {_norm('gt_text')} AS INT) AS em,
       {_subset_sql('p', 'g_set')} AS subset_acc
FROM scored
"""


ORACLES["q_normalize_text"] = f"""
SELECT doc_id, {_norm('text')} AS norm_text FROM documents
"""


# Unicode FULL casing (what Python .lower() — the reference's
# test_proactive.py:35-39 — and Spark's lower() both apply) maps
# U+0130 'İ' to TWO codepoints: 'i' + U+0307 combining dot above.
# DuckDB's lower() applies the simple 1:1 mapping ('İ' → 'i'), so the
# oracle pre-expands the one multi-char full-lowercase mapping in
# Unicode before lowering the first character (r6 unicode value gate).
ORACLES["q_normalize_question"] = """
WITH q0 AS (
  SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') AS q FROM documents
),
q1 AS (
  SELECT doc_id, CASE WHEN q LIKE '%?' THEN q ELSE q || '?' END AS q FROM q0
)
SELECT doc_id,
       lower(replace(substr(q, 1, 1), 'İ', 'i̇')) || substr(q, 2) AS question
FROM q1
"""


ORACLES["q_exact_match"] = f"""
SELECT a.doc_id, CAST({_norm('a.text')} = {_norm('b.text')} AS INT) AS em
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


ORACLES["q_substring_match"] = f"""
WITH g AS (
  SELECT doc_id, text, array_to_string(string_split(text, ' ')[1:3], ' ') AS gold
  FROM documents
)
SELECT doc_id, CAST(contains({_norm('text')}, {_norm('gold')}) AS INT) AS contained FROM g
"""


ORACLES["q_any_answer_contained"] = f"""
WITH a AS (
  SELECT doc_id, text,
         [string_split(text, ' ')[1], 'zzz_nonexistent_token',
          string_split(text, ' ')[-1]] AS answers
  FROM documents
)
SELECT doc_id,
       -- null-text quarantine (engine-mirror): list_filter treats a
       -- NULL contains() as false, which would coerce the unknown to a
       -- confident 0 where the engine's exists() stays NULL
       CASE WHEN text IS NULL THEN NULL ELSE
         CAST(len(list_filter(answers, x -> contains({_norm('text')}, {_norm('x')}))) > 0 AS INT)
       END AS has_answer
FROM a
"""


ORACLES["q_timing_arith"] = f"""
SELECT doc_id,
       round(n_chars / CAST(100.0 AS DOUBLE), 6) AS decode_time,
       CASE WHEN n_chars > 0
            THEN {_rr("100 * len(string_split(text, ' '))", 'n_chars')}
       END AS decoding_speed
FROM documents
"""


ORACLES["q_hash_key"] = """
SELECT doc_id, CAST(t.layer AS INT) AS layer,
       sha256(text || CAST(t.layer AS VARCHAR)) AS cache_key
FROM documents, UNNEST(generate_series(0, 3)) AS t(layer)
"""


ORACLES["q_metrics_avg"] = f"""
WITH {_FLAGSHIP_CTES}
SELECT lang,
       {_m6('set_f1')} AS avg_f1,
       {_rr('sum(em)', 'count(em)')} AS em_rate,
       CAST(count(*) AS BIGINT) AS n_docs
FROM flagship GROUP BY lang
"""


ORACLES["q_best_of_answers"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED},
fin AS (
  SELECT doc_id, string_agg(out_text, ' ' ORDER BY chunk_id) AS final_text
  FROM mapped GROUP BY doc_id
),
{_BEST_ANS},
j AS (
  SELECT f.doc_id, list_distinct({_norm_toks('f.final_text')}) AS p,
         a.a_same, a.a_rev, a.a_head
  FROM fin f JOIN ans a USING (doc_id)
)
SELECT doc_id,
       greatest({_set_f1_sql('p', 'a_same')}, {_set_f1_sql('p', 'a_rev')},
                {_set_f1_sql('p', 'a_head')}) AS best_f1
FROM j
"""


ORACLES["q_union_outputs"] = f"""
WITH {_FLAGSHIP_CTES}
SELECT 'proactive' AS run, doc_id, set_f1 AS f1 FROM flagship
UNION ALL
SELECT 'baseline' AS run, doc_id, CAST(1.0 AS DOUBLE) AS f1 FROM documents
"""


ORACLES["q_mean_over_files"] = f"""
WITH {_FLAGSHIP_CTES},
u AS (
  SELECT 'proactive' AS run, doc_id, set_f1 AS f1 FROM flagship
  UNION ALL
  SELECT 'baseline' AS run, doc_id, CAST(1.0 AS DOUBLE) AS f1 FROM documents
)
SELECT run,
       {_m6('f1')} AS avg_f1,
       CAST(count(*) AS BIGINT) AS n_rows
FROM u GROUP BY run
"""


ORACLES["q_flatten_nested_times"] = f"""
WITH {_WORDS}, {_CHUNKS}
SELECT d.lang,
       {_m6('round(c.n_words / CAST(4.1 AS DOUBLE), 6)')} AS avg_prefill,
       CAST(count(*) AS BIGINT) AS n_times
FROM chunks c JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


ORACLES["q_token_counter_overlap"] = f"""
WITH nt AS (
  SELECT doc_id, {_norm_toks('text')} AS toks FROM documents
),
w AS (
  -- normalized tokens (pipeline_70b_samsum.py:84-85 counts
  -- normalize_answer(text) tokens, not raw words)
  SELECT doc_id, u.w AS word FROM nt, UNNEST(nt.toks) AS u(w)
),
pred AS (SELECT doc_id, word, count(*) AS c_pred FROM w GROUP BY doc_id, word),
gold AS (SELECT doc_id - 1 AS doc_id, word, count(*) AS c_gold FROM w GROUP BY doc_id - 1, word),
tp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pred FROM w GROUP BY doc_id),
tg AS (SELECT doc_id - 1 AS doc_id, CAST(count(*) AS BIGINT) AS n_gold FROM w GROUP BY doc_id - 1),
ov AS (
  SELECT p.doc_id, CAST(sum(least(p.c_pred, g.c_gold)) AS BIGINT) AS n_same
  FROM pred p JOIN gold g USING (doc_id, word) GROUP BY p.doc_id
),
j AS (
  SELECT tp.doc_id, tp.n_pred, tg.n_gold, coalesce(ov.n_same, 0) AS n_same
  FROM tp JOIN tg USING (doc_id) LEFT JOIN ov USING (doc_id)
)
SELECT doc_id,
       {_rr('n_same', 'n_pred')} AS precision,
       {_rr('n_same', 'n_gold')} AS recall,
       CASE WHEN n_same = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE {_rr('2 * n_same', 'n_pred + n_gold')} END AS f1
FROM j
"""


ORACLES["q_set_f1"] = f"""
WITH pr AS (
  SELECT a.doc_id,
         list_distinct({_norm_toks('a.text')}) AS p,
         list_distinct({_norm_toks('b.text')}) AS g_set
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
)
-- null-side quarantine (engine-mirror): a NULL token list is an absent
-- answer, not an empty one — the score is unknown, where the bare
-- formula's NULL-comparison CASE branches coerced it to 0.0
SELECT doc_id,
       CASE WHEN p IS NULL OR g_set IS NULL THEN NULL
            ELSE {_set_f1_sql('p', 'g_set')} END AS set_f1
FROM pr
"""


ORACLES["q_subset_accuracy"] = f"""
WITH s AS (
  SELECT doc_id,
         list_distinct({_norm_toks('text')}) AS p,
         list_distinct({_norm_toks("array_to_string(string_split(text, ' ')[1:10], ' ')")}) AS g_set
  FROM documents
)
SELECT doc_id, {_subset_sql('p', 'g_set')} AS subset_acc
FROM s
"""


ORACLES["q_grid_sweep"] = f"""
WITH params AS (
  SELECT CAST(r.ratio AS DOUBLE) AS ratio, CAST(l.check_layer AS INT) AS check_layer
  FROM (VALUES (0.2), (0.5), (0.8)) r(ratio)
  CROSS JOIN (VALUES (0), (40), (79)) l(check_layer)
),
d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents)
SELECT p.ratio, p.check_layer,
       {_rr('sum(CAST(round(p.ratio * d.n_words) AS BIGINT))', 'count(*)')}
         AS avg_selected,
       CAST(count(*) AS BIGINT) AS n_docs
FROM params p CROSS JOIN d
GROUP BY p.ratio, p.check_layer
"""


ORACLES["q_topk_importance"] = """
WITH e AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
r AS (
  -- rank pool excludes the tail (tail rows sort last), and k truncates
  -- like the reference's int() — mirrors operators/topk.py exactly
  SELECT *,
         row_number() OVER (PARTITION BY user_id
           ORDER BY CASE WHEN pos >= n - 2 THEN 1 ELSE 0 END ASC,
                    value DESC, pos ASC) AS rn,
         greatest(0, least(CAST(floor(CAST(0.3 AS DOUBLE) * n) AS BIGINT) - 1, n - 2)) AS k
  FROM e
)
SELECT user_id, pos, event_id,
       CASE WHEN pos >= n - 2 THEN 'tail' ELSE 'topk' END AS selected
FROM r WHERE pos >= n - 2 OR (rn <= k AND pos < n - 2)
"""


ORACLES["q_order_preserve"] = """
SELECT event_id, user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
         AS global_order
FROM events
"""


ORACLES["q_running_metric"] = """
SELECT event_id, user_id,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS running_sum,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM events
"""


ORACLES["q_speedup_model"] = f"""
WITH {_WORDS}, {_CHUNKS},
t AS (
  SELECT doc_id, chunk_id,
         n_words / CAST(4.1 AS DOUBLE) AS ingest,
         n_words * CAST(0.8 AS DOUBLE) AS prefill,
         n_words * CAST(0.5 AS DOUBLE) AS decode,
         coalesce(lead(n_words / CAST(4.1 AS DOUBLE)) OVER (
           PARTITION BY doc_id ORDER BY chunk_id), CAST(0.0 AS DOUBLE)) AS ingest_next
  FROM chunks
),
per_doc AS (
  SELECT doc_id,
         min(CASE WHEN chunk_id = 0 THEN ingest END)
           + sum(greatest(ingest_next, prefill + decode)) AS e2e_proactive,
         sum(ingest) + sum(prefill) + sum(decode) AS e2e_baseline
  FROM t GROUP BY doc_id
)
SELECT doc_id, round(e2e_baseline, 6) AS e2e_baseline,
       round(e2e_proactive, 6) AS e2e_proactive,
       round(e2e_baseline / e2e_proactive, 6) AS speedup
FROM per_doc
"""


# W1 streaming stage pipeline ≡ batch map stage (same values, different
# physical execution) — strongest possible check for a streaming op.
ORACLES["q_stage_pipeline"] = ORACLES["q_llm_map"]


# W2 final accumulation ≡ batch ordered incremental concat.
ORACLES["q_stateful_accumulate"] = ORACLES["q_incremental_concat"]


ORACLES["q_bleu"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED},
fin AS (
  SELECT doc_id, string_agg(out_text, ' ' ORDER BY chunk_id) AS final_text
  FROM mapped GROUP BY doc_id
),
ptoks AS (SELECT doc_id, list_filter(string_split(final_text, ' '), x -> x <> '') AS toks FROM fin),
gtoks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
png AS (
  SELECT doc_id, r.n, array_to_string(toks[s.i:s.i + r.n - 1], ' ') AS g
  FROM ptoks, range(1, 5) r(n),
       UNNEST(generate_series(1, len(toks) - r.n + 1)) s(i)
),
gng AS (
  SELECT doc_id, r.n, array_to_string(toks[s.i:s.i + r.n - 1], ' ') AS g
  FROM gtoks, range(1, 5) r(n),
       UNNEST(generate_series(1, len(toks) - r.n + 1)) s(i)
),
pcnt AS (SELECT doc_id, n, g, count(*) AS c FROM png GROUP BY doc_id, n, g),
gcnt AS (SELECT doc_id, n, g, count(*) AS cg FROM gng GROUP BY doc_id, n, g),
per_n AS (
  SELECT p.doc_id, p.n,
         sum(least(p.c, coalesce(q.cg, 0))) AS m, sum(p.c) AS t
  FROM pcnt p LEFT JOIN gcnt q USING (doc_id, n, g)
  GROUP BY p.doc_id, p.n
),
piv AS (
  SELECT doc_id,
       {_BLEU_PIV}
  FROM per_n GROUP BY doc_id
),
lens AS (
  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len_g
  FROM documents
),
staged AS (
  -- left join from the GOLD doc list (a zero-token pred has no gram
  -- rows but must still score 0.0) — mirrors bleu_table's one-row-per-
  -- gold-doc contract
  SELECT l.doc_id,
         {", ".join(f"CAST(coalesce({src}{n}, 0) AS BIGINT) AS {src}{n}" for n in range(1, 5) for src in ("m", "t"))},
         l.len_g
  FROM lens l LEFT JOIN piv ON piv.doc_id = l.doc_id
)
SELECT doc_id, t1 AS len_p, len_g,
       m1, t1, m2, t2, m3, t3, m4, t4,
       round(
         CASE WHEN t1 = 0 OR len_g = 0 THEN 0.0
              ELSE (CASE WHEN t1 > len_g THEN 1.0
                         ELSE exp(1.0 - len_g / CAST(t1 AS DOUBLE)) END)
                   * exp(({_BLEU_LOGSUM}) / least(4, t1)) END, 6) AS bleu
FROM staged
"""


# F7 ROUGE-L: recursive-CTE row DP for the LCS integer. Row i of the DP
# depends only on row i-1: dp[i][j] = max(dp[i-1][j], RM[j]) where RM is
# the running max over j of (b[j]=a[i] ? dp[i-1][j-1]+1 : 0) — the
# "use a[i] matched at some j' ≤ j" branch collapsed into one window.
ORACLES["q_rouge"] = f"""
WITH RECURSIVE {_WORDS}, {_CHUNKS}, {_MAPPED},
fin AS (
  SELECT doc_id, string_agg(out_text, ' ' ORDER BY chunk_id) AS final_text
  FROM mapped GROUP BY doc_id
),
-- token lists capped at the scoring window (functions/scoring.py
-- LCS_MAX_TOKENS = 2048, identity for every canonical document — max
-- measured 100 tokens tri-scale): the recursive DP below materializes
-- i·j rows, so one uncapped 15k-token document is a ~2.3e8-row CTE
-- (adversarial-gate stall)
-- MATERIALIZED is load-bearing: pw is referenced inside the recursive
-- member, and an inlined CTE re-derives the whole tokenization
-- pipeline on EVERY iteration — at the 2048-token cap that turned a
-- 27 s oracle into a 9+-minute one (measured)
ptoks AS MATERIALIZED (SELECT doc_id, list_filter(string_split(final_text, ' '), x -> x <> '')[1:2048] AS toks FROM fin),
gtoks AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')[1:2048] AS toks FROM documents),
pw AS MATERIALIZED (SELECT doc_id, s.i AS i, toks[s.i] AS a
       FROM ptoks, UNNEST(generate_series(1, len(toks))) s(i)),
gw AS MATERIALIZED (SELECT doc_id, s.j AS j, toks[s.j] AS b
       FROM gtoks, UNNEST(generate_series(1, len(toks))) s(j)),
dp AS (
  SELECT doc_id, 0 AS i, j, b, 0 AS v FROM gw
  UNION ALL
  SELECT doc_id, i, j, b, greatest(v_keep, rm) AS v FROM (
    SELECT doc_id, i, j, b, v_keep,
           max(CASE WHEN matched THEN lagv + 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY j ROWS UNBOUNDED PRECEDING) AS rm
    FROM (
      SELECT d.doc_id, d.i + 1 AS i, d.j AS j, d.b,
             d.v AS v_keep,
             coalesce(lag(d.v) OVER (PARTITION BY d.doc_id ORDER BY d.j), 0) AS lagv,
             (d.b = p.a) AS matched
      FROM dp d JOIN pw p ON p.doc_id = d.doc_id AND p.i = d.i + 1
    ) s1
  ) s2
),
lens AS (
  SELECT p.doc_id, len(p.toks) AS lp, len(g.toks) AS lg
  FROM ptoks p JOIN gtoks g USING (doc_id)
),
lcs AS (
  SELECT l.doc_id, CAST(coalesce(max(d.v), 0) AS BIGINT) AS lcs,
         CAST(l.lp AS BIGINT) AS len_p, CAST(l.lg AS BIGINT) AS len_g
  FROM lens l LEFT JOIN dp d ON d.doc_id = l.doc_id AND d.i = l.lp
  GROUP BY l.doc_id, l.lp, l.lg
)
SELECT doc_id, lcs, len_p, len_g,
       CASE WHEN lcs = 0 THEN 0.0
            ELSE {_rr('2 * lcs', 'len_p + len_g')} END AS rouge_l
FROM lcs
"""


# M2 vocabulary detok: one md5-derived token id per word; collisions
# resolve to min word on both sides.
ORACLES["q_decode_detok"] = f"""
WITH {_WORDS},
tok AS (SELECT doc_id, pos, {_h('word')} % 32000 AS tok FROM w),
vocab AS (SELECT {_h('word')} % 32000 AS tok, min(word) AS word FROM w GROUP BY 1)
SELECT t.doc_id, string_agg(v.word, ' ' ORDER BY t.pos) AS decoded_text
FROM tok t JOIN vocab v USING (tok)
GROUP BY t.doc_id
"""


# S4 sink round-trip: the JSONL write/read must preserve the metric rows.
ORACLES["q_sink_jsonl_append"] = """
SELECT doc_id, lang AS dataset, CAST(length(text) AS BIGINT) AS output_len
FROM documents
"""


# only the word CTE is consumed — toks re-derives chunk_id inline
ORACLES["q_kv_concat"] = f"""
WITH {_WORDS}
, toks AS (
  SELECT doc_id, pos, {_h('word')} % 32000 AS tok,
    CAST(CASE WHEN n // {NUM_STEPS} <= 0 THEN {NUM_STEPS - 1}
              ELSE least(pos // (n // {NUM_STEPS}), {NUM_STEPS - 1}) END AS INT) AS chunk_id
  FROM w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(tok) AS BIGINT) AS tok_checksum
FROM toks GROUP BY doc_id
"""


# A file has no null: the corpus writer stores a NULL text as an EMPTY
# file, and spark.read.text(wholetext) yields no row for a zero-byte
# file — so null/empty documents are absent from the round-trip on both
# sides (verified empirically; the raw-table oracle must mirror the
# reader, not the parquet row).
ORACLES["q_scan_text_corpus"] = """
SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
FROM documents
WHERE coalesce(text, '') <> ''
"""


ORACLES["q_intersect_docs"] = """
SELECT doc_id, lang FROM documents WHERE n_chars < 300
INTERSECT
SELECT doc_id, lang FROM documents WHERE doc_id < 250
"""


ORACLES["q_except_docs"] = """
SELECT doc_id, lang FROM documents WHERE n_chars < 300
EXCEPT ALL
SELECT doc_id, lang FROM documents WHERE doc_id < 250
"""


ORACLES["q_head_cap"] = """
SELECT event_id, event_type, round(value, 6) AS value
FROM events ORDER BY event_id LIMIT 5
"""


ORACLES["q_qa_pipeline"] = f"""
WITH RECURSIVE {_WORDS}, {_RECHUNK},
base AS (
  SELECT doc_id, list(chunk_id ORDER BY chunk_id) AS ids,
         list(n_tokens ORDER BY chunk_id) AS lens
  FROM rc GROUP BY doc_id
),
s AS (
  SELECT doc_id, ids, lens FROM base
  UNION ALL
  SELECT doc_id,
         ids[1:len(ids)//2] || ids[len(ids)//2+2:],
         lens[1:len(lens)//2] || lens[len(lens)//2+2:]
  FROM s WHERE len(ids) > 0 AND list_sum(lens) > {DROP_BUDGET}
),
fin AS (
  SELECT doc_id, ids FROM s
  WHERE len(ids) = 0 OR list_sum(lens) <= {DROP_BUDGET}
),
kept AS (SELECT doc_id, unnest(ids) AS chunk_id FROM fin),
wc AS (
  SELECT ra.doc_id, ra.chunk_id, w.word,
         (k.chunk_id IS NOT NULL) AS keep
  FROM ra JOIN w USING (doc_id, pos)
  LEFT JOIN kept k ON k.doc_id = ra.doc_id AND k.chunk_id = ra.chunk_id
),
mx AS (SELECT doc_id, max(chunk_id) AS mc FROM ra GROUP BY doc_id),
sets AS (
  SELECT wc.doc_id,
         list_distinct(list(word) FILTER (keep)) AS kept_set,
         list_distinct(list(word)) AS full_set,
         list_distinct(list(word) FILTER (wc.chunk_id = mx.mc)) AS last_set,
         CAST(count(*) FILTER (keep) AS BIGINT) AS kept_tokens,
         CAST(count(DISTINCT wc.chunk_id) FILTER (keep) AS BIGINT) AS n_chunks_kept
  FROM wc JOIN mx USING (doc_id)
  GROUP BY wc.doc_id
)
SELECT doc_id, n_chunks_kept, kept_tokens,
       greatest({_set_f1_sql('kept_set', 'full_set')},
                {_set_f1_sql('kept_set', 'last_set')}) AS best_f1
FROM sets
"""


ORACLES["q_sink_partitioned"] = """
SELECT doc_id, n_chars FROM documents WHERE lang = 'en'
"""


# CSV sink/source round-trip must preserve the rows exactly.
ORACLES["q_scan_csv_roundtrip"] = """
SELECT doc_id, lang, text FROM documents
"""


ORACLES["q_orc_roundtrip"] = """
SELECT doc_id, lang, n_chars FROM documents
"""


# K1-K5 fetch-or-compute protocol: 2 passes over stage keys = 1 miss +
# 1 hit each; tier = the same exact-integer policy the query applied
# (running stage-token total vs a 0.3·total budget).
ORACLES["q_cache_fetch_or_compute"] = f"""
WITH {_WORDS}, {_CHUNKS}, {_MAPPED},
ssize AS (
  SELECT chunk_id, CAST(sum(n_out_tokens) AS BIGINT) AS stage_tokens
  FROM mapped GROUP BY chunk_id
),
tot AS (SELECT CAST(floor(0.3 * sum(stage_tokens)) AS BIGINT) AS budget FROM ssize),
pol AS (
  SELECT chunk_id, stage_tokens,
         sum(stage_tokens) OVER (ORDER BY chunk_id) AS cum, budget
  FROM ssize, tot
)
SELECT CAST(chunk_id AS INT) AS chunk_id, stage_tokens,
       substr(sha256('stage:' || chunk_id), 1, 8) AS key8,
       CASE WHEN cum <= budget THEN 'memory'
            WHEN stage_tokens <= budget THEN 'memory_disk'
            ELSE 'disk' END AS tier,
       CAST(1 AS BIGINT) AS n_miss, CAST(1 AS BIGINT) AS n_hit
FROM pol
"""
