"""Shared SQL helpers and CTE fragments for the DuckDB oracle registry."""

from __future__ import annotations
from ..operators.chunking import CHUNK_LEN, DROP_BUDGET, NUM_STEPS, RATIO_TLOW
from ..operators.similarity import NEAR_DUP_COS
from ..queries import RATIO_INC, RATIO_LOW, RATIO_TINC
from ..functions.numeric import round_ratio_sql  # noqa: E402
from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME  # noqa: E402
from ..operators.dedup import LSH_MAX_BUCKET  # noqa: E402


# portable md5-derived 32-bit hash (see functions/hashing.py)
def _h(expr: str, salt: str = "") -> str:
    inner = f"({expr}) || '{salt}'" if salt else expr
    return f"CAST(('0x' || substr(md5({inner}), 1, 8)) AS BIGINT)"


# words of every document with 0-based positions and per-doc count
_WORDS = """
w AS (
  SELECT d.doc_id, t.i - 1 AS pos, d.ws[t.i] AS word, len(d.ws) AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
       UNNEST(generate_series(1, len(d.ws))) AS t(i)
)
"""


# C1 equal-partition chunk assignment + chunk rows
_LAST = NUM_STEPS - 1


_CHUNKS = f"""
ca AS (
  SELECT doc_id, pos, word,
    CAST(CASE WHEN n // {NUM_STEPS} <= 0 THEN {_LAST}
              ELSE least(pos // (n // {NUM_STEPS}), {_LAST}) END AS INT) AS chunk_id
  FROM w
),
chunks AS (
  SELECT doc_id, chunk_id,
         string_agg(word, ' ' ORDER BY pos) AS chunk_text,
         CAST(count(*) AS BIGINT) AS n_words
  FROM ca GROUP BY doc_id, chunk_id
)
"""


# C2 fixed rechunk with tail-merge (tail < 0.3*chunk_len merges back)
_TAIL_LIMIT = 0.3 * CHUNK_LEN


_RECHUNK = f"""
ra AS (
  SELECT doc_id, pos,
    CAST(least(pos // {CHUNK_LEN},
               CASE WHEN nc > 1 AND (n - (nc - 1) * {CHUNK_LEN}) < {_TAIL_LIMIT}
                    THEN nc - 2 ELSE nc - 1 END) AS INT) AS chunk_id
  FROM (SELECT doc_id, pos, n, CAST(ceil(n / {CHUNK_LEN}.0) AS BIGINT) AS nc FROM w) rw
),
rc AS (
  SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(min(pos) AS BIGINT) AS start_pos
  FROM ra GROUP BY doc_id, chunk_id
)
"""


# M1 stand-in model output per chunk (reverse word order)
_MAPPED = """
mapped AS (
  SELECT doc_id, chunk_id,
         array_to_string(list_reverse(string_split(chunk_text, ' ')), ' ') AS out_text,
         CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_out_tokens
  FROM chunks
)
"""


# normalize_text (functions/text.py) in DuckDB form. Whitespace is the
# same explicit char class as the Spark side (never \s — Java's \s
# includes \x0B, RE2's does not), so 'foo\nbar' normalizes to 'foo bar'
# identically on both engines and newlines never merge adjacent words.
_WS_CHARS = " \t\n\r\f"


def _norm(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace(lower("
        + expr
        + f"), '[^a-z0-9{_WS_CHARS}]', '', 'g'), "
        + f"'\\b(a|an|the)\\b', ' ', 'g'), '[{_WS_CHARS}]+', ' ', 'g'))"
    )


# One-or-more-whitespace class for inlining into oracle regexes. ALWAYS
# interpolate this (never hand-type the class): a hand-inlined copy once
# lost the \r byte in an edit, silently diverging the sentence split and
# whitespace collapse from the Spark side's [ \t\n\r\f] on CR-bearing
# text.
_WS_PLUS = f"[{_WS_CHARS}]+"


def _sentence_split_cte(src: str, cols: str = "doc_id") -> str:
    """One row per non-empty sentence of ``src``'s text column — the
    DuckDB mirror of operators/chunking.split_sentences (terminator +
    whitespace boundary via marker-insertion split; whitespace class
    from _WS_CHARS so the two engines cannot drift)."""
    return (
        f"SELECT {cols}, t.i - 1 AS sent_pos, d.ss[t.i] AS sentence\n"
        f"  FROM (SELECT {cols},\n"
        f"               string_split(regexp_replace(text, '([.!?]){_WS_PLUS}', '\\1' || chr(1), 'g'),\n"
        f"                            chr(1)) AS ss\n"
        f"        FROM {src}) d,\n"
        f"       UNNEST(generate_series(1, len(d.ss))) AS t(i)\n"
        f"  WHERE length(d.ss[t.i]) > 0"
    )


ORACLES: dict[str, str] = {}


def _norm_toks(x: str) -> str:
    """normalize_answer(x).split() as DuckDB SQL — mirror of
    functions.text.norm_tokens (an empty normalization yields zero
    tokens, the reference's no-answer)."""
    return f"list_filter(string_split({_norm(x)}, ' '), t -> t <> '')"


def _set_f1_sql(p: str, g: str) -> str:
    """DuckDB mirror of functions.scoring.set_f1 (inputs: distinct
    lists), including the reference no-answer rule: an empty side scores
    1 only when both are empty (test_proactive.py:115-117)."""
    inter = f"len(list_intersect({p}, {g}))"
    # 2pr/(p+r) = 2·|∩|/(|p|+|g|): exact-int half-up round, mirroring
    # functions.scoring.set_f1 (float round(x, 6) is engine-divergent)
    return (
        f"CASE WHEN len({p}) = 0 OR len({g}) = 0 "
        f"THEN CAST(len({p}) = 0 AND len({g}) = 0 AS DOUBLE) "
        f"WHEN {inter} = 0 THEN 0.0 "
        f"ELSE {round_ratio_sql(f'2 * {inter}', f'len({p}) + len({g})')} END"
    )


def _subset_sql(p: str, g: str) -> str:
    """DuckDB mirror of functions.scoring.subset_accuracy with the same
    no-answer rule (test_proactive.py:135-137)."""
    return (
        f"CASE WHEN len({p}) = 0 OR len({g}) = 0 "
        f"THEN CAST(len({p}) = 0 AND len({g}) = 0 AS INT) "
        f"ELSE CAST(len(list_filter({g}, x -> NOT list_contains({p}, x))) = 0 AS INT) END"
    )


# flagship scored rows as a reusable fragment (for metric aggregates)
_FLAGSHIP_CTES = f"""
{_WORDS}, {_CHUNKS}, {_MAPPED},
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
),
flagship AS (
  SELECT doc_id, lang, n_chunks,
         {_set_f1_sql('p', 'g_set')} AS set_f1,
         CAST({_norm('final_text')} = {_norm('gt_text')} AS INT) AS em,
         {_subset_sql('p', 'g_set')} AS subset_acc
  FROM scored
)
"""


_BEST_ANS = f"""
ans AS (
  SELECT doc_id,
         list_distinct({_norm_toks('text')}) AS a_same,
         list_distinct({_norm_toks("array_to_string(list_reverse(string_split(text, ' ')), ' ')")}) AS a_rev,
         list_distinct({_norm_toks("array_to_string(string_split(text, ' ')[1:10], ' ')")}) AS a_head
  FROM documents
)
"""


def _shingles_from(src: str) -> str:
    # WHERE ws IS NOT NULL mirrors shingle_arrays' null filter: a
    # null-text document has no shingle array, so it never reaches the
    # shingle/signature domain (DuckDB's greatest(NULL,0)=0 would
    # otherwise mint one phantom NULL-shingle row per null doc — the
    # nulls value gate caught q_minhash_signatures off by those rows)
    return f"""
sh AS (
  SELECT DISTINCT d.doc_id, array_to_string(d.ws[t.i + 1 : t.i + 3], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}) d,
       UNNEST(generate_series(0, greatest(len(d.ws) - 3, 0))) AS t(i)
  WHERE d.ws IS NOT NULL
)
"""


_SHINGLES = _shingles_from("documents")


# distinct hashed shingles per doc — both signatures and candidate
# Jaccard run over these (mirrors minhash_arrays(with_sets=True)'s h0 sets)
_HS = f"hs AS (SELECT DISTINCT doc_id, {_h('shingle')} % {MINHASH_PRIME} AS h0 FROM sh)"


_SIG = (
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"min(({MINHASH_A[j]} * h0 + {MINHASH_B[j]}) % {MINHASH_PRIME}) AS mh_{j}"
        for j in range(16)
    )
    + " FROM hs GROUP BY doc_id)"
)


def _band_union(src: str) -> str:
    """The banding SELECT body (one UNION ALL branch per band) over any
    signature relation — callers wrap it in their own CTE name."""
    return "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_id, {h} AS band_hash FROM {src}".format(
            b=b,
            src=src,
            h=_h(
                " || '|' || ".join(f"CAST(mh_{b * 4 + r} AS VARCHAR)" for r in range(4))
            ),
        )
        for b in range(4)
    )


_BANDED = "banded AS (" + _band_union("sig") + ")"


# Mirrors lsh_candidate_pairs' mega-bucket cap: full i<j expansion only
# among each bucket's K smallest ids (rank ≤ K); members past K star-link
# to the bucket's min id. Buckets ≤ K behave exactly as unbounded banding.
_CAND = f"""
ranked AS (
  SELECT doc_id, band_id, band_hash,
         row_number() OVER (PARTITION BY band_id, band_hash ORDER BY doc_id) AS rk,
         min(doc_id) OVER (PARTITION BY band_id, band_hash) AS rep
  FROM banded
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM ranked l JOIN ranked r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
     AND l.rk <= {LSH_MAX_BUCKET} AND r.rk <= {LSH_MAX_BUCKET}
    UNION ALL
    SELECT rep AS doc_a, doc_id AS doc_b FROM ranked WHERE rk > {LSH_MAX_BUCKET}
  )
)
"""


def _jaccard_select(pairs: str, src: str = "sh", key: str = "shingle") -> str:
    return f"""
sizes AS (SELECT doc_id, count(*) AS sz FROM {src} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM {src} a JOIN {src} b ON a.{key} = b.{key} AND a.doc_id < b.doc_id
  JOIN {pairs} c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       {round_ratio_sql('coalesce(i.n_inter, 0)', 'sa.sz + sb.sz - coalesce(i.n_inter, 0)')}
         AS jaccard
FROM {pairs} c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
"""


# Signature-agreement guard: candidates confirmed at n_sig_match >= 8
# (est J >= 0.5) before the exact set join — mirrors
# queries.q_dedup_minhash_confirmed / dedup.signature_agreement.
_AGREE_TERMS = " + ".join(
    f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END" for j in range(16)
)


# embedding base + cosine fragments
_EMB_BASE = """
base AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
"""


# Chunked unrolled cosine — mirrors operators.similarity exactly: 8 chunk
# sums of 8 terms, combined left-to-right. SQL `+` is left-associative, so
# this string parses to the same IEEE association Spark's codegen computes
# (round-3 change: both engines moved off whole-64-term left-leaning folds
# together, keeping value hashes aligned).
_COS_DIM, _COS_CHUNK = 64, 8


def _chunked_sum_sql(term) -> str:
    chunks = []
    for c0 in range(0, _COS_DIM, _COS_CHUNK):
        chunks.append("(" + " + ".join(term(d) for d in range(c0, c0 + _COS_CHUNK)) + ")")
    return "(" + " + ".join(chunks) + ")"


def _cos_sql(a: str, b: str) -> str:
    # DuckDB lists are 1-based; Spark arrays 0-based — d+1 here ↔ a[d] there
    dot = _chunked_sum_sql(lambda d: f"{a}[{d + 1}] * {b}[{d + 1}]")
    na = f"sqrt({_chunked_sum_sql(lambda d: f'{a}[{d + 1}] * {a}[{d + 1}]')})"
    nb = f"sqrt({_chunked_sum_sql(lambda d: f'{b}[{d + 1}] * {b}[{d + 1}]')})"
    return f"({dot} / ({na} * {nb}))"


# F6 BLEU, relational form: clipped n-gram matches / totals per order
# (exact integers) + closed-form smoothed BLEU from those integers —
# mirror of functions/scoring.py bleu_table.
_BLEU_PIV = ",\n       ".join(
    f"CAST(coalesce(max(CASE WHEN n = {n} THEN {src} END), 0) AS BIGINT) AS {src}{n}"
    for n in range(1, 5)
    for src in ("m", "t")
)


_BLEU_LOGSUM = " + ".join(
    f"(CASE WHEN least(4, t1) >= {n} THEN ln(CASE WHEN m{n} = 0 "
    f"THEN 1.0 / (2.0 * t{n}) ELSE m{n} / CAST(t{n} AS DOUBLE) END) "
    f"ELSE 0.0 END)"
    for n in range(1, 5)
)


# fake decode dims from md5(payload) — payload is utf-8 text bytes, so
# md5(payload) == md5(text); integer aspect math mirrored exactly.
_MM_META = """
m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h,
         CAST(length(text) AS BIGINT) AS payload_len
  FROM documents
)
"""
