"""Relational-substrate oracles (TPC-H-style and event windowing)."""

from ..functions.numeric import fixed_units_sql as _fu
from ..functions.numeric import money_sum_2dp_sql as _ms
from ..functions.numeric import round_ratio_sql as _rr
from ..queries._base import EVENT_TYPES as _EVT  # noqa: E402
from ..operators.sketch import SKETCH_BINS as _BINS  # noqa: E402
from ..operators.sketch import SKETCH_KMV_K as _KMV  # noqa: E402
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

# Exact-decimal accumulation, mirroring the engine (functions/numeric.py):
# money sums as integer cents / 1e-4 rev-units, quantities as exact ints.
ORACLES["q_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       sum(CAST(l_quantity AS BIGINT)) / 1.0 AS sum_qty,
       sum({_fu('l_extendedprice', 2)}) / 100.0 AS sum_base_price,
       {_ms('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_rr('sum(CAST(l_quantity AS BIGINT))', 'count(*)')} AS avg_qty,
       sum({_fu('l_extendedprice', 2)}) / CAST(count(*) AS DOUBLE) / 100.0 AS avg_price,
       {_rr(f"sum({_fu('l_discount', 2)})", '100 * count(*)')} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-30'
GROUP BY l_returnflag, l_linestatus
"""


ORACLES["q_top_revenue"] = f"""
SELECT o.o_orderkey, o.o_orderpriority,
       {_ms('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""


ORACLES["q_region_revenue"] = f"""
SELECT r.r_name,
       {_ms('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


ORACLES["q_window_tumbling"] = """
SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hour_bucket,
       event_type,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
"""


ORACLES["q_sessionize"] = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           AS gap
  FROM events
),
s AS (
  SELECT user_id, event_id, ts,
         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end
FROM s GROUP BY user_id, session_id
"""


# Sketch stats: KMV distinct estimator + equi-width histogram quartiles —
# mirror of queries.q_sketch_stats (portable md5 hash, exact int bins).
ORACLES["q_sketch_stats"] = f"""
WITH {_WORDS},
wl AS (SELECT w.doc_id, w.word, d.lang FROM w JOIN documents d USING (doc_id)),
wh AS (SELECT DISTINCT lang, {_h('word')} AS h FROM wl),
wrn AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM wh
),
kmv AS (
  SELECT lang,
         CAST(CASE WHEN max(rn) < {_KMV} THEN max(rn)
                   ELSE floor(({_KMV} - 1) * 4294967296.0
                              / greatest(max(CASE WHEN rn = {_KMV} THEN h END), 1)
                              + 0.5) END
              AS BIGINT) AS approx_distinct_words
  FROM wrn GROUP BY lang
),
bounds AS (
  -- nulls excluded before counting (mirrors operators/sketch.py: a null
  -- lands in no bin, and counting it would shift every quantile)
  SELECT lang, min(n_chars) AS lo, max(n_chars) AS hi, count(n_chars) AS n
  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang
),
binned AS (
  SELECT d.lang, b.lo, b.hi, b.n,
         CAST(floor(((d.n_chars - b.lo) * {_BINS}) / (b.hi - b.lo + 1)) AS INT) AS bin
  FROM documents d JOIN bounds b USING (lang)
  WHERE d.n_chars IS NOT NULL
),
cnt AS (
  SELECT lang, lo, hi, n, bin, count(*) AS c
  FROM binned GROUP BY lang, lo, hi, n, bin
),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM cnt
),
quart AS (
  SELECT lang, lo, hi,
         max(CASE WHEN cum - c < 0.25 * n THEN bin END) AS b25,
         max(CASE WHEN cum - c < 0.50 * n THEN bin END) AS b50,
         max(CASE WHEN cum - c < 0.75 * n THEN bin END) AS b75
  FROM cum GROUP BY lang, lo, hi
)
SELECT k.lang, k.approx_distinct_words,
       CAST(q.lo + ceil((q.b25 * (q.hi - q.lo + 1)) / {_BINS}) AS BIGINT) AS p25,
       CAST(q.lo + ceil((q.b50 * (q.hi - q.lo + 1)) / {_BINS}) AS BIGINT) AS p50,
       CAST(q.lo + ceil((q.b75 * (q.hi - q.lo + 1)) / {_BINS}) AS BIGINT) AS p75
FROM kmv k JOIN quart q USING (lang)
"""


ORACLES["q_salted_agg"] = """
SELECT event_type,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY event_type
"""


# Bucketing must never change the answer: the oracle is the PLAIN join
ORACLES["q_bucketed_join"] = f"""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       {_ms('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


ORACLES["q_salted_join"] = f"""
SELECT s.s_nationkey,
       {_ms('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""


ORACLES["q_rollup_multi"] = """
SELECT event_type,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, date_trunc('day', ts))
-- engine-mirror for EMPTY input: SQL-standard grouping sets emit the
-- () grand-total row (count 0) over an empty relation, but Spark's
-- Expand-based rollup keys every grouping set and yields no rows.
-- count(*) >= 1 on every real group, so this drops ONLY that row.
HAVING count(*) > 0
"""


ORACLES["q_promo_revenue"] = f"""
SELECT (CAST(100.0 AS DOUBLE) * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                   THEN {_fu('l.l_extendedprice * (1 - l.l_discount)', 4)}
                   ELSE CAST(0 AS BIGINT) END))
         / sum({_fu('l.l_extendedprice * (1 - l.l_discount)', 4)}) AS promo_share,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1998-01-01' AND l.l_shipdate < DATE '1998-03-01'
"""


# Explicit window form rather than DuckDB's native ASOF JOIN: ASOF has
# NO defined tie-break among right rows sharing the max matching ts,
# while the Spark operator deterministically takes the largest
# (ts, view_id) — rank the candidates the same way so duplicate
# (user_id, ts) view rows cannot produce engine-dependent view_ids.
ORACLES["q_asof_join"] = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
m AS (
  SELECT c.user_id, c.event_id AS click_id, c.ts AS cts,
         v.event_id AS view_id, v.ts AS vts,
         row_number() OVER (PARTITION BY c.user_id, c.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM c JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts
)
SELECT c.user_id, c.event_id AS click_id, m.view_id,
       CAST(epoch_us(c.ts) - epoch_us(m.vts) AS BIGINT) AS age_us
FROM c LEFT JOIN m ON m.user_id = c.user_id AND m.click_id = c.event_id AND m.rn = 1
"""


# native session_window ≡ gap-based sessionization: a session starts at
# any event >30 min after its predecessor; session key = min ts in group.
ORACLES["q_session_window"] = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  -- cumsum must visit rows in the SAME (ts, event_id) order that
  -- assigned the new_sess flags: ordering by value here could put two
  -- same-timestamp events on opposite sides of a session boundary
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id,
       CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sess_id
"""


# sliding window: event at t belongs to starts {floor(t/1800)*1800,
# floor(t/1800)*1800 - 1800} (width 3600, slide 1800).
ORACLES["q_window_sliding"] = """
WITH e AS (
  SELECT event_type, value,
         (epoch_us(ts) // 1000000) AS t
  FROM events
),
x AS (
  SELECT event_type, value,
         (t // 1800) * 1800 - u.k * 1800 AS win_start_s
  FROM e, UNNEST([0, 1]) AS u(k)
)
SELECT CAST(win_start_s AS BIGINT) AS win_start_s, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2
"""


ORACLES["q_semi_anti_join"] = """
SELECT c_mktsegment,
       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            THEN 1 ELSE 0 END AS has_orders,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer c
GROUP BY 1, 2
"""


ORACLES["q_cube_events"] = """
SELECT event_type,
       CAST(dayofweek(ts) AS INT) + 1 AS dow,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE (event_type, CAST(dayofweek(ts) AS INT) + 1)
-- engine-mirror for EMPTY input (see q_rollup_multi): Spark's
-- Expand-based cube yields no rows where the standard emits the ()
-- grand-total row; count(*) >= 1 on every real group
HAVING count(*) > 0
"""


# pivot columns generated from EVENT_TYPES — the Spark query pivots on
# the same constant, so the two column sets cannot drift apart
_PIVOT_COLS = ",\n".join(
    f"  CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
    for t in _EVT
)
ORACLES["q_pivot_event_types"] = f"""
SELECT user_id,
{_PIVOT_COLS}
FROM events
GROUP BY user_id
"""


ORACLES["q_ship_priority"] = f"""
SELECT o.o_orderkey, o.o_orderpriority,
       {_ms('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-06-01'
  AND l.l_shipdate > DATE '1998-06-01'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


ORACLES["q_topn_per_group"] = """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c.c_mktsegment,
         CAST(row_number() OVER (
           PARTITION BY c.c_mktsegment
           ORDER BY s.total_spend DESC, c.c_custkey) AS INT) AS rank,
         c.c_custkey, s.total_spend
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
)
SELECT c_mktsegment, rank, c_custkey, total_spend
FROM ranked WHERE rank <= 3
"""


ORACLES["q_local_supplier_volume"] = f"""
SELECT n_name,
       {_ms('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
"""


ORACLES["q_value_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


ORACLES["q_event_interarrival"] = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
       -- unrounded on purpose: identical exact-int operands through the
       -- same IEEE divisions are bit-identical cross-engine; round() is
       -- not (see functions/numeric.py)
       sum(gap_us) / CAST(count(*) AS DOUBLE) / 1e6 AS mean_gap_s,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us < 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bursts
FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
"""

# The hot-key-parallel chunked form computes the IDENTICAL gap set
# (slicing only partitions each user's ordered sequence; boundary gaps
# are reconstructed exactly), so it shares the plain form's oracle.
ORACLES["q_event_interarrival_chunked"] = ORACLES["q_event_interarrival"]


# The maintained incremental view must equal the full recompute.
ORACLES["q_incremental_rollup"] = """
SELECT user_id,
       CAST(round(sum(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value,
       CAST(count(value) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


# exact hourly mean: integer-cents ratio rounded half-up in int64
# (mirrors queries/relational.py q_resample_ffill, including the ±1e8
# cents clamp that keeps the scaled numerator inside int64)
_v_expr = _rr(
    f"sum(greatest(least({_fu('value', 2)}, 100000000), -100000000))",
    "100 * count(*)",
)
ORACLES["q_resample_ffill"] = f"""
WITH b AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
         date_trunc('hour', max(ts)) AS h1
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         {_v_expr} AS v
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT g.user_id, g.hour, h.v
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
)
SELECT user_id,
       CAST(floor(epoch(hour)) AS BIGINT) AS hour_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
FROM j
"""


# Exact integer window state mirroring the engine: identical int64
# (c·n − S) and (n·Σc² − S²) through the same IEEE sqrt/divide sequence
# — no float avg/stddev accumulation-order ulps in the z-score path.
ORACLES["q_event_anomaly"] = f"""
WITH cw AS (
  -- winsorized into the exact-int window domain (see the Spark side)
  SELECT user_id, event_id,
         greatest(least({_fu('value', 2)}, 100000000), -100000000) AS c,
         ts
  FROM events
),
s AS (
  SELECT user_id, event_id, c,
         sum(c) OVER w AS s,
         sum(c * c) OVER w AS q,
         count(c) OVER w AS n
  FROM cw
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
),
zed AS (
  SELECT user_id, event_id,
         (c * n - s) * sqrt((n - 1) / (n * (n * q - s * s))) AS z
  FROM s WHERE n >= 2 AND n * q - s * s > 0
)
SELECT user_id, event_id, round(z, 6) AS z,
       CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END AS is_anomaly
FROM zed
"""
