"""Relational substrate: TPC-H-style aggregations/joins over lineitem/orders
and event-table windowing/sessionization/rollups (§2.8/§2.11 + bench headliners)."""

from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    _chunks,
    _docs,
    _events_with_pos,
    _hashlib_sha256,
    _standin_embed,
    _words,
)
from ..sources.scratch import materialize_once


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary over lineitem (bench headliner).

    Scale: single scan + partial-agg shuffle on a low-cardinality key;
    filter pushed to parquet; no joins."""
    li = load_table(spark, sf_dir, "lineitem")
    # Exact-decimal accumulation (functions/numeric.py): money and
    # discount columns sum as integer cents / 1e-4 rev-units (bigint,
    # associative → engine- and partitioning-deterministic); a float sum
    # is order-dependent, and round() of the engines' ulp-apart sums
    # splits when the true sum lands on a boundary (a 4-decimal revenue
    # group sum IS exactly x.xx50 ~1% of the time). Quantities are
    # integers, so their sum is already exact.
    rev = money_sum_2dp(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    price_c = F.sum(fixed_units(F.col("l_extendedprice"), 2))
    disc_c = F.sum(fixed_units(F.col("l_discount"), 2))
    qty = F.sum(F.col("l_quantity").cast("bigint"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= "2001-06-30")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (qty / F.lit(1.0)).alias("sum_qty"),
            (price_c / F.lit(100.0)).alias("sum_base_price"),
            rev.alias("sum_disc_price"),
            # round_ratio's int64 domain is num ≲ 4.6e12: the qty sum
            # (~25 per row) reaches that only near sf 10⁵, but the CENTS
            # sum (~3.8e6 per row) hits it around sf 1 — so avg_price is
            # the unrounded quotient of identical exact operands instead
            round_ratio(qty, n).alias("avg_qty"),
            (price_c / n / F.lit(100.0)).alias("avg_price"),
            round_ratio(disc_c, 100 * n).alias("avg_disc"),
            n.cast("bigint").alias("count_order"),
        )
    )


def q_top_revenue(spark, sf_dir):
    """TPC-H Q3-style: top 10 orders by revenue for one market segment.

    Scale: customer dim is broadcast (no shuffle of lineitem on custkey);
    the only wide shuffle is the groupBy(o_orderkey) aggregation."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Broadcast the DIM side (segment-filtered orders⋈customer), never the
    # fact table: without the hint Spark's size estimate can pick BuildLeft
    # on lineitem's 3-column projection — fine at sf0.1, catastrophic at
    # 100 TB where lineitem is the big table. At even larger orders
    # cardinality AQE's runtime stats would fall back to shuffle join.
    j = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        j.groupBy("o_orderkey", "o_orderpriority")
        .agg(
            money_sum_2dp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_region_revenue(spark, sf_dir):
    """Star-schema rollup: revenue per region via broadcast dim chain
    (lineitem ⋈ supplier ⋈ nation ⋈ region)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey).join(
            reg, nat.n_regionkey == reg.r_regionkey
        ).select("s_suppkey", "r_name")
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name")
        .agg(
            money_sum_2dp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


def q_window_tumbling(spark, sf_dir):
    """Tumbling 1-hour window aggregation over the events stream table
    (batch form; the streaming mode reuses the same expression)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            # the mean's exact numerator/denominator, not the quotient:
            # round(avg, 6) of 2-decimal values lands on exact x.5
            # boundaries (e.g. 1391.13/32 = 43.4728125) where Spark's and
            # DuckDB's last-ulp summation/rounding legitimately disagree
            # — first observed at sf0.1, the same boundary class
            # q_running_metric documents. The sum itself accumulates as
            # exact DECIMAL(38,6) (functions/numeric.decimal_sum): the
            # events measure has no schema-level magnitude cap, so a
            # single huge value in a group makes a raw double sum
            # order-dependent (adversarial-gate find).
            decimal_sum(F.col("value")).alias("sum_value"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select(
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("bigint").alias("hour_bucket"),
            "event_type",
            "sum_value",
            "n_events",
        )
    )


def q_sessionize(spark, sf_dir):
    """Session windows: per-user sessions split at >30 min inactivity gaps
    (engine streaming capability, batch-checkable form)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.unix_timestamp(F.min("ts")).cast("bigint").alias("session_start"),
        F.unix_timestamp(F.max("ts")).cast("bigint").alias("session_end"),
    )


def q_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation: per-event_type value sum/count via
    a deterministic salt (hot keys spread across ``skew.N_SALTS`` reducers).
    Value-identical to the plain groupBy — the oracle IS the plain SQL.
    The measure is pre-cast to DECIMAL(38,6) (functions/numeric.py):
    exact partials compose exactly under the salt's re-association, so
    "value-identical to the plain groupBy" holds for ANY magnitude mix —
    a raw double measure only holds it up to accumulation order (the
    salted_agg docstring's caveat, made live by the adversarial gate)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(38,6)")
    )
    out = skew_ops.salted_agg(ev)
    return out.select(
        "event_type",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        "n_rows",
    )


def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (SURVEY §4 partitioning): lineitem and
    orders are persisted bucket-sorted on their join key, then joined
    with NO shuffle of either fact side. At fixture scale the planner
    may still prefer a broadcast of the tiny orders side (also
    shuffle-free — bucketing is the insurance for when broadcast is
    impossible); with broadcast off, the matching bucket partitionings
    yield the zero-exchange sort-merge join pinned by
    tests/test_bucketed.py. Either way this query's budget is ONE hash
    exchange: the final aggregation.

    The 100 TB pattern this demonstrates: for a join key used by every
    recurring query (orderkey here), pre-bucketing converts the
    workload's biggest repeated shuffle into a one-time write-side cost.
    Values are checked against the plain join-aggregate SQL — bucketing
    must change the PLAN, never the answer.

    The bucketed copies are written once per process per (sf_dir, source
    content) key (``sources/scratch.materialize_once``): stat_signature
    walks the parquet dirs, so a fixture regenerated in place gets a
    fresh copy. The key's hash names the catalog tables, which a new
    session registers again over the same files: the bucket spec lives
    in the catalog and bucket ids are parsed from the file names, so a
    CLUSTERED BY table over them reads as bucketed."""
    import hashlib as _hl
    import os as _os

    from ..sources import bucketed as bkt
    from ..sources.tables import stat_signature

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    specs = ((li, "li", "l_orderkey"), (orders, "ord", "o_orderkey"))
    src = "|".join(
        f"{t}={stat_signature(p) if _os.path.exists(p) else 'absent'}"
        for t in ("lineitem", "orders")
        for p in [_os.path.join(sf_dir, t + ".parquet")]
    )
    tag = _hl.md5(f"{sf_dir}|{src}".encode()).hexdigest()[:12]

    def _build(root):
        for df, short, key in specs:
            bkt.write_bucketed(
                df, f"pmr_{short}_b_{tag}", key, path=_os.path.join(root, short)
            )

    base = materialize_once(("bucketed", tag), "pmr_bucketed_", _build)
    for df, short, key in specs:
        table = f"pmr_{short}_b_{tag}"
        if not spark.catalog.tableExists(table):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {table} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{_os.path.join(base, short)}'"
            )
    j = bkt.co_located_join(spark, f"pmr_li_b_{tag}", f"pmr_ord_b_{tag}")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        money_sum_2dp(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe fact⋈dim join with ``skew.N_SALTS``-fold dim replication
    instead of broadcast: lineitem ⋈ supplier on (suppkey, salt)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = skew_ops.salted_join(li, sup)
    return j.groupBy("s_nationkey").agg(
        money_sum_2dp(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
        F.count("*").cast("bigint").alias("n_items"),
    )


def q_rollup_multi(spark, sf_dir):
    """Multi-granularity rollup over events: (event_type, day) → event_type
    → grand total in one pass (hypertable-style continuous-aggregate
    shape; partial aggregation handles all levels in a single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.select(F.col("event_type"), day, F.col("value"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "event_type",
            F.unix_timestamp("day").cast("bigint").alias("day_epoch"),
            "n_events",
            "sum_value",
        )
    )


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-style promo revenue share: part dim broadcast into the
    lineitem scan, one month of shipdates (filter pushed to parquet),
    conditional aggregation — single wide shuffle of one partial-agg row
    per partition."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-03-01")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_u = fixed_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # exact 1e-4-unit int sums in both numerator and denominator; the
    # share is an unrounded quotient of identical exact operands (the
    # 100·sum too large for the exact round-6 trick; functions/numeric.py)
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev_u).otherwise(
                    F.lit(0).cast("bigint")
                )
            )
            / F.sum(rev_u)
        ).alias("promo_share"),
        F.count("*").cast("bigint").alias("n_items"),
    )


def q_asof_join(spark, sf_dir):
    """As-of join: each click matched to the user's latest view at-or-
    before it (union + ordered carry-forward — one exchange, one sort,
    linear cost; never a range cross-product). DuckDB oracles it with
    native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    j = asof_ops.asof_join(clicks, views)
    return j.select(
        "user_id",
        "click_id",
        F.col("r_view_id").alias("view_id"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).cast("bigint").alias("age_us"),
    )


def q_range_join(spark, sf_dir):
    """Batch range join (click x view within ±30 min per user) via time-
    bucket expansion — the whole range condition becomes an equi-join on
    (user_id, bucket); same result set as the streaming q_stream_stream_
    join (shared oracle)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("l_id"), "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("r_id"), "ts"
    )
    j = range_ops.interval_join(clicks, views)
    return j.select(
        "user_id",
        "l_id",
        F.col("r_r_id").alias("r_id"),
        (F.unix_micros("r_ts") - F.unix_micros("ts")).cast("bigint").alias("gap_us"),
    )


def q_sketch_stats(spark, sf_dir):
    """Sketch statistics: approximate distinct words (KMV — k minimum
    hash values) and approximate doc-length quartiles (equi-width
    histogram bins) per language — constant-memory, mergeable forms of
    q_corpus_stats' exact aggregates (what actually runs at 100 TB).

    Both sketches are built on the portable md5 hash / exact integer bin
    counts, so unlike engine-native HLL and GK/t-digest summaries the
    values are bit-identical cross-engine → fully hash-checked in the
    driver gate; accuracy vs the exact aggregates stays pinned by tests.

    KMV estimator: with h uniform on [0, 2^32), E[k-th min] ≈ k/|S|·2^32
    → |S| ≈ (k-1)·2^32 / h_(k). When |S| < k the sketch holds the whole
    set and answers exactly. Quartiles report the lower bound of the bin
    where the cumulative count crosses p·n (bin width = range/64).
    """
    from ..operators import sketch as sketch_ops

    d = _docs(spark, sf_dir)
    words = _words(spark, sf_dir).join(d.select("doc_id", "lang"), "doc_id")
    wh = words.select("lang", portable_hash64("word").alias("h")).distinct()
    kmv = sketch_ops.kmv_distinct(wh)
    q = sketch_ops.histogram_quantiles(d)
    return kmv.join(q, "lang")


def q_session_window(spark, sf_dir):
    """Native session_window aggregation (30-min inactivity gap) — the
    built-in form of q_sessionize's hand-rolled lag/cumsum, usable
    unchanged under Structured Streaming. Oracle mirrors the gap
    semantics with window functions."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).cast("bigint").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def q_window_sliding(spark, sf_dir):
    """Sliding 1-hour window, 30-minute slide (each event contributes to
    two windows) — completes the tumbling/sliding/session triple; the
    same expression runs under Structured Streaming."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("win_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_semi_anti_join(spark, sf_dir):
    """§2.11: left-semi and left-anti joins — customers with vs without
    orders, as one labeled union (both sides broadcast the orders key
    set; at scale this is a shuffle semi-join AQE can re-plan)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ord_keys = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(
        ord_keys, cust.c_custkey == ord_keys.o_custkey, "left_semi"
    ).withColumn("has_orders", F.lit(1))
    without = cust.join(
        ord_keys, cust.c_custkey == ord_keys.o_custkey, "left_anti"
    ).withColumn("has_orders", F.lit(0))
    return (
        with_orders.unionByName(without)
        .groupBy("c_mktsegment", "has_orders")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


def q_cube_events(spark, sf_dir):
    """CUBE over (event_type, day-of-week): all four grouping levels in
    one pass (partial aggregation covers every cell)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.dayofweek("ts").cast("int").alias("dow"), "value")
        .cube("event_type", "dow")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            decimal_sum(F.col("value")).alias("sum_value"),
        )
    )


def q_pivot_event_types(spark, sf_dir):
    """PIVOT: per-user event counts spread into one column per event
    type. The value list is given explicitly, so the plan is a single
    conditional aggregation pass (no extra distinct scan) — the shape
    that survives 100 TB: one shuffle keyed by user_id."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in EVENT_TYPES
        ],
    )


def q_ship_priority(spark, sf_dir):
    """TPC-H Q3-style shipping priority: segment-filtered customers
    broadcast into orders, orders x lineitem joined on the order key,
    one grouped aggregation, top 10 by revenue via TakeOrderedAndProject
    (no global sort).

    The join strategy is deliberately left to Catalyst/AQE: at test
    scale the date-filtered lineitem side fits the broadcast threshold
    and the plan is exchange-free; at 100 TB the same code becomes a
    sort-merge join keyed by orderkey with both date filters already
    pushed to the parquet scans."""
    cutoff = "1998-06-01"
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    grouped = j.groupBy("o_orderkey", "o_orderpriority").agg(
        money_sum_2dp(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )
    return grouped.orderBy(F.col("revenue").desc(), "o_orderkey").limit(10)


def q_topn_per_group(spark, sf_dir):
    """Per-group top-N: the 3 highest-value customers inside each market
    segment by total order spend — the standard rank-within-partition
    pattern (aggregate, then row_number over a keyed window).

    Scale: one shuffle on custkey for the aggregate, one on mktsegment
    for the window; segment cardinality is tiny but per-segment rows
    shard by the range-partitioned sort, and N bounds the output."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    j = spend.join(cust, spend.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_spend").desc(), F.col("c_custkey")
    )
    return (
        j.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("c_mktsegment", "rank", "c_custkey", "total_spend")
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style local-supplier volume, written as SQL TEXT against
    registered temp views — exercising the spark.sql() entry path (same
    Catalyst plan space as the DataFrame API; the 6-way join reorders
    under CBO/AQE, dims broadcast, date filter pushes to the orders
    scan). The c_nationkey = s_nationkey predicate makes it a genuine
    multi-way join, not a star lookup."""
    for name in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n_name,
               -- money_sum_2dp (functions/numeric.py) as Spark SQL text,
               -- pinned by tests/test_numeric.py
               (CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount))
                 * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
                 AS BIGINT) + 50) DIV 100 / CAST(100.0 AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        GROUP BY n_name
        """
    )


def q_value_percentiles(spark, sf_dir):
    """Exact percentiles (median / p95) of event value per event type —
    `percentile` with linear interpolation, matching DuckDB's
    quantile_cont. Exact percentiles sort within each group post-shuffle;
    the sketch-based scale path for wide groups is q_sketch_stats
    (approx_percentile), this is the exact complement."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.count("*").cast("bigint").alias("n"),
    )


def q_event_interarrival(spark, sf_dir):
    """Per-user inter-arrival gap statistics via lag(): mean/max gap in
    MICROSECONDS (exact integers — unix_timestamp would truncate
    sub-second precision) and burst count (gaps under 60 s). One shuffle
    keyed by user_id; the window sort rides the same exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    gaps = ev.withColumn("gap_us", gap).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        # UNROUNDED quotient: sum/count/1e6 over exact int64 operands is
        # the same IEEE op sequence in both engines → bit-identical
        # doubles. round(x, 6) on those identical doubles is NOT portable
        # (Spark rounds the shortest decimal repr, DuckDB the binary
        # value — they split on half-boundary quotients; sf0.1 deep-gate
        # find), and the µs-sum magnitude overflows the exact-int64
        # rounding trick (functions/numeric.py), so no rounding at all.
        (F.sum("gap_us") / F.count("*") / F.lit(1e6)).alias("mean_gap_s"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.sum(F.when(F.col("gap_us") < 60_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursts"),
    )


def q_event_interarrival_chunked(spark, sf_dir, slice_us=None):
    """Hot-key-parallel form of q_event_interarrival (round-6 verdict
    item): the plain form's per-user window serializes ALL of a user's
    events into one task, so a 50%-hot user bounds the stage at
    O(hot-key rows) regardless of cluster size. Medians of 7 interleaved
    warm reps (11 for the last row), 4 vCPU, rows equal every rep:

    ============================================  =======  =========
    events fixture                                plain s  chunked s
    ============================================  =======  =========
    sf0.1 (100k rows)                              0.29     0.55
    adversarial --skew (sf0.001, 50% on user 0)    0.22     0.40
    sf0.1, 50% on user 0                           0.34     0.55
    sf0.1 ×10 as the sf1 gate (1M rows)            0.84     1.35
    sf0.1 ×10, 50% (500k rows) on user 0           1.62     1.30
    ============================================  =======  =========

    The plain form wins until one user's history reaches ~500k rows;
    there the chunked form wins 10 of 11 reps.

    Interarrival gaps are computable over OVERLAPPING per-user time
    slices carrying one row of boundary state, which re-parallelizes the
    pathological user:

      1. slice = ts div SLICE_US (any ts-monotone assignment yields the
         identical gap set — slicing merely partitions the ordered
         sequence, so slice width is a pure parallelism knob);
      2. intra-slice gaps via a (user_id, slice) window — the hot user's
         serial unit shrinks from its full history to one slice;
      3. boundary gaps from a per-(user, slice) first/last aggregate —
         lag over slices on that TINY table (rows = non-empty slices,
         not events; empty slices vanish so lag lands on the previous
         non-empty slice) reconstructs each cross-slice gap exactly;
      4. union + per-user aggregate (map-side partials keep the final
         exchange small).

    Same exact-int64 gap algebra as the plain form, hence the SAME
    oracle; the equality of the two plans is also pinned by a direct
    Spark-vs-Spark test (tests/test_robustness.py). 100 TB: the serial
    floor drops from O(max user history) to O(events per user-slice) +
    O(slices) — both bounded by construction.
    """
    return interarrival_chunked(load_table(spark, sf_dir, "events"), slice_us)


def interarrival_chunked(events, slice_us=None):
    """DataFrame-level body of q_event_interarrival_chunked (split out so
    the slice-width-invariance property test can drive arbitrary inputs).

    ``slice_us`` is a pure parallelism knob, not semantics — the property
    test (tests/test_property_ops.py) sweeps it from 1 µs (every event
    its own slice: ALL gaps are boundary gaps) through mid widths to one
    wider than the data (one slice: degenerates to the plain plan) and
    the result is identical at every width."""
    SLICE_US = slice_us if slice_us is not None else 6 * 3600 * 1_000_000
    ev = events.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros("ts").alias("us"),
    )
    ev = ev.withColumn("slice", F.expr(f"us div {SLICE_US}"))
    w_intra = Window.partitionBy("user_id", "slice").orderBy("ts", "event_id")
    gapped = ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w_intra))
    intra = gapped.filter(F.col("gap_us").isNotNull()).select("user_id", "gap_us")
    # gap values depend on ts alone (event_id only breaks ordering ties
    # among EQUAL ts), so min/max(us) are the exact slice endpoints.
    # Plan shape (.explain-verified): Catalyst prunes the unused window
    # from this branch and plans a map-side partial aggregate under its
    # exchange, so the FULL event table crosses the wire exactly once
    # (the intra-window exchange); the per-slice and final exchanges
    # carry only per-(user, slice) / per-user partial rows.
    per_slice = gapped.groupBy("user_id", "slice").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    )
    w_slices = Window.partitionBy("user_id").orderBy("slice")
    boundary = (
        per_slice.withColumn(
            "gap_us", F.col("first_us") - F.lag("last_us").over(w_slices)
        )
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", "gap_us")
    )
    gaps = intra.unionByName(boundary)
    return gaps.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        # identical IEEE op sequence as the plain form (see its comment)
        (F.sum("gap_us") / F.count("*") / F.lit(1e6)).alias("mean_gap_s"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.sum(F.when(F.col("gap_us") < 60_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursts"),
    )


def q_incremental_rollup(spark, sf_dir):
    """§2.13 partial recomputation as a query surface: a per-user rollup
    initialized on the pre-split events, then maintained by merging ONLY
    the post-split delta's partial aggregates — the base is never
    rescanned (the engine analog of the reference's partial KV update,
    modeling_llama.py:860-869 / cache_utils.py:99-112). The maintained
    view must equal the full recompute, which is exactly what the oracle
    checks."""
    from ..plans.incremental import IncrementalAggregate

    # DECIMAL(38,6) measure (functions/numeric.decimal_sum rationale):
    # the maintained partials and the delta partials may associate the
    # same rows differently than a one-shot recompute, so the
    # ==-full-recompute contract needs an exactly-associative
    # accumulator for an uncapped-magnitude measure — decimal partials
    # merge exactly; double partials only up to accumulation order.
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(38,6)")
    )
    base = ev.filter(F.col("ts") < INCR_SPLIT_DATE)
    delta = ev.filter(F.col("ts") >= INCR_SPLIT_DATE)
    inc = IncrementalAggregate(
        "user_id", {"total_value": ("sum", "value"), "n_events": ("count", "value")}
    )
    inc.initialize(base)
    inc.apply_delta(delta)
    out = inc.result().select(
        "user_id",
        # display at the measure's own 2-decimal grain (identity for
        # 2-dec inputs, and the grain every other sum_value uses): a
        # 6-dp display kept more scaled digits than 2^53, where
        # DuckDB's decimal→double cast double-rounds one ulp off the
        # correctly-rounded conversion (functions/numeric.decimal_sum
        # domain note; adversarial-gate find)
        F.round("total_value", 2).cast("double").alias("total_value"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    return out


def q_event_anomaly(spark, sf_dir):
    """Per-user event anomaly detection: z-score of each event's value
    against the TRAILING window of its user's previous 10 events
    (monitoring/alerting shape — the trailing frame means new events
    never rewrite old scores, so the query is incrementally maintainable).

    One exchange (user_id window); anomalies = |z| > 2 with a sample-std
    denominator, rows with an undefined baseline (fewer than 2 prior
    events or zero variance) are excluded deterministically.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    # Exact integer window state (functions/numeric.py): float avg/stddev
    # over a window are accumulation-order artifacts (Spark sequential vs
    # DuckDB segment-tree — ulps apart), so a rounded/thresholded z built
    # from them is the documented round()-divergence class. With cents
    # sums S, Σc² and n all exact int64,
    #   z = (c·n − S) · sqrt((n−1) / (n·(n·Σc² − S²)))
    # runs identical integers through the same IEEE ops on both engines
    # — bit-identical z; sqrt makes the 6-dp display boundary-safe
    # (irrational except measure-zero cases).
    # Winsorize the cents into the exact-int state's domain: the window
    # algebra squares c, so n·Σc² < 2^63 bounds |c| ≤ ~9.6e8 cents for
    # the 10-event frame — an un-clamped 1e12 value OVERFLOWS (ANSI
    # throws; found by the --extreme sweep). Clamping at ±1e8 cents
    # (±1e6 units, far above any sane event measure) preserves anomaly
    # semantics: a clamped extreme still maxes |z| against any normal
    # baseline, and an all-extreme baseline hits the zero-variance
    # exclusion. Mirrored in the oracle.
    c = F.greatest(
        F.least(fixed_units(F.col("value"), 2), F.lit(10**8)), F.lit(-(10**8))
    )
    scored = ev.select(
        "user_id",
        "event_id",
        "ts",
        c.alias("c"),
    ).select(
        "user_id",
        "event_id",
        "c",
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
        F.count("c").over(w).alias("n"),
    )
    a = F.col("c") * F.col("n") - F.col("s")
    b = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = a * F.sqrt((F.col("n") - 1) / (F.col("n") * b))
    return (
        scored.filter((F.col("n") >= 2) & (b > 0))
        .select(
            "user_id",
            "event_id",
            F.round(z, 6).alias("z"),
            (F.abs(z) > 2).cast("int").alias("is_anomaly"),
        )
    )


def q_resample_ffill(spark, sf_dir):
    """Time-series resampling with forward fill: regularize each user's
    event stream onto an hourly grid (per-user min..max span), averaging
    in-hour values and carrying the last observation forward across
    gaps — the gap-fill shape of monitoring/feature pipelines.

    Shape: the grid is generated per user with sequence()+explode (no
    driver-side date loop), hourly means aggregate once, and the fill is
    a running last(ignorenulls) window — one exchange keyed by user_id
    serves the join, the window, and the grid generation's groupBy.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        # exact mean (functions/numeric.py): sum integer cents, round the
        # cents/100n ratio half-up in int64 — round(round(sum,2)/n, 6)
        # still split the engines when the quotient's shortest repr lands
        # on a 5e-7 half (e.g. sum 2.01 over 32 events → 0.0628125:
        # Spark rounds the repr up, DuckDB the binary value down)
        # PRECONDITION (numeric.py domain): event `value` is a
        # non-negative money-like measure (fixture min 0.01); a signed
        # measure here would make round_ratio truncate instead of
        # half-up. tests/test_numeric.py pins the fixture-wide sign.
        # Cents clamp to ±1e8 (the q_event_anomaly convention, mirrored
        # in the oracle): round_ratio's scaled numerator is int64, so an
        # uncapped 1e12 value (1e14 cents, ×2e6 ≈ 2e20) would raise
        # ANSI long-overflow instead of producing an hourly mean —
        # adversarial-gate find. Means stay exact for |value| ≤ 1e6;
        # beyond that the outlier caps deterministically in BOTH engines.
        round_ratio(
            F.sum(
                F.greatest(
                    F.least(fixed_units(F.col("value"), 2), F.lit(10**8)),
                    F.lit(-(10**8)),
                )
            ),
            100 * F.count("*"),
        ).alias("v")
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("hour").cast("bigint").alias("hour_ts"),
        # v is already an exact-6dp double; re-rounding adds nothing
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("v").isNull().cast("int").alias("was_gap"),
    )
