"""Group R round-8 additions — distributed statistical analytics:
exact mode per group, weighted median, Pareto (80/20) concentration,
market-basket co-occurrence with lift, and CUSUM change-point scan.

These are the ClickHouse-analytics staples the reference's downstream
warehouse serves (`SURVEY.md` §2.C: the reference delegates ALL
relational compute to ClickHouse — `clickhouse_table_writer.go:115-149`
lands rows and every query below runs on the landed tables).

Cross-engine determinism notes (the recurring oracle-parity trap is
float summation order): every cumulative / boundary comparison here is
INTEGER-exact — quantities are integral (cast to BIGINT), prices are
2-dp (cast to cents via half-up `rN`), and the CUSUM statistic is
multiplied through by the day count so no ratio is ever materialized.
Ratios appear only in final reported columns, rounded with `r6`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bristle_spark.catalog import load_table
from bristle_spark.functions.rounding import r6, r6_sql
from bristle_spark.registry import register

# ---------------------------------------------------------------------------
# r_mode_per_group


@register(
    "r_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_event_type, n
    FROM (
        SELECT user_id, event_type, count(*) AS n,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY count(*) DESC, event_type
               ) AS rk
        FROM events
        GROUP BY user_id, event_type
    )
    WHERE rk = 1
    """,
)
def r_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value) per group, ties broken by the
    smallest value — the one 'top-1 per key' statistic no sketch can
    approximate away when the contract is exactness.

    Scale shape: two map-side-combined aggregations and NO per-key
    window. The (user, type) counts reduce to the per-user argmax via
    ``min(struct(-n, event_type))`` — struct ordering gives 'highest
    count, then lexicographically smallest type' in one partial-aggregable
    ``min`` (Spark compiles struct-min to a SortAggregate whose sort is
    by the grouping key over the already-compressed counts frame — NOT a
    window sort of raw events, which would spill on hot users at
    100 TB). The second shuffle moves one struct per (user, type) group.
    The oracle states the same semantics as the obvious window query;
    the engine picks the plan that survives scale.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    best = counts.groupBy("user_id").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg_n"), F.col("event_type").alias("et"))
        ).alias("m")
    )
    return best.select(
        "user_id",
        F.col("m.et").alias("mode_event_type"),
        (-F.col("m.neg_n")).alias("n"),
    )


# ---------------------------------------------------------------------------
# r_weighted_median


@register(
    "r_weighted_median",
    oracle="""
    WITH wp AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem
        GROUP BY l_returnflag, l_extendedprice
    ),
    cum AS (
        SELECT l_returnflag, price, w,
               sum(w) OVER (
                   PARTITION BY l_returnflag ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM wp
    )
    SELECT l_returnflag, min(price) AS weighted_median
    FROM cum
    WHERE 2 * cw >= tot
    GROUP BY l_returnflag
    """,
)
def r_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: smallest price whose cumulative quantity-weight
    reaches half the group total (quantity-weighted median unit price
    per return flag).

    Determinism: weights are integral quantities summed as BIGINT, so
    the half-total boundary test ``2*cw >= tot`` is integer-exact in
    both engines — no float-summation-order hazard at the median
    boundary. Scale shape: prices are pre-aggregated per (flag, price)
    BEFORE the window (the cumsum runs over the compressed distribution,
    not the raw rows), and the per-flag window partition is bounded by
    the distinct-price count, not the corpus. The final min() per flag
    is a map-side-combined aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wp = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = wp.select(
        "l_returnflag",
        "price",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tot"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# r_pareto_share

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


@register(
    "r_pareto_share",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_mktsegment, o.o_custkey,
               CAST(sum({_CENTS}) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    ranked AS (
        SELECT c_mktsegment, cents,
               sum(cents) OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY cents DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_cents,
               sum(cents) OVER (PARTITION BY c_mktsegment) AS tot_cents,
               count(*) OVER (PARTITION BY c_mktsegment) AS n_customers
        FROM rev
    )
    SELECT c_mktsegment,
           CAST(max(n_customers) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (WHERE 5 * (cum_cents - cents) < 4 * tot_cents)
                AS BIGINT) AS n_top80,
           {r6_sql('CAST(count(*) FILTER (WHERE 5 * (cum_cents - cents) < 4 * tot_cents) AS DOUBLE) / max(n_customers)')}
               AS top80_frac
    FROM ranked
    GROUP BY c_mktsegment
    """,
)
def r_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration: per market segment, how many
    customers (ranked by revenue) it takes to cover 80 % of segment
    revenue, and what fraction of the customer base that is.

    A customer is 'inside the top-80 set' iff the revenue accumulated
    BEFORE them is still short of 80 % (``5*(cum - own) < 4*tot``), so
    the set is the minimal prefix that reaches 80 %. All arithmetic is
    BIGINT cents (prices are 2-dp; half-up via the shared ``rN``
    identity), so the prefix boundary cannot flip on float order.

    Scale shape: revenue pre-aggregates per (segment, customer) with
    map-side combine; the ranking window partitions by segment (bounded
    per-segment customer counts — never a global window, per
    `tests/test_no_global_windows.py`); the final rollup is one more
    combinable aggregation on the already-small ranked frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("cents"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("c_mktsegment")
    ranked = rev.select(
        "c_mktsegment",
        "cents",
        F.sum("cents").over(w_cum).alias("cum_cents"),
        F.sum("cents").over(w_all).alias("tot_cents"),
        F.count(F.lit(1)).over(w_all).alias("n_customers"),
    )
    in_top80 = 5 * (F.col("cum_cents") - F.col("cents")) < 4 * F.col("tot_cents")
    return ranked.groupBy("c_mktsegment").agg(
        F.max("n_customers").cast("bigint").alias("n_customers"),
        F.count_if(in_top80).cast("bigint").alias("n_top80"),
        r6(
            F.count_if(in_top80).cast("double") / F.max("n_customers")
        ).alias("top80_frac"),
    )


# ---------------------------------------------------------------------------
# r_market_basket

BASKET_TOP = 50


@register(
    "r_market_basket",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    freq AS (
        SELECT l_partkey, count(*) AS n_item FROM items GROUP BY l_partkey
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_pair
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_pair,
           {r6_sql('CAST(n_pair AS DOUBLE) / n_orders')} AS support,
           {r6_sql('CAST(n_pair AS DOUBLE) * n_orders / (fa.n_item * fb.n_item)')}
               AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN tot
    ORDER BY n_pair DESC, part_a, part_b
    LIMIT {BASKET_TOP}
    """,
)
def r_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top pairs of parts bought in the
    same order, with support and lift — the association-rule primer
    (frequent-itemset k=2) every retail warehouse runs.

    Scale shape: the self-join is keyed on l_orderkey, so pair
    generation is LOCAL per order and bounded by basket size squared —
    never all-pairs over the catalog. Item frequencies and the order
    count are |parts|-row / 1-row frames broadcast to the pair counts
    (the part dimension is bounded; pairs are the corpus-sized side and
    are never re-shuffled for the enrichment). The top-K funnel is a
    TakeOrderedAndProject, with (part_a, part_b) tie-breaks so the cut
    is deterministic. Ratios round via the shared half-up `r6`.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # NOTE (r15): four branches consume this frame, but do NOT persist
    # it — the distinct's shuffle subtree is byte-identical across the
    # branches, so runtime exchange reuse already dedups it, and an
    # interleaved A/B (OPTIMIZATION_r15.md, "r_market_basket") measured
    # the persist as a 15% LOSS (cache materialization + broken codegen
    # pipelines)
    items = li.select("l_orderkey", "l_partkey").distinct()
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    tot = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    enriched = (
        pairs.join(
            F.broadcast(freq.withColumnRenamed("n_item", "n_a")),
            F.col("part_a") == F.col("l_partkey"),
        )
        .drop("l_partkey")
        .join(
            F.broadcast(
                freq.withColumnRenamed("n_item", "n_b").withColumnRenamed(
                    "l_partkey", "pk_b"
                )
            ),
            F.col("part_b") == F.col("pk_b"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return (
        enriched.select(
            "part_a",
            "part_b",
            "n_pair",
            r6(F.col("n_pair").cast("double") / F.col("n_orders")).alias("support"),
            r6(
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# r_cusum_changepoint


@register(
    "r_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    scanned AS (
        SELECT event_type, day,
               sum(x) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prefix,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
               sum(x) OVER (PARTITION BY event_type) AS total,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
           CAST(abs(n_days * prefix - t * total) AS BIGINT) AS cusum_score
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(n_days * prefix - t * total) DESC, day
               ) AS rk
        FROM scanned
    )
    WHERE rk = 1
    """,
)
def r_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan: per event type, the day where the
    cumulative deviation of the daily count from the type's mean peaks —
    the classic level-shift detector over a landed event table.

    Integer-exact statistic: CUSUM_t = prefix_t − t·mean would be a
    float; multiplying through by the day count gives
    ``|n_days·prefix_t − t·total|`` which is pure BIGINT, so the argmax
    (ties → earliest day) cannot flip on float rounding in either
    engine.

    Scale shape: the corpus-sized shuffle is the per-(type, day) count
    with map-side combine; every window after that runs on the
    |types|×|days| frame, partitioned by type (bounded rows per
    partition — the day axis, never raw events).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    scanned = daily.select(
        "event_type",
        "day",
        F.sum("x").over(w_cum).alias("prefix"),
        F.row_number().over(w_seq).alias("t"),
        F.sum("x").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    score = F.abs(
        F.col("n_days") * F.col("prefix") - F.col("t") * F.col("total")
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc(score), F.asc("day")
    )
    return (
        scanned.withColumn("cusum_score", score.cast("bigint"))
        .withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            "cusum_score",
        )
    )


# ---------------------------------------------------------------------------
# r_sliding_distinct

SLIDE_DAYS = 7


@register(
    "r_sliding_distinct",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    grid AS (SELECT DISTINCT day FROM du)
    SELECT strftime(g.day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT CASE WHEN d.day = g.day THEN d.user_id END)
                AS BIGINT) AS n_users_1d,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users_7d
    FROM grid g
    JOIN du d ON d.day BETWEEN g.day - {SLIDE_DAYS - 1} AND g.day
    GROUP BY g.day
    ORDER BY day
    """,
)
def r_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {SLIDE_DAYS}-day distinct active users per day (the
    rolling-DAU/WAU dashboard staple). Distinct-over-sliding-windows
    cannot ride a window function (distinct does not decompose), so the
    scale-correct plan materializes the (day, user) DISTINCT pairs ONCE
    (the corpus-sized shuffle, map-side combined), then EXPLODES each
    pair to the {SLIDE_DAYS} window-end days it contributes to — an
    equi-keyed aggregation on (target_day, user), never a range join of
    raw events and never a per-day rescan. The {SLIDE_DAYS}x replication
    happens on the already-compressed day-user frame, bounded by
    |days| x |users|. The oracle states the same semantics as the
    obvious BETWEEN range join.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    grid = du.select("day").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), SLIDE_DAYS - 1))
        ).alias("tday"),
        "day",
        "user_id",
    ).join(F.broadcast(grid.withColumnRenamed("day", "tday")), "tday")
    return (
        contrib.groupBy("tday")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("tday"), F.col("user_id"))
            )
            .cast("bigint")
            .alias("n_users_1d"),
            F.countDistinct("user_id").cast("bigint").alias("n_users_7d"),
        )
        .select(
            F.date_format("tday", "yyyy-MM-dd").alias("day"),
            "n_users_1d",
            "n_users_7d",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# r_bitmap_distinct

BITMAP_WORD_BITS = 32  # bits per bitmap word (avoids the sign bit entirely)


@register(
    "r_bitmap_distinct",
    oracle=f"""
    WITH bits AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               ((user_id % {BITMAP_WORD_BITS}) + {BITMAP_WORD_BITS})
                   % {BITMAP_WORD_BITS} AS r,
               user_id
        FROM events
    ),
    daily AS (
        SELECT event_type, day,
               (user_id - r) // {BITMAP_WORD_BITS} AS w,
               bit_or(1::BIGINT << CAST(r AS INT)) AS bm
        FROM bits
        GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, w, bit_or(bm) AS bm,
               count(*) AS n_partials
        FROM daily GROUP BY 1, 2
    ),
    est AS (
        SELECT event_type,
               CAST(sum(bit_count(bm)) AS BIGINT) AS n_users_bitmap,
               CAST(sum(n_partials) AS BIGINT) AS n_partials
        FROM merged GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, x.n_users_bitmap, x.n_partials, e.n_users_exact,
           CAST(x.n_users_bitmap = e.n_users_exact AS INT) AS bitmap_ok
    FROM exact e JOIN est x USING (event_type)
    """,
)
def r_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct count via integer bitmaps (the
    ClickHouse groupBitmap / roaring-bitmap pattern, r_hll_merge's
    exact sibling): per (type, day) the user space packs into
    {BITMAP_WORD_BITS}-bit words with bit_or — partials a pipeline
    persists at ingest — and any date range answers distinct-users by
    OR-merging word partials and summing popcounts. Unlike HLL this is
    exact, so the gate column asserts EQUALITY with count(distinct),
    not a contract band.

    Determinism: pure integer bit arithmetic; {BITMAP_WORD_BITS}-bit
    words never touch the sign bit, so Spark/DuckDB shift semantics
    cannot diverge.  Word/bit addressing uses a pmod-style
    non-negative remainder r = ((uid % W) + W) % W and
    w = (uid - r) div W: both engines truncate integer division toward
    zero and give % the dividend's sign, and uid - r is an exact
    multiple of W, so truncation equals floor and (w, r) is the same
    bijection of uid in Spark and DuckDB for NEGATIVE ids too — unlike
    double-division-then-cast (precision loss above 2^53) or a raw
    uid % W shift (negative count: Java masks, DuckDB errors).
    Sole residual edge: uid within W of INT64_MIN overflows uid - r. Scale shape: the daily build is one
    map-side-combined shuffle of (type, day, word) words (bit_or
    combines map-side — constant bytes per group per task); the merge
    shuffles |types| x |days| x |words| BIGINTs, never rows. Dense user
    spaces cost |users|/{BITMAP_WORD_BITS} words per group — the
    roaring-style chunking lever (drop empty words) is exactly what the
    word grouping provides.
    """
    ev = load_table(spark, sf_dir, "events")
    # F.shiftleft only takes a literal bit count; the SQL form shifts by
    # a per-row column.  r/w per the docstring's integer-exact addressing.
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, {BITMAP_WORD_BITS}) AS INT))"
    )
    w = F.expr(
        f"(user_id - pmod(user_id, {BITMAP_WORD_BITS})) div {BITMAP_WORD_BITS}"
    )
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        w.alias("w"),
    ).agg(F.bit_or(bit).alias("bm"))
    merged = daily.groupBy("event_type", "w").agg(
        F.bit_or("bm").alias("bm"), F.count(F.lit(1)).alias("n_partials")
    )
    est = merged.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_users_bitmap"),
        F.sum("n_partials").cast("bigint").alias("n_partials"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact")
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "n_users_bitmap",
        "n_partials",
        "n_users_exact",
        (F.col("n_users_bitmap") == F.col("n_users_exact"))
        .cast("int")
        .alias("bitmap_ok"),
    )


# ---------------------------------------------------------------------------
# r_time_weighted_avg

_V_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


@register(
    "r_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               {_V_CENTS} AS v_cents,
               epoch_ms(ts) AS t_ms,
               lead(epoch_ms(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS next_ms
        FROM events
    ),
    seg AS (
        SELECT user_id, v_cents, next_ms - t_ms AS dt_ms
        FROM seq WHERE next_ms IS NOT NULL
    )
    SELECT user_id,
           CAST(sum(dt_ms) AS BIGINT) AS span_ms,
           CAST(count(*) AS BIGINT) AS n_segments,
           {r6_sql("CAST(sum(v_cents * dt_ms) AS DOUBLE) / (100.0 * sum(dt_ms))")}
               AS twa_value
    FROM seg
    GROUP BY user_id
    HAVING sum(dt_ms) > 0
    """,
)
def r_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled value per user
    (each observation holds until the next one — the zero-order-hold
    TWA every metering/sensor/billing warehouse computes; a plain avg
    over-weights bursts). The last observation has no successor and
    drops out; single-event users have no observed span.

    Determinism: values are 2-dp (half-up to BIGINT cents), durations
    are integer epoch-milliseconds from lead(), so Σ(v·dt) and Σdt are
    BIGINT-exact; the single ratio rounds half-up at 6 dp. Scale shape:
    ONE user-keyed exchange feeds the lead() window (per-user partition,
    the r_window_lag shape) and the subsequent per-user aggregation
    rides the same partitioning with map-side combine.
    """
    ev = load_table(spark, sf_dir, "events")
    t_ms = F.unix_millis("ts")
    w = Window.partitionBy("user_id").orderBy(t_ms, "event_id")
    seq = ev.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_cents"),
        t_ms.alias("t_ms"),
        F.lead(t_ms).over(w).alias("next_ms"),
    )
    seg = seq.filter(F.col("next_ms").isNotNull()).select(
        "user_id", "v_cents", (F.col("next_ms") - F.col("t_ms")).alias("dt_ms")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum("dt_ms").cast("bigint").alias("span_ms"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            r6(
                F.sum(F.col("v_cents") * F.col("dt_ms")).cast("double")
                / (100.0 * F.sum("dt_ms"))
            ).alias("twa_value"),
        )
        .filter(F.col("span_ms") > 0)
    )


# ---------------------------------------------------------------------------
# r_markov_transitions


@register(
    "r_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS state,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS next_state
        FROM events
    ),
    trans AS (
        SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_state IS NOT NULL
        GROUP BY state, next_state
    ),
    marg AS (SELECT state, CAST(sum(n) AS BIGINT) AS tot FROM trans GROUP BY state)
    SELECT t.state, t.next_state, t.n,
           {r6_sql("CAST(t.n AS DOUBLE) / m.tot")} AS p
    FROM trans t JOIN marg m USING (state)
    ORDER BY state, next_state
    """,
)
def r_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences
    (state = event_type, ordered by event time): transition counts and
    row-normalized probabilities — the empirical behavior model behind
    next-action prediction and funnel-anomaly alerts.

    Determinism: the successor comes from lead() over (epoch-ms,
    event_id) — a total order; counts are BIGINT and the only ratio
    rounds half-up at 6 dp. Scale shape: ONE user-keyed exchange feeds
    the lead() window; the transition rollup is a |types|^2
    map-side-combined aggregation, and the marginals re-aggregate the
    counts table (|types|^2 rows) rather than rescanning events — the
    r_cusum_changepoint discipline.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    seq = ev.select(
        F.col("event_type").alias("state"),
        F.lead("event_type").over(w).alias("next_state"),
    )
    trans = (
        seq.filter(F.col("next_state").isNotNull())
        .groupBy("state", "next_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    marg = trans.groupBy("state").agg(F.sum("n").cast("bigint").alias("tot"))
    return (
        trans.join(F.broadcast(marg), "state")
        .select(
            "state",
            "next_state",
            "n",
            r6(F.col("n").cast("double") / F.col("tot")).alias("p"),
        )
        .orderBy("state", "next_state")
    )


# ---------------------------------------------------------------------------
# r_theil_sen

_TS_SCHEMA = "user_id bigint, n_days bigint, ts_slope double"


@register(
    "r_theil_sen",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events
        GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.user_id,
               CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS s
        FROM daily a JOIN daily b
          ON a.user_id = b.user_id AND a.d < b.d
    )
    SELECT user_id,
           (SELECT CAST(count(*) AS BIGINT) FROM daily dd
            WHERE dd.user_id = slopes.user_id) AS n_days,
           {r6_sql("median(s)")} AS ts_slope
    FROM slopes
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def r_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per user: the MEDIAN of all pairwise
    slopes of (day, daily spend) points — the outlier-resistant
    trend estimator (breakdown point 29%) that OLS-based regr_slope
    isn't. Medians of pairwise statistics don't decompose into
    aggregates, which makes this the canonical GROUPED-MAP operator:
    ``applyInPandas`` ships each user's (tiny) daily series to a
    vectorized numpy kernel — thousands of groups fitted in parallel,
    Arrow-batched, with the O(n_days^2) pair enumeration done inside
    the kernel where n_days is bounded by the calendar, never by the
    event count (events pre-aggregate to daily BIGINT cents first —
    the one corpus-sized shuffle).

    Determinism: pair slopes are BIGINT-cents / integer-day ratios
    computed identically in both engines; numpy's median and DuckDB's
    median both average the two middle values; the result rounds with
    the shared half-up r6 (applied via the same floor(x*1e6+0.5)
    identity inside the kernel)."""
    import math

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "d"
        ),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        d = pdf["d"].to_numpy(dtype=np.float64)
        c = pdf["cents"].to_numpy(dtype=np.float64)
        n = len(d)
        if n < 2:
            return pd.DataFrame(
                {"user_id": [], "n_days": [], "ts_slope": []}
            ).astype({"user_id": "int64", "n_days": "int64", "ts_slope": "float64"})
        i, j = np.triu_indices(n, k=1)
        slopes = (c[j] - c[i]) / (d[j] - d[i])
        med = float(np.median(slopes))
        med6 = math.floor(med * 1_000_000 + 0.5) / 1_000_000
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_days": [int(n)],
                "ts_slope": [med6],
            }
        )

    # the daily frame is BYTES-small (users x days), so AQE coalesces
    # its exchange to one partition and the 1500 numpy kernels would run
    # serially in a single Python worker — the same small-input/
    # heavy-stage inversion fan_out_if_coarse exists for (measured
    # 9.5s -> ~1s at sf0.1)
    from bristle_spark.catalog import fan_out_if_coarse

    daily = fan_out_if_coarse(daily, "user_id")
    return (
        daily.groupBy("user_id")
        .applyInPandas(fit, schema=_TS_SCHEMA)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# r_exp_decay_avg

DECAY_MAX_HALVINGS = 14  # weight floor: events >= 28 days old keep w=1


@register(
    "r_exp_decay_avg",
    oracle=f"""
    WITH a AS (SELECT max(epoch_us(ts)) AS anchor_us FROM events),
    b AS (
        SELECT user_id,
               {_V_CENTS} AS v_cents,
               (CAST(1 AS BIGINT) << CAST({DECAY_MAX_HALVINGS} - least(
                   ((a.anchor_us - epoch_us(ts)) // 86400000000) // 2,
                   {DECAY_MAX_HALVINGS}) AS INT)) AS w
        FROM events, a
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(w AS DECIMAL(38,0))) AS BIGINT) AS sum_weight,
           {r6_sql(
               "CAST(sum(CAST(v_cents AS HUGEINT) * w) AS DOUBLE)"
               " / CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / 100.0"
           )} AS decayed_avg
    FROM b
    GROUP BY user_id
    """,
)
def r_exp_decay_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed average value per user — the exponential-decay
    feature every engagement/LTV model wants (recent activity counts
    more; half-life 2 days against the newest event in the table).

    Determinism by construction: ages are exact integer µs -> integer
    days (bigint DIV), the decay weight is the exact power of two
    2^(14 - min(age_days DIV 2, 14)) (a shiftleft, never libm pow), and
    both Σ(v_cents·w) and Σw accumulate as DECIMAL(38,0) — exact and
    addition-order-independent, so partial aggregation cannot drift
    from DuckDB's sequential sum. The single ratio is one double
    division rounded half-up at 6 dp. Events >= 28 days old saturate at
    the floor weight 1 rather than vanishing.

    Scale shape: the anchor is a column-stats max (1-row broadcast via
    crossJoin(broadcast)); the body is ONE user-keyed exchange with
    map-side combine — decimal partials are 16 bytes/group/task. At
    100 TB the DECIMAL(38,0) accumulators absorb ~1e21 weight-cents
    before overflow (vs bigint's 9.2e18), the same headroom discipline
    as s_stream_histogram_quantiles' rank math."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("anchor_us"))
    base = (
        ev.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_cents"),
            (F.col("anchor_us") - F.unix_micros("ts")).alias("age_us"),
        )
        .selectExpr(
            "user_id",
            "v_cents",
            f"shiftleft(CAST(1 AS BIGINT), CAST({DECAY_MAX_HALVINGS} - least("
            f"(age_us DIV 86400000000) DIV 2, {DECAY_MAX_HALVINGS}) AS INT)) AS w",
        )
    )
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("sw"),
        # decimal BEFORE the multiply: v_cents * w would wrap in int64
        # once cents * 2^14 passes 9.2e18 (self-review r11)
        F.sum(
            F.col("v_cents").cast("decimal(38,0)") * F.col("w").cast("decimal(38,0)")
        ).alias("scw"),
    )
    return agg.select(
        "user_id",
        "n_events",
        F.col("sw").cast("bigint").alias("sum_weight"),
        r6(F.col("scw").cast("double") / F.col("sw").cast("double") / F.lit(100.0)).alias(
            "decayed_avg"
        ),
    )


# ---------------------------------------------------------------------------
# r_autocorrelation

_ACF_NUM = "(n * sxy - sx * sy)"
_ACF_VX = "(n * sxx - sx * sx)"
_ACF_VY = "(n * syy - sy * sy)"


@register(
    "r_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(sum({_V_CENTS}) AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    l AS (
        SELECT event_type, x,
               lag(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS y1,
               lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS y7
        FROM daily
    ),
    p AS (
        SELECT event_type, 1 AS lag_days, x, y1 AS y FROM l WHERE y1 IS NOT NULL
        UNION ALL
        SELECT event_type, 7 AS lag_days, x, y7 AS y FROM l WHERE y7 IS NOT NULL
    ),
    s AS (
        SELECT event_type, lag_days,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE)  AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)  AS sy,
               -- products promoted to HUGEINT BEFORE multiplying: a
               -- daily total past ~3e9 cents would wrap x*x in int64
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE)    AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)    AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE)    AS syy
        FROM p GROUP BY event_type, lag_days
    )
    SELECT event_type, CAST(lag_days AS INT) AS lag_days, n_pairs,
           CASE WHEN {_ACF_VX} <= 0 OR {_ACF_VY} <= 0 THEN NULL
                ELSE {r6_sql(f"{_ACF_NUM} / (sqrt({_ACF_VX}) * sqrt({_ACF_VY}))")}
           END AS acf
    FROM s
    """,
)
def r_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily value series per
    event type — the seasonality/momentum diagnostic a forecasting
    warehouse computes before model choice (lag-7 high = weekly cycle).

    Determinism by construction (the r_exp_decay_avg discipline):
    daily totals are exact BIGINT cents; the six Pearson sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMAL(38,0)
    — exact and addition-order-independent — and only the final
    Pearson formula runs in double, an identical IEEE op sequence in
    both engines (no engine-native corr(), whose partial-merge order
    differs). Zero/negative variance guards to NULL before sqrt so no
    NaN can reach the hash. Rounds at 6 dp with r6 (half-up for
    positive acf, toward +inf for negative — the documented r6
    cross-engine contract; identical in both engines by construction).

    Scale shape: the fact table collapses in ONE (type, day)-keyed
    map-side-combined aggregation to a dimension-sized frame
    (types × days); the lag windows and the per-(type, lag) Pearson
    both run on that tiny frame — window partitions are bounded by the
    calendar, never by corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("y1"),
        F.lag("x", 7).over(w).alias("y7"),
    )
    pairs = (
        lagged.select(
            "event_type",
            "x",
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("lag_days"), F.col("y1").alias("y")),
                    F.struct(F.lit(7).alias("lag_days"), F.col("y7").alias("y")),
                )
            ).alias("p"),
        )
        .select("event_type", F.col("p.lag_days").alias("lag_days"), "x", F.col("p.y").alias("y"))
        .filter(F.col("y").isNotNull())
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = pairs.groupBy("event_type", "lag_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        # promote to decimal BEFORE multiplying: a daily total past
        # ~3e9 cents would silently wrap x*x in int64 (ANSI off)
        F.sum(dec(F.col("x")) * dec(F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.when((vx <= 0) | (vy <= 0), F.lit(None)).otherwise(
        r6(num / (F.sqrt(vx) * F.sqrt(vy)))
    )
    return s.select(
        "event_type",
        F.col("lag_days").cast("int").alias("lag_days"),
        "n_pairs",
        acf.alias("acf"),
    )
