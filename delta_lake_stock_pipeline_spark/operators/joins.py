"""Join operators (SURVEY.md SS2.3 -- all extensions; the reference is a
single-table pipeline with zero joins, so this module IS the join surface a
user of the generalized engine gets).

Physical-strategy stance (100 TB): declare the join, let Catalyst + AQE pick
the algorithm -- but *shape* the plan where the optimizer cannot know better:

* Dimension joins take an explicit ``F.broadcast`` hint: region/nation/
  supplier-scale dims are bounded (they grow ~linearly with nations, not with
  fact rows), so a shuffle of the fact side is never warranted.
* Fact-fact joins (orders x lineitem) are left to sort-merge/shuffled-hash on
  the join key; AQE handles skew splitting at runtime.
* The as-of join is implemented as union + last-observation-carried-forward
  window: a SINGLE shuffle by (key, time) -- the scale-correct alternative to
  the naive range-join which explodes to |left| x |right| per key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..sources.fixtures import load_table


def broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash equi join: fact side never shuffles; the bounded dims
    (nation: 25 rows, region: 5) ship to every executor."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


def sortmerge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join (orders x lineitem) -> revenue per order priority.

    Both sides shuffle on l_orderkey/o_orderkey; partial aggregation runs
    map-side after the join. At fixture scale AQE may downgrade to broadcast
    -- that is the optimizer's call, and exactly the behavior we want at
    either scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # decimal-exact per-term revenue: the rounded sum must not depend on
    # partial-aggregation order across engines (same fix as j_bloom below).
    revenue = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select("o_orderpriority", revenue)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


def shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SHUFFLE_HASH strategy hint: both sides shuffle on the key
    and the hinted side builds a per-partition hash map -- no sort on
    either side. The right strategy when both sides are too large to
    broadcast but the build side fits per-partition executor memory; at
    100 TB that is a deliberate choice the optimizer cannot always infer,
    hence the hint surface (plan gate: ShuffledHashJoin in test_plans)."""
    part = load_table(spark, sf_dir, "part").hint("SHUFFLE_HASH")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev")
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", revenue)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("p_brand")
    )


def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers that placed at least one urgent order (EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no URGENT order (NOT EXISTS).

    The predicate is deliberately one every fixture scale leaves non-empty:
    at sf0.01 every customer has *some* order, so an anti-join against all
    orders returns 0 rows and proves nothing. Anti-joining against the
    urgent subset exercises the same LeftAnti physical operator with a
    result whose values the oracle can actually distinguish.
    """
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer + grouped count of the nullable side (TPC-H Q13 shape):
    orders-per-customer histogram including zero-order customers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_orders")
    )


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range predicate: lineitems shipped within 90 days of the order
    date. The equi key carries the shuffle; the range predicate evaluates
    post-match (no explosion)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            lineitem,
            (orders.o_orderkey == lineitem.l_orderkey)
            & (lineitem.l_shipdate >= orders.o_orderdate)
            # INTERVAL arithmetic, not date_add: date_add would TRUNCATE
            # the timestamp to a date, silently shifting the bound to
            # midnight while the oracle's + INTERVAL keeps time-of-day.
            & (lineitem.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_shipped_90d"))
        .orderBy("o_orderpriority")
    )


def theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure inequality (theta) join: per supplier, how many customers hold a
    larger account balance. No equi key -> broadcast-nested-loop with the
    small side broadcast; at scale this is the operator you re-shape (bin the
    ranges) rather than brute-force, which is why it's kept separate."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    return (
        supplier.join(customer, supplier.s_acctbal < customer.c_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_richer_customers"))
        .orderBy("s_suppkey")
    )


def theta_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned theta join: same semantics as :func:`theta_join` (per supplier,
    count of customers with strictly larger acctbal) without the
    broadcast-nested-loop O(|S|*|C|) plan.

    Decomposition: bin ``acctbal`` into fixed ranges (floor(x/1000); the
    TPC-H domain is [-999.99, 9999.99] -> ~11 bins, and bin count B can grow
    with scale or switch to approxQuantile equi-depth bins under skew):

    1. customers in a STRICTLY HIGHER bin than a supplier are always richer
       -- counted once per bin, then a range-frame window over the tiny
       (<= 2B rows, pure bin metadata) union of bin tables turns per-bin
       counts into "customers above bin b";
    2. only SAME-BIN pairs need the actual comparison -- an equi-join on
       ``bin`` with the ``<`` residual, work Sigma |S_b|*|C_b| ~= |S||C|/B
       instead of |S||C|.

    Plan gate (test_plans): no BroadcastNestedLoopJoin anywhere; the only
    data-scale join is the equi residual. Oracle: identical SQL to j_theta.
    """
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    customer = load_table(spark, sf_dir, "customer").select("c_acctbal")
    return binned_count_greater(supplier, customer, bin_width=1000)


def binned_count_greater(
    supplier: DataFrame, customer: DataFrame, bin_width: float
) -> DataFrame:
    """Core of the binned theta join (property-tested in
    tests/test_properties.py across bin boundaries, negatives, empties):
    per (s_suppkey, s_acctbal) row, the count of customer rows with
    strictly larger c_acctbal; rows with zero matches are omitted
    (inner-join semantics, same as the nested-loop form)."""
    binexpr = lambda c: F.floor(F.col(c) / bin_width).cast("int")  # noqa: E731

    cust = customer.withColumn("bin", binexpr("c_acctbal"))
    supp = supplier.withColumn("bin", binexpr("s_acctbal"))

    per_bin = cust.groupBy("bin").agg(F.count("*").alias("cnt"))
    # Union customer bin-counts with the distinct supplier bins (cnt=0) and
    # take, for each bin, the total customer count in strictly higher bins
    # via a value-range frame. Single-partition window -- but over <= 2B
    # metadata rows, never data rows.
    sbins = supp.select("bin").distinct().withColumn("cnt", F.lit(0).cast("long"))
    w = Window.orderBy("bin").rangeBetween(1, Window.unboundedFollowing)
    higher = (
        per_bin.withColumn("is_supp", F.lit(False))
        .unionByName(sbins.withColumn("is_supp", F.lit(True)))
        .withColumn("higher_cnt", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .filter(F.col("is_supp"))
        .select("bin", "higher_cnt")
    )

    residual = (
        supp.join(cust, "bin")
        .filter(F.col("s_acctbal") < F.col("c_acctbal"))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("res_cnt"))
    )

    return (
        supp.join(F.broadcast(higher), "bin", "left")
        .join(residual, "s_suppkey", "left")
        .withColumn(
            "n_richer_customers",
            F.coalesce(F.col("higher_cnt"), F.lit(0))
            + F.coalesce(F.col("res_cnt"), F.lit(0)),
        )
        .filter(F.col("n_richer_customers") > 0)
        .select("s_suppkey", "n_richer_customers")
        .orderBy("s_suppkey")
    )


def asof_union_window(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Generic as-of join core: for every left row, the latest right row
    with the same ``key`` and ``right.ts <= left.ts`` (ties count as
    at-or-before; among equal-ts right rows the largest ``right_id`` wins).

    Union both sides, window over (key) ordered by (ts, side, id) with
    last-observation-carried-forward of the right struct, keep left rows.
    One shuffle on the key, no row explosion -- the scale-correct shape vs.
    a per-key range join. Output: left_id, key, ts, right_id, ``ts_matched``.
    Property-tested against a brute-force reference in
    tests/test_properties.py.
    """
    tag = lambda df, idc, side: df.select(  # noqa: E731
        F.col(idc).alias("__id"), F.col(key).alias(key), F.col(ts).alias(ts)
    ).withColumn("__side", F.lit(side))
    # A NULL-ts right row can never satisfy "right.ts <= left.ts" (DuckDB's
    # ASOF evaluates the comparison as NULL -> no match), but it would sort
    # FIRST in the window below and LOCF would carry its struct; drop it up
    # front so the generic helper matches the documented contract for any
    # input, not just NULL-free fixtures. NULL JOIN KEYS likewise: the
    # as-of key comparison is an equality (NULL = NULL -> no match in the
    # DuckDB ASOF oracle), but Window.partitionBy groups all NULL keys
    # into ONE partition where LOCF would happily match NULL-key lefts to
    # NULL-key rights -- filter both sides.
    tagged = tag(left, left_id, 0).filter(F.col(key).isNotNull()).unionByName(
        tag(right, right_id, 1)
        .filter(F.col(ts).isNotNull())
        .filter(F.col(key).isNotNull())
    )
    # At equal ts the right row sorts first (__side desc) so ties count as
    # "at-or-before", matching DuckDB ASOF JOIN's >= semantics.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.desc("__side"), F.col("__id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = tagged.withColumn(
        "__m",
        F.last(
            F.when(F.col("__side") == 1, F.struct(F.col(ts), F.col("__id"))),
            ignorenulls=True,
        ).over(w),
    )
    return locf.filter((F.col("__side") == 0) & F.col("__m").isNotNull()).select(
        F.col("__id").alias(left_id),
        key,
        ts,
        F.col(f"__m.__id").alias(right_id),
        F.col(f"__m.{ts}").alias(f"{ts}_matched"),
    )


def asof_union_window_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Forward as-of core: for every left row, the EARLIEST right row with
    the same ``key`` and ``right.ts >= left.ts`` (ties count as at-or-after;
    among equal-ts right rows the smallest ``right_id`` wins).

    Mirror of ``asof_union_window``: the same union + one-shuffle LOCF
    window, scanned in DESCENDING time order so the carried struct is the
    nearest right row at-or-after. Property-tested against a brute-force
    reference in tests/test_properties.py."""
    tag = lambda df, idc, side: df.select(  # noqa: E731
        F.col(idc).alias("__id"), F.col(key).alias(key), F.col(ts).alias(ts)
    ).withColumn("__side", F.lit(side))
    # NULL-ts rights and NULL keys on either side are dropped up front for
    # the same equality-semantics reasons as the backward twin above.
    tagged = tag(left, left_id, 0).filter(F.col(key).isNotNull()).unionByName(
        tag(right, right_id, 1)
        .filter(F.col(ts).isNotNull())
        .filter(F.col(key).isNotNull())
    )
    # Descending scan: right rows at equal ts sort first (__side desc) so
    # ties count as at-or-after; among equal-ts rights, __id DESC makes the
    # LAST-carried (nearest in scan order) the smallest id. NULL-ts left
    # rows must sort BEFORE every right row (desc_nulls_first) so they
    # carry no match -- plain desc puts nulls last, where LOCF would hand
    # them the minimum-ts right row (review finding; the backward twin
    # gets this for free from ascending nulls-first).
    w = (
        Window.partitionBy(key)
        .orderBy(F.desc_nulls_first(ts), F.desc("__side"), F.desc("__id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = tagged.withColumn(
        "__m",
        F.last(
            F.when(F.col("__side") == 1, F.struct(F.col(ts), F.col("__id"))),
            ignorenulls=True,
        ).over(w),
    )
    return locf.filter((F.col("__side") == 0) & F.col("__m").isNotNull()).select(
        F.col("__id").alias(left_id),
        key,
        ts,
        F.col("__m.__id").alias(right_id),
        F.col(f"__m.{ts}").alias(f"{ts}_matched"),
    )


def asof_union_window_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Nearest as-of core: for every left row, BOTH the latest right ``ts``
    at-or-before and the earliest right ``ts`` strictly-after (same ``key``)
    in ONE pass -- one union, one shuffle+sort on the key, two window frames
    over the same ordering (LOCF up-to-current for the backward side,
    ``first`` from-current-forward for the forward side). The caller picks
    the nearer of the two; equal-ts right rows land on the BACKWARD side at
    distance zero, which wins any tie, so excluding them from the forward
    frame never changes the nearest result.

    NULL-``ts`` left rows are dropped up front (no defined distance -- the
    comparison is NULL on both sides of the oracle), as are NULL-``ts`` and
    NULL-``key`` rights, matching the backward/forward cores' contract.
    Output: left_id, key, ts, ``ts_before`` / ``ts_after`` (either may be
    NULL, never both). Property-tested against a brute-force reference in
    tests/test_properties.py."""
    tag = lambda df, idc, side: df.select(  # noqa: E731
        F.col(idc).alias("__id"), F.col(key).alias(key), F.col(ts).alias(ts)
    ).withColumn("__side", F.lit(side))
    tagged = (
        tag(left, left_id, 0)
        .filter(F.col(key).isNotNull() & F.col(ts).isNotNull())
        .unionByName(
            tag(right, right_id, 1)
            .filter(F.col(ts).isNotNull())
            .filter(F.col(key).isNotNull())
        )
    )
    # Ascending (ts, side desc, id): equal-ts rights sort BEFORE the left
    # row, so the backward frame counts them as at-or-before (DuckDB >=
    # semantics) and the forward frame (current row onward) sees only
    # strictly-later rights.
    order = [F.col(ts), F.desc("__side"), F.col("__id")]
    w_back = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    right_ts = F.when(F.col("__side") == 1, F.col(ts))
    staged = tagged.select(
        "*",
        F.last(right_ts, ignorenulls=True).over(w_back).alias("__before"),
        F.first(right_ts, ignorenulls=True).over(w_fwd).alias("__after"),
    )
    return staged.filter(
        (F.col("__side") == 0)
        & (F.col("__before").isNotNull() | F.col("__after").isNotNull())
    ).select(
        F.col("__id").alias(left_id),
        key,
        ts,
        F.col("__before").alias(f"{ts}_before"),
        F.col("__after").alias(f"{ts}_after"),
    )


def asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: each 'click' matched to the temporally CLOSEST
    'purchase' by the same user, whichever side of the click it falls on --
    pandas ``merge_asof(direction='nearest')``, the event-alignment variant
    used when sensor/feature capture can lag OR lead the anchor event.
    Ties (equal millisecond distance) resolve to the BACKWARD match, the
    point-in-time-safe side.

    One shuffle total (see ``asof_union_window_nearest``); distances are
    compared at millisecond precision on both engines so the choice and
    the emitted ``matched_ms`` are engine-portable. The matched TIMESTAMP
    (not id) is emitted: among purchases tied on ts the engines may break
    ties differently, but the timestamp is tie-invariant."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    m = asof_union_window_nearest(
        clicks, purchases, "user_id", "ts", "click_id", "purchase_id"
    )
    click_ms = F.unix_millis("ts")
    prev_ms = F.unix_millis("ts_before")
    next_ms = F.unix_millis("ts_after")
    backward_wins = F.col("ts_after").isNull() | (
        F.col("ts_before").isNotNull() & (click_ms - prev_ms <= next_ms - click_ms)
    )
    staged = m.select(
        "click_id",
        "user_id",
        click_ms.alias("click_ms"),
        prev_ms.alias("__prev_ms"),
        next_ms.alias("__next_ms"),
        backward_wins.alias("__back"),
    )
    return staged.select(
        "click_id",
        "user_id",
        "click_ms",
        F.when(F.col("__back"), F.col("__prev_ms"))
        .otherwise(F.col("__next_ms"))
        .alias("matched_ms"),
        F.when(F.col("__back"), F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


def asof_forward_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each 'click' matched to the EARLIEST 'purchase' by the
    same user at-or-after the click -- the conversion-attribution direction
    (backward ``j_asof`` answers "what purchase preceded this click";
    forward answers "what purchase did this click lead to").

    Output deliberately excludes the matched purchase id: among purchases
    tied on ts the engines may break ties differently, but the matched
    TIMESTAMP is tie-invariant, so the oracle comparison is exact."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return asof_union_window_forward(
        clicks, purchases, "user_id", "ts", "click_id", "purchase_id"
    ).select(
        "click_id",
        "user_id",
        F.unix_millis("ts").alias("click_ms"),
        F.unix_millis("ts_matched").alias("next_purchase_ms"),
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'click' event matched to the latest 'purchase' by the
    same user at-or-before the click time.

    Spark has no batch as-of primitive (SURVEY.md SS2.12); see
    ``asof_union_window`` for the algorithm. Oracle: DuckDB's native
    ``ASOF JOIN``.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return asof_union_window(
        clicks, purchases, "user_id", "ts", "click_id", "purchase_id"
    ).select(
        "click_id",
        "user_id",
        F.unix_millis("ts").alias("click_ms"),
        F.unix_millis("ts_matched").alias("purchase_ms"),
    )


_ASOF_TOLERANCE_MS = 24 * 3600 * 1000


def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a staleness tolerance: each click matched
    to the latest same-user purchase at-or-before it, but ONLY if that
    purchase is within 24 h -- the point-in-time-correct feature lookup
    (a quote/feature older than the tolerance is unusable, and silently
    joining it is the classic training-serving-skew bug).

    Because the as-of core already selects the SINGLE latest prior match
    per left row, tolerance is exactly one post-filter on that row (any
    earlier match is staler still) -- no second window, no extra shuffle
    beyond ``asof_union_window``'s one key shuffle. ``staleness_ms`` is
    an exact long difference, no division."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    m = asof_union_window(
        clicks, purchases, "user_id", "ts", "click_id", "purchase_id"
    )
    lag_ms = F.unix_millis("ts") - F.unix_millis("ts_matched")
    return m.filter(lag_ms <= _ASOF_TOLERANCE_MS).select(
        "click_id",
        "user_id",
        F.unix_millis("ts").alias("click_ms"),
        F.unix_millis("ts_matched").alias("purchase_ms"),
        lag_ms.alias("staleness_ms"),
    )


@artifact
def _bloom_session(spark: SparkSession) -> SparkSession:
    """Child session for ``bloom_pruned_join``: it shares the SparkContext
    (and therefore executors and cache) but owns an INDEPENDENT SQL conf,
    so (a) the bloom confs never leak to concurrent queries on the
    caller's session, and (b) any later transformation of the returned
    frame re-plans under the SAME scoped confs instead of silently losing
    the bloom injection (round-2 advice, joins.py:312). One per
    application, so repeated calls (bench, plan gates, blanket audits)
    reuse ONE child SessionState instead of accumulating a new JVM
    session per call."""
    child = spark.newSession()
    for k, v in {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Fixture scans are ~MBs; lift the 10 GB application-side floor so
        # the injection rule fires at demo scale.
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # Keep the creation side out of broadcast range so the join shuffles
        # (the rule skips broadcast-able creation sides by design).
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        child.conf.set(k, v)
    return child


def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with a Catalyst-injected runtime bloom filter: the
    selective dimension side (urgent orders) builds a ``bloom_filter_agg``
    sketch, and the fact scan is pre-filtered by ``might_contain`` BEFORE the
    shuffle -- most non-matching lineitem rows never leave the map side.

    At 100 TB this triggers on the default thresholds (application side
    > 10 GB scan, creation side non-broadcastable); at fixture scale those
    heuristics would pick a broadcast join (which already prunes), so the
    demo scopes three runtime confs to this query and pins the physical
    plan before restoring them. Exactness is unaffected: the bloom filter
    only pre-filters, the equi-join still decides membership.

    Plan gate: tests/test_plans.py asserts ``bloom_filter_agg`` /
    ``might_contain`` in the optimized plan. Oracle: the plain join SQL.
    """
    child = _bloom_session(spark)
    lineitem = load_table(child, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(child, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("n_items"),
            # Per-row decimal cast before the sum: the product of two
            # 2-decimal inputs is an exact 4-decimal value, so summing
            # decimals is order-independent -- the double-sum form can
            # flip the cent at a rounding boundary depending on
            # partitioning.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("month")
    )


def lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 ``JOIN LATERAL``): each customer's
    top-2 orders by price -- the declarative top-N-per-group. Catalyst
    decorrelates the per-row ORDER BY/LIMIT subquery into a windowed rank
    over ONE shuffle of orders, not a subquery execution per customer --
    which is why this form survives 100 TB while a driver loop would not.
    Oracle: DuckDB runs the identical LATERAL SQL natively.
    """
    cust = os.path.join(sf_dir, "customer.parquet")
    orders = os.path.join(sf_dir, "orders.parquet")
    return spark.sql(f"""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM parquet.`{cust}` c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM parquet.`{orders}`
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
    """)


QUERIES = {
    "j_broadcast": broadcast_join,
    "j_hint_shuffle_hash": shuffle_hash_join,
    "j_sortmerge": sortmerge_join,
    "j_semi": semi_join,
    "j_anti": anti_join,
    "j_outer": outer_join,
    "j_range": range_join,
    "j_theta": theta_join,
    "j_theta_binned": theta_join_binned,
    "j_asof": asof_join,
    "j_asof_forward": asof_forward_join,
    "j_asof_nearest": asof_nearest_join,
    "j_asof_tolerance": asof_tolerance_join,
    "j_bloom_pruned": bloom_pruned_join,
    "j_lateral_topn": lateral_topn,
}

ORACLES = {
    "j_broadcast": """
        SELECT r_name, COUNT(*) AS n_customers,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "j_hint_shuffle_hash": """
        SELECT p_brand,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """,
    "j_sortmerge": """
        SELECT o_orderpriority,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "j_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "j_anti": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    "j_outer": """
        SELECT n_orders, COUNT(*) AS n_customers
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        GROUP BY n_orders ORDER BY n_orders
    """,
    "j_range": """
        SELECT o_orderpriority, COUNT(*) AS n_shipped_90d
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            AND l_shipdate >= o_orderdate
            AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "j_theta": """
        SELECT s_suppkey, COUNT(*) AS n_richer_customers
        FROM supplier JOIN customer ON s_acctbal < c_acctbal
        GROUP BY s_suppkey ORDER BY s_suppkey
    """,
    "j_theta_binned": """
        SELECT s_suppkey, COUNT(*) AS n_richer_customers
        FROM supplier JOIN customer ON s_acctbal < c_acctbal
        GROUP BY s_suppkey ORDER BY s_suppkey
    """,
    # Nearest purchase at-or-after; matched TIMESTAMP only (tie-invariant).
    "j_asof_forward": """
        SELECT c.event_id AS click_id,
               c.user_id,
               epoch_ms(c.ts) AS click_ms,
               epoch_ms(p.ts) AS next_purchase_ms
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF JOIN
             (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    "j_asof": """
        SELECT c.event_id AS click_id,
               c.user_id,
               epoch_ms(c.ts) AS click_ms,
               epoch_ms(p.ts) AS purchase_ms
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF JOIN
             (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    # Nearest purchase on EITHER side of the click; distances compared at
    # millisecond precision (both engines emit/compare epoch-ms), ties ->
    # the backward (point-in-time-safe) match. prev = at-or-before at raw
    # timestamp precision, next = strictly-after -- the same split the
    # engine's single-pass window core makes (equal-ts rights land on the
    # backward side at distance zero, which wins every tie anyway).
    "j_asof_nearest": """
        WITH clicks AS (
            SELECT event_id AS click_id, user_id, ts FROM events
            WHERE event_type = 'click' AND ts IS NOT NULL
        ), purch AS (
            SELECT user_id, ts FROM events
            WHERE event_type = 'purchase' AND ts IS NOT NULL
        ), prev AS (
            SELECT c.click_id, epoch_ms(MAX(p.ts)) AS prev_ms
            FROM clicks c JOIN purch p
              ON p.user_id = c.user_id AND p.ts <= c.ts
            GROUP BY c.click_id
        ), nxt AS (
            SELECT c.click_id, epoch_ms(MIN(p.ts)) AS next_ms
            FROM clicks c JOIN purch p
              ON p.user_id = c.user_id AND p.ts > c.ts
            GROUP BY c.click_id
        )
        SELECT c.click_id, c.user_id, epoch_ms(c.ts) AS click_ms,
               CASE WHEN next_ms IS NULL OR (prev_ms IS NOT NULL AND
                         epoch_ms(c.ts) - prev_ms <= next_ms - epoch_ms(c.ts))
                    THEN prev_ms ELSE next_ms END AS matched_ms,
               CASE WHEN next_ms IS NULL OR (prev_ms IS NOT NULL AND
                         epoch_ms(c.ts) - prev_ms <= next_ms - epoch_ms(c.ts))
                    THEN 'backward' ELSE 'forward' END AS direction
        FROM clicks c
        LEFT JOIN prev USING (click_id)
        LEFT JOIN nxt USING (click_id)
        WHERE prev_ms IS NOT NULL OR next_ms IS NOT NULL
    """,
    "j_asof_tolerance": """
        SELECT click_id, user_id, click_ms, purchase_ms,
               click_ms - purchase_ms AS staleness_ms
        FROM (
            SELECT c.event_id AS click_id,
                   c.user_id,
                   epoch_ms(c.ts) AS click_ms,
                   epoch_ms(p.ts) AS purchase_ms
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') c
            ASOF JOIN
                 (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ON c.user_id = p.user_id AND c.ts >= p.ts
        )
        WHERE click_ms - purchase_ms <= 86400000
    """,
    "j_bloom_pruned": """
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_items,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY month ORDER BY month
    """,
    "j_lateral_topn": """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o ON TRUE
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
    """,
}
