"""Round-10 registrations: the staged-operator queue graduating to
driver-verified queries.

Every query here wraps an operator that landed (with unit tests and a
pre-validated cross-engine oracle text) in round 9; the oracle SQL is
the test file's registration-ready text with the ``read_parquet``
table refs swapped for the driver's pre-registered view names. The
Spark derivations mirror the parity tests verbatim, so the driver's
hash check re-verifies exactly what the tests pinned at sf0.001.

Reference: the queue and per-operator rationale live in SURVEY.md §8;
the reference repo's own surface (S1-S7, the Kafka Streams inventory
fold at KafkaStreamsInventoryCountApplication.java:69-85) was fully
covered by round 3 — these are the absent-category build-out rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.operators.inventory_fold import latest_per_key
from kafka_streams_aggregate_spark.registry import register
from kafka_streams_aggregate_spark.sources.eventlog_source import (
    drain_workdir,
    run_stream_committed,
)
from kafka_streams_aggregate_spark.sources.tables import (
    load_table,
    staged_two_batch,
    with_scan_parallelism,
)

# --------------------------------------------------------------------------
# Shared derivations (mirroring the parity-test fixtures)
# --------------------------------------------------------------------------

# events -> IN/OUT cost ledger (identical to q_fifo_cost_allocation)
_LEDGER_VIEW_SQL = """
        SELECT user_id AS product,
               event_id AS seq,
               CASE WHEN event_type = 'purchase' THEN 'IN'
                    WHEN event_type = 'error' THEN 'OUT' END AS side,
               1 + CAST(floor(value) AS BIGINT) % 10 AS qty,
               CAST(floor(value * 100) AS BIGINT) AS unit_cents
        FROM events
        WHERE event_type IN ('purchase', 'error')
"""


def _ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.filter(
        F.col("event_type").isin("purchase", "error")
    ).select(
        F.col("user_id").alias("product"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", "IN")
        .otherwise("OUT")
        .alias("side"),
        (1 + F.floor("value").cast("bigint") % 10).alias("qty"),
        F.floor(F.col("value") * 100).cast("bigint").alias("unit_cents"),
    )


# lineitem -> per-(product, day) demand (shared by the policy queries)
def _daily_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "lineitem", sf_dir).select(
        F.col("l_partkey").alias("product"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
        F.col("l_quantity").alias("qty"),
    )


# customer x orders -> per-customer spend (shared by the rank-stats
# queries; LEFT join keeps zero-order customers with spend 0)
def _customer_spend(
    spark: SparkSession, sf_dir: str, with_acctbal: bool
) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    keys = ["c_nationkey", "c_custkey"] + (
        ["c_acctbal"] if with_acctbal else []
    )
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy(*keys)
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0).cast("bigint"),
            ).alias("spend_cents")
        )
    )


# --------------------------------------------------------------------------
# Costing triad completion: periodic LIFO + perpetual AVCO
# (FIFO registered in round 8 as q_fifo_cost_allocation)
# --------------------------------------------------------------------------


@register(
    "q_lifo_allocation",
    oracle=f"""
    WITH ledger AS ({_LEDGER_VIEW_SQL}),
    outs AS (
        SELECT product, CAST(SUM(qty) AS BIGINT) AS total_out
        FROM ledger WHERE side = 'OUT' GROUP BY product
    ),
    ins AS (
        SELECT product, qty, unit_cents,
               SUM(qty) OVER (
                   PARTITION BY product ORDER BY seq DESC
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_desc
        FROM ledger WHERE side = 'IN'
    ),
    alloc AS (
        SELECT i.product, i.qty, i.unit_cents,
               greatest(0, least(
                   i.qty,
                   COALESCE(o.total_out, 0) - (i.cum_desc - i.qty)
               )) AS consumed_qty
        FROM ins i LEFT JOIN outs o ON i.product = o.product
    )
    SELECT alloc.product,
           CAST(SUM(qty) AS BIGINT) AS total_in,
           CAST(MAX(COALESCE(o.total_out, 0)) AS BIGINT) AS total_out,
           CAST(SUM(consumed_qty * unit_cents) AS BIGINT)
               AS consumed_value_cents,
           CAST(SUM((qty - consumed_qty) * unit_cents) AS BIGINT)
               AS remaining_value_cents
    FROM alloc LEFT JOIN outs o ON alloc.product = o.product
    GROUP BY alloc.product
    """,
    doc=(
        "Periodic LIFO cost allocation — the NEWEST-first mirror of "
        "q_fifo_cost_allocation, same ledger, same clamp insight "
        "walked from the other end: lot i covers [cum_desc - qty, "
        "cum_desc) of the newest-first consumption axis, so consumed "
        "= clamp(total_out - (cum_desc - qty), 0, qty) with ONE "
        "seq-DESC running-sum window — no iteration, exact integers "
        "throughout. Hypothesis-validated against a newest-first "
        "simulator over 200 adversarial lot mixes "
        "(tests/test_costing.py). One exchange on product."
    ),
    tags=("inventory", "lifo", "accounting", "window"),
)
def q_lifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.costing import (
        periodic_lifo_allocation,
    )

    return periodic_lifo_allocation(_ledger(spark, sf_dir))


@register(
    "q_avco_fold",
    oracle=f"""
    WITH RECURSIVE ledger AS ({_LEDGER_VIEW_SQL}),
    ordered AS (
        SELECT product, side, qty, unit_cents,
               row_number() OVER (
                   PARTITION BY product ORDER BY seq) AS rn
        FROM ledger
    ),
    r AS (
        SELECT DISTINCT product, 0 AS rn,
               CAST(0 AS BIGINT) AS on_hand,
               CAST(0 AS BIGINT) AS unfilled,
               CAST(0 AS DOUBLE) AS value,
               CAST(0 AS DOUBLE) AS cogs
        FROM ordered
        UNION ALL
        SELECT o.product, o.rn,
               CASE WHEN o.side = 'IN' THEN r.on_hand + o.qty
                    ELSE r.on_hand - least(o.qty, r.on_hand) END,
               CASE WHEN o.side = 'IN' THEN r.unfilled
                    WHEN r.on_hand > 0
                        THEN r.unfilled + (o.qty - least(o.qty, r.on_hand))
                    ELSE r.unfilled + o.qty END,
               CASE WHEN o.side = 'IN'
                        THEN r.value + CAST(o.qty * o.unit_cents AS DOUBLE)
                    WHEN r.on_hand > 0
                        THEN r.value - least(o.qty, r.on_hand)
                                       * (r.value / r.on_hand)
                    ELSE r.value END,
               CASE WHEN o.side = 'OUT' AND r.on_hand > 0
                        THEN r.cogs + least(o.qty, r.on_hand)
                                      * (r.value / r.on_hand)
                    ELSE r.cogs END
        FROM r JOIN ordered o
          ON o.product = r.product AND o.rn = r.rn + 1
    )
    SELECT product,
           max_by(on_hand, rn) AS on_hand,
           max_by(unfilled, rn) AS unfilled_qty,
           max_by(value, rn) AS value_cents,
           max_by(cogs, rn) AS cogs_cents
    FROM r GROUP BY product
    """,
    doc=(
        "Perpetual AVCO (moving-average) costing fold — the genuinely "
        "order-dependent member of the FIFO/LIFO/AVCO triad: every "
        "OUT re-prices at the CURRENT average cost, so no closed form "
        "exists and the operator is an applyInPandas fold with O(1) "
        "state (on_hand, unfilled, value, cogs) per product. Floats "
        "are BIT-equal to the recursive-CTE oracle because each step "
        "is a fixed sequence of individually correctly-rounded IEEE "
        "ops spelled identically on both sides (float.hex() pinned in "
        "tests/test_costing.py). One shuffle on product; recursion "
        "depth is the oracle's cost, not Spark's."
    ),
    tags=("inventory", "avco", "accounting", "stateful-fold"),
)
def q_avco_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.costing import (
        avco_perpetual_fold,
    )

    return avco_perpetual_fold(_ledger(spark, sf_dir))


# --------------------------------------------------------------------------
# Inventory policy: safety stock + (s,S) simulation
# --------------------------------------------------------------------------


@register(
    "q_safety_stock",
    oracle="""
    WITH demand AS (
        SELECT l_partkey AS product,
               datediff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        GROUP BY l_partkey, d
    ),
    agg AS (
        SELECT product,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(q) AS BIGINT) AS demand_sum,
               CAST(SUM(q * q) AS BIGINT) AS demand_sum2
        FROM demand GROUP BY product
    )
    SELECT product, n_days, demand_sum, demand_sum2,
           CAST(demand_sum AS DOUBLE) / CAST(n_days AS DOUBLE)
               AS mean_daily,
           CAST(n_days * demand_sum2 - demand_sum * demand_sum AS DOUBLE)
               / CAST(n_days * (n_days - 1) AS DOUBLE) AS var_daily,
           (164 / 100.0) * sqrt(
               CAST(n_days * demand_sum2 - demand_sum * demand_sum
                    AS DOUBLE)
               / CAST(n_days * (n_days - 1) AS DOUBLE) * 7.0)
               AS safety_stock,
           CAST(demand_sum AS DOUBLE) / CAST(n_days AS DOUBLE) * 7.0
           + (164 / 100.0) * sqrt(
               CAST(n_days * demand_sum2 - demand_sum * demand_sum
                    AS DOUBLE)
               / CAST(n_days * (n_days - 1) AS DOUBLE) * 7.0)
               AS reorder_point
    FROM agg WHERE n_days >= 2
    """,
    doc=(
        "Safety stock / reorder point per product — closes the "
        "reference-domain arc (counts -> valuation -> stockouts -> "
        "POLICY): safety = z*sqrt(var*L), ROP = mean*L + safety with "
        "z passed as an integer (164 = 1.64, ~95% service) and L=7 "
        "days. Exact int64 sufficient statistics (n, sum, sum2); "
        "every float is a short identical chain of correctly-rounded "
        "IEEE ops (sqrt IS exact; no transcendentals), bit-equal "
        "cross-engine (hex-pinned in tests/test_safety_stock.py). "
        "l_shipdate is TIMESTAMP_NTZ: epoch-day datediff rule. Two "
        "map-side aggregates, no joins."
    ),
    tags=("inventory", "policy", "stats"),
)
def q_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.costing import (
        safety_stock_stats,
    )

    return safety_stock_stats(
        _daily_demand(spark, sf_dir), "product", "d", "qty"
    )


@register(
    "q_ss_policy_sim",
    oracle="""
    WITH RECURSIVE demand AS (
        SELECT l_partkey AS product,
               datediff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        GROUP BY l_partkey, d
    ),
    ordered AS (
        SELECT product, q,
               row_number() OVER (
                   PARTITION BY product ORDER BY d) AS rn
        FROM demand
    ),
    nn AS (
        SELECT product, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(q) AS BIGINT) AS total_demand
        FROM ordered GROUP BY product
    ),
    r AS (
        SELECT product, CAST(0 AS BIGINT) AS rn,
               CAST(100 AS BIGINT) AS on_hand,
               CAST(0 AS BIGINT) AS lost,
               CAST(0 AS BIGINT) AS orders
        FROM nn
        UNION ALL
        SELECT o.product, o.rn,
               CASE WHEN r.on_hand - LEAST(o.q, r.on_hand) < 20
                    THEN 100
                    ELSE r.on_hand - LEAST(o.q, r.on_hand) END,
               r.lost + o.q - LEAST(o.q, r.on_hand),
               r.orders + CASE WHEN r.on_hand - LEAST(o.q, r.on_hand)
                                    < 20 THEN 1 ELSE 0 END
        FROM r JOIN ordered o
          ON o.product = r.product AND o.rn = r.rn + 1
    )
    SELECT nn.product, nn.n_days, nn.total_demand,
           max_by(r.lost, r.rn) AS lost_sales,
           max_by(r.orders, r.rn) AS n_orders,
           max_by(r.on_hand, r.rn) AS end_on_hand
    FROM r JOIN nn ON nn.product = r.product
    GROUP BY nn.product, nn.n_days, nn.total_demand
    """,
    doc=(
        "(s,S) inventory-policy simulation — the fold that TESTS the "
        "parameters q_safety_stock recommends: per product walk daily "
        "demand from a full position S=100, serve what is on hand "
        "(shortfall = lost sales), reorder up to S whenever the "
        "position drops below s=20. Order-dependent exact-int64 fold "
        "(AVCO family) in applyInPandas with O(1) state; the oracle "
        "is a scoped-depth recursive CTE (per-product demand days, "
        "~30-60 levels — not the full-lineitem recursion class "
        "CLAUDE.md bans). Both branches exercised on real data "
        "(tests/test_ss_policy.py)."
    ),
    tags=("inventory", "policy", "stateful-fold"),
)
def q_ss_policy_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.costing import (
        ss_policy_sim,
    )

    return ss_policy_sim(_daily_demand(spark, sf_dir), "product", "d", "qty")


# --------------------------------------------------------------------------
# Brown double smoothing + walk-forward backtest
# --------------------------------------------------------------------------


@register(
    "q_brown_smoothing",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, rn, v AS s1, v AS s2 FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn,
               0.5 * o.v + 0.5 * r.s1,
               0.5 * (0.5 * o.v + 0.5 * r.s1) + 0.5 * r.s2
        FROM r JOIN ordered o
          ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           max_by(s1, rn) AS s1_last,
           max_by(s2, rn) AS s2_last,
           2 * max_by(s1, rn) - max_by(s2, rn) AS level,
           max_by(s1, rn) - max_by(s2, rn) AS trend,
           (2 * max_by(s1, rn) - max_by(s2, rn))
               + (max_by(s1, rn) - max_by(s2, rn)) AS forecast_1
    FROM r GROUP BY user_id
    """,
    doc=(
        "Brown double-exponential smoothing (level + trend + one-step "
        "forecast) per user series — extends the q_ewma_smoothing "
        "alpha=1/2 bit-exact fold to two coupled EWMA states and the "
        "Brown identities level=2*s1-s2, trend=s1-s2, forecast="
        "level+trend. applyInPandas fold, O(1) float state per "
        "series; all five float outputs BIT-equal vs the recursive-"
        "CTE oracle (float.hex() pinned, tests/test_timeseries_ops."
        "py) because both engines run the identical op sequence. One "
        "shuffle on user_id."
    ),
    tags=("timeseries", "forecast", "stateful-fold"),
)
def q_brown_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        brown_double_smoothing,
    )

    events = load_table(spark, "events", sf_dir)
    return brown_double_smoothing(
        events, "user_id", "value", "ts", "event_id"
    )


@register(
    "q_brown_backtest",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, rn, v AS s1, v AS s2, CAST(NULL AS DOUBLE) AS err
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn,
               0.5 * o.v + 0.5 * r.s1,
               0.5 * (0.5 * o.v + 0.5 * r.s1) + 0.5 * r.s2,
               o.v - ((2 * r.s1 - r.s2) + (r.s1 - r.s2))
        FROM r JOIN ordered o
          ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(COUNT(err) AS BIGINT) AS n_forecasts,
           CAST(SUM(CAST(floor(abs(err)) AS BIGINT)) AS BIGINT)
               AS sum_abs_err_floor,
           CAST(MAX(CAST(floor(abs(err)) AS BIGINT)) AS BIGINT)
               AS max_abs_err_floor
    FROM r GROUP BY user_id
    HAVING COUNT(err) > 0
    """,
    doc=(
        "Walk-forward backtest of Brown smoothing — at each step "
        "score the forecast issued BEFORE seeing v_i (the pre-update "
        "level + trend) against the actual: the evaluation loop that "
        "turns a smoother into a forecasting claim. Same bit-equal "
        "op sequence as q_brown_smoothing plus one subtraction; "
        "aggregates floor(|err|) BEFORE summing so they are exact "
        "int64 (a float sum of errors would be order-dependent; "
        "floor-then-sum is not). Hand-pinned constant/ramp series in "
        "tests/test_forecast_backtest.py."
    ),
    tags=("timeseries", "forecast", "backtest"),
)
def q_brown_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        brown_backtest,
    )

    events = load_table(spark, "events", sf_dir)
    return brown_backtest(events, "user_id", "value", "ts", "event_id")


# --------------------------------------------------------------------------
# Resampling + rank statistics
# --------------------------------------------------------------------------


@register(
    "q_bootstrap_ci",
    oracle="""
    WITH vals AS (
        SELECT CAST(c_nationkey AS BIGINT) AS grp,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v_cents,
               row_number() OVER (
                   PARTITION BY c_nationkey ORDER BY c_custkey) - 1 AS rn
        FROM customer
    ),
    g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_cents) AS BIGINT) AS s
        FROM vals GROUP BY grp
    ),
    draws AS (
        SELECT g.grp, b.range AS b, sl.range AS slot,
               CAST(CONCAT('0x', substr(md5(
                   'bs|' || CAST(g.grp AS VARCHAR) || '|'
                         || CAST(b.range AS VARCHAR) || '|'
                         || CAST(sl.range AS VARCHAR)), 1, 15))
                    AS BIGINT) % g.n AS idx
        FROM g, range(64) b, range(100) sl
    ),
    sums AS (
        SELECT d.grp, d.b, CAST(SUM(v.v_cents) AS BIGINT) AS rs
        FROM draws d JOIN vals v ON v.grp = d.grp AND v.rn = d.idx
        GROUP BY d.grp, d.b
    ),
    ranked AS (
        SELECT grp, b, rs,
               row_number() OVER (
                   PARTITION BY grp ORDER BY rs, b) AS rk
        FROM sums
    ),
    ci AS (
        SELECT grp,
               MAX(CASE WHEN rk = 2 THEN rs END) AS lo_s,
               MAX(CASE WHEN rk = 63 THEN rs END) AS hi_s
        FROM ranked GROUP BY grp
    )
    SELECT g.grp AS group_key, g.n,
           CAST(64 AS BIGINT) AS b_resamples,
           CAST(floor(g.s / g.n) AS BIGINT) AS point_mean_cents,
           CAST(floor(ci.lo_s / 100) AS BIGINT) AS boot_mean_lo_cents,
           CAST(floor(ci.hi_s / 100) AS BIGINT) AS boot_mean_hi_cents
    FROM g JOIN ci ON g.grp = ci.grp
    """,
    doc=(
        "Deterministic percentile-bootstrap CI for per-group mean "
        "account balance — RNG-free: draw (b, slot) indexes row "
        "hash60('bs|'||grp||'|'||b||'|'||slot) % n (md5-residue "
        "family), so every draw is reproducible under ANY "
        "partitioning and cell-exact in DuckDB. Fan-out G×B×m is "
        "independent of group size (no skew amplification); all "
        "ranking in exact integer cents with the resample id as "
        "tiebreaker; floor-cents conversion on both sides "
        "(cast-truncation rule). Partitioning-invariance + coverage "
        "sanity in tests/test_resample.py."
    ),
    tags=("stats", "resampling", "hash-family"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.resample import (
        bootstrap_mean_ci,
    )

    cust = load_table(spark, "customer", sf_dir).select(
        "c_nationkey",
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("v_cents"),
    )
    return bootstrap_mean_ci(cust, "c_nationkey", "v_cents", "c_custkey")


@register(
    "q_spearman_corr",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey, c.c_custkey, c.c_acctbal,
               COALESCE(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)),
                        0) AS spend_cents
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
    ),
    ranked AS (
        SELECT c_nationkey AS grp,
               CAST(row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rx,
               CAST(row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY spend_cents, c_custkey) AS BIGINT) AS ry
        FROM spend
    ),
    agg AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
        FROM ranked GROUP BY grp
    )
    SELECT CAST(grp AS BIGINT) AS group_key, n, sum_d2,
           1.0 - CAST(sum_d2 * 6 AS DOUBLE)
                 / CAST(n * (n * n - 1) AS DOUBLE) AS spearman_rho
    FROM agg WHERE n >= 2
    """,
    doc=(
        "Spearman rank correlation of account balance vs realized "
        "spend per nation — dense permutation ranks via row_number() "
        "(value, id) (the total-order rule doubling as the tie "
        "policy), then 1 - 6*sum(d^2)/(n(n^2-1)). sum_d2 and the "
        "denominator are exact int64 (safe to ~1.6e6 rows/group); "
        "rho is ONE cast + divide + subtract, bit-equal cross-engine "
        "(hex-pinned in tests/test_stats_rank.py). The two rank "
        "windows share one exchange on the group key; no join after "
        "the spend derivation."
    ),
    tags=("stats", "rank", "correlation"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        spearman_rank_corr,
    )

    spend = _customer_spend(spark, sf_dir, with_acctbal=True)
    out = spearman_rank_corr(
        spend, "c_nationkey", "c_acctbal", "spend_cents", "c_custkey"
    )
    return out.select(
        F.col("group_key").cast("bigint").alias("group_key"),
        "n",
        "sum_d2",
        "spearman_rho",
    )


@register(
    "q_isotonic_fit",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey, c.c_custkey,
               CAST(COALESCE(
                   SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)),
                   0) AS BIGINT) AS y
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    ),
    r AS (
        SELECT c_nationkey AS grp,
               CAST(row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_custkey) AS BIGINT) AS rn,
               y,
               SUM(y) OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS ps
        FROM spend
    ),
    iv AS (
        SELECT a.grp, a.rn AS j, b.rn AS k,
               CAST(b.ps - a.ps + a.y AS DOUBLE)
                   / CAST(b.rn - a.rn + 1 AS DOUBLE) AS avgjk
        FROM r a JOIN r b ON b.grp = a.grp AND b.rn >= a.rn
    ),
    inner_ AS (
        SELECT iv.grp, i.rn AS i, iv.j, MIN(iv.avgjk) AS m
        FROM iv JOIN r i ON i.grp = iv.grp
                        AND iv.j <= i.rn AND iv.k >= i.rn
        GROUP BY iv.grp, i.rn, iv.j
    ),
    iso AS (
        SELECT grp, i AS rn, MAX(m) AS iso_fit
        FROM inner_ GROUP BY grp, i
    )
    SELECT CAST(r.grp AS BIGINT) AS group_key, r.rn, r.y, iso.iso_fit
    FROM r JOIN iso ON iso.grp = r.grp AND iso.rn = r.rn
    """,
    doc=(
        "Isotonic regression (PAVA) of per-customer spend ordered by "
        "custkey, per nation — the calibration primitive behind "
        "monotone probability calibration. Operator is the O(n) "
        "block-merge PAVA stack in applyInPandas with EXACT integer "
        "cross-multiplied mean comparisons (no float compares); each "
        "fitted value is one int64/int64 IEEE divide. The oracle is "
        "the O(n^3) minimax identity max_{j<=i} min_{k>=i} avg(j..k) "
        "— exact under IEEE rounding MONOTONICITY (min/max of "
        "correctly-rounded doubles = the rounded exact minimax), so "
        "the comparison is bit-for-bit (hex-pinned in "
        "tests/test_isotonic.py). Oracle cost is DuckDB-side only "
        "(~60 rows/group at sf0.01); Spark side is linear."
    ),
    tags=("stats", "ml-prep", "pandas-udf"),
)
def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import isotonic_fit

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0).cast("bigint"),
            ).alias("y")
        )
    )
    out = isotonic_fit(spend, "c_nationkey", "c_custkey", "y")
    return out.select(
        F.col("group_key").cast("bigint").alias("group_key"),
        "rn",
        "y",
        "iso_fit",
    )


# --------------------------------------------------------------------------
# Trend / profiling / normalization / privacy
# --------------------------------------------------------------------------


@register(
    "q_mann_kendall",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    s AS (
        SELECT a.user_id,
               CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat
        FROM ordered a JOIN ordered b
          ON b.user_id = a.user_id AND b.rn > a.rn
        GROUP BY a.user_id
    ),
    nn AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM ordered
        GROUP BY user_id
    ),
    tie AS (
        SELECT user_id,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie_term
        FROM (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS t
            FROM ordered GROUP BY user_id, v
        ) GROUP BY user_id
    ),
    agg AS (
        SELECT nn.user_id, nn.n, s.s_stat,
               nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_term
                   AS var_num
        FROM nn JOIN s ON s.user_id = nn.user_id
        JOIN tie ON tie.user_id = nn.user_id
    )
    SELECT user_id AS group_key, n, s_stat,
           CAST(var_num AS BIGINT) AS var_num,
           CASE WHEN s_stat > 0
                THEN (s_stat - 1.0) / sqrt(var_num / 18.0)
                WHEN s_stat < 0
                THEN (s_stat + 1.0) / sqrt(var_num / 18.0)
                ELSE 0.0 END AS z_score
    FROM agg WHERE n >= 2
    """,
    doc=(
        "Mann-Kendall trend test per user series — the nonparametric "
        "drift detector completing the time-series audit family "
        "(CUSUM = level shifts; MK = sustained monotone trend): "
        "S = sum_{i<j} sign(v_j - v_i) with the tie-corrected "
        "variance numerator n(n-1)(2n+5) - sum_t t(t-1)(2t+5). The "
        "operator computes S in O(n log n) via a Fenwick inversion "
        "count inside applyInPandas (hypothesis-proved identical to "
        "brute force incl. heavy ties); the O(n^2) pair self-join is "
        "the ORACLE only. S and var_num exact int64; z is a "
        "three-op bit-equal chain with sqrt (IEEE-exact), hex-pinned "
        "in tests/test_mann_kendall.py."
    ),
    tags=("stats", "timeseries", "pandas-udf"),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import mann_kendall

    events = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    return mann_kendall(events, "user_id", "ts", "event_id", "v_cents")


@register(
    "q_fd_audit",
    oracle="""
    WITH pairs AS (
        SELECT l_partkey, l_suppkey AS rhs,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
        SELECT l_partkey, rhs, cnt,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY cnt DESC, rhs ASC) AS rk
        FROM pairs
    ),
    agg AS (
        SELECT l_partkey,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_rhs,
               MAX(CASE WHEN rk = 1 THEN rhs END) AS modal_rhs,
               CAST(MAX(CASE WHEN rk = 1 THEN cnt END) AS BIGINT)
                   AS modal_count
        FROM ranked GROUP BY l_partkey
    )
    SELECT l_partkey, n_rows, n_distinct_rhs, modal_rhs, modal_count,
           CAST(n_rows - modal_count AS BIGINT) AS n_violations
    FROM agg WHERE n_distinct_rhs > 1
    """,
    doc=(
        "Functional-dependency violation audit on the genuinely "
        "violated l_partkey -> l_suppkey FD — the data-profiling "
        "primitive behind key inference: per violated LHS report row "
        "count, distinct RHS, the modal RHS (ties to smallest, a "
        "total order) and the minimum corrections for the FD to hold. "
        "All exact integer counts; two exchanges (pairs groupBy with "
        "map-side combine, lhs window + aggregate). Modal-tie "
        "semantics hand-pinned in tests/test_fd_audit.py."
    ),
    tags=("profiling", "quality", "window"),
)
def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        fd_violation_audit,
    )

    li = load_table(spark, "lineitem", sf_dir)
    return fd_violation_audit(li, ["l_partkey"], "l_suppkey")


@register(
    "q_quantile_normalize",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey AS id,
               CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
               CAST(COALESCE(
                   SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)),
                   0) AS BIGINT) AS spend_cents
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    melted AS (
        SELECT id, 'bal_cents' AS metric, bal_cents AS value FROM spend
        UNION ALL
        SELECT id, 'spend_cents', spend_cents FROM spend
    ),
    ranked AS (
        SELECT id, metric, value,
               CAST(row_number() OVER (
                   PARTITION BY metric ORDER BY value, id) AS BIGINT)
                   AS rank
        FROM melted
    ),
    per_rank AS (
        SELECT rank, CAST(SUM(value) AS BIGINT) AS qn_sum
        FROM ranked GROUP BY rank
    )
    SELECT r.id, r.metric, r.rank, r.value, p.qn_sum,
           CAST(p.qn_sum AS DOUBLE) / 2.0 AS qn_mean
    FROM ranked r JOIN per_rank p ON p.rank = r.rank
    """,
    doc=(
        "Quantile normalization (Bolstad/Irizarry) of two customer "
        "metrics on wildly different scales (balance cents vs total "
        "spend cents) onto their shared per-rank-mean distribution — "
        "standard feature preprocessing. Melt is a stack expression "
        "(no shuffle); permutation ranks via (value, id); per-rank "
        "cross-metric sums exact int64; qn_mean one int64 divide "
        "(bit-equal). per_rank is corpus-sized so the join back is a "
        "plain equi-join, not a broadcast. NULL cells (none here) "
        "are dropped before ranking and the divisor is the per-rank "
        "metric count."
    ),
    tags=("stats", "ml-prep", "normalization"),
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        quantile_normalize,
    )

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.coalesce(
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0).cast("bigint"),
            ).alias("spend_cents")
        )
        .select(
            F.col("c_custkey").alias("id"),
            F.floor(F.col("c_acctbal") * 100)
            .cast("bigint")
            .alias("bal_cents"),
            "spend_cents",
        )
    )
    return quantile_normalize(spend, "id", ["bal_cents", "spend_cents"])


@register(
    "q_ldiv_tclose_audit",
    oracle="""
    WITH base AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS s
        FROM customer
    ),
    gcounts AS (
        SELECT c_mktsegment, c_nationkey, s,
               CAST(COUNT(*) AS BIGINT) AS gc
        FROM base GROUP BY c_mktsegment, c_nationkey, s
    ),
    gtot AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(SUM(gc) AS BIGINT) AS group_size,
               CAST(COUNT(*) AS BIGINT) AS distinct_sensitive
        FROM gcounts GROUP BY c_mktsegment, c_nationkey
    ),
    dom AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY s
    ),
    dom2 AS (
        SELECT s, c,
               CAST(SUM(c) OVER (ORDER BY s) AS BIGINT) AS cum_c,
               CAST(SUM(c) OVER () AS BIGINT) AS n_total,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM dom
    ),
    grid AS (
        SELECT g.c_mktsegment, g.c_nationkey, g.group_size,
               g.distinct_sensitive, d.s, d.cum_c, d.n_total, d.m,
               COALESCE(gc.gc, 0) AS gc0
        FROM gtot g CROSS JOIN dom2 d
        LEFT JOIN gcounts gc
          ON gc.c_mktsegment = g.c_mktsegment
         AND gc.c_nationkey = g.c_nationkey AND gc.s = d.s
    ),
    terms AS (
        SELECT c_mktsegment, c_nationkey, group_size,
               distinct_sensitive, n_total, m,
               ABS(CAST(SUM(gc0) OVER (
                       PARTITION BY c_mktsegment, c_nationkey
                       ORDER BY s) AS BIGINT) * n_total
                   - cum_c * group_size) AS term
        FROM grid
    ),
    agg AS (
        SELECT c_mktsegment, c_nationkey, group_size,
               distinct_sensitive, n_total, m,
               CAST(SUM(term) AS BIGINT) AS emd_scaled
        FROM terms
        GROUP BY c_mktsegment, c_nationkey, group_size,
                 distinct_sensitive, n_total, m
    )
    SELECT c_mktsegment, c_nationkey, group_size, distinct_sensitive,
           CAST(CASE WHEN distinct_sensitive < 3 THEN 1 ELSE 0 END
                AS BIGINT) AS l_violation,
           emd_scaled,
           CAST(group_size * n_total * (m - 1) AS BIGINT)
               AS emd_denom_scaled,
           CAST(CASE WHEN 5 * emd_scaled
                          > 1 * group_size * n_total * (m - 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS t_violation
    FROM agg
    """,
    doc=(
        "l-diversity + t-closeness privacy audit over QI = (market "
        "segment, nation) with the $1000 balance band as the ordered "
        "sensitive attribute — completes the privacy family beyond "
        "q_k_anonymity_audit (homogeneity + skew attacks k-anonymity "
        "misses). Ordered-domain EMD = sum |prefix-mass| diffs "
        "computed ENTIRELY in exact int64 cross products "
        "(|cum_gc*N - cum_c*gn|); the t-test is t_den*emd > "
        "t_num*gn*N*(m-1) — no division anywhere. Shape: two "
        "map-side aggregates + broadcast of the m-row ordered domain "
        "(contribution-grid fan-out) + one window per group."
    ),
    tags=("privacy", "audit", "exact-integer"),
)
def q_ldiv_tclose_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.privacy import (
        ldiv_tclose_audit,
    )

    cust = load_table(spark, "customer", sf_dir).select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    return ldiv_tclose_audit(
        cust, ["c_mktsegment", "c_nationkey"], "band",
        l_min=3, t_num=1, t_den=5,
    )


# --------------------------------------------------------------------------
# Training-mix construction: Hamilton allocation + deterministic draw
# --------------------------------------------------------------------------


@register(
    "q_mixture_allocation",
    oracle="""
    WITH counts AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ),
    quotas AS (
        SELECT stratum, n,
               (CAST(97 AS BIGINT) * n) // SUM(n) OVER () AS quota_base,
               (CAST(97 AS BIGINT) * n) % SUM(n) OVER () AS quota_rem
        FROM counts
    )
    SELECT stratum, n,
           CAST(quota_base AS BIGINT) AS quota_base,
           CAST(quota_rem AS BIGINT) AS quota_rem,
           CAST(quota_base
                + CASE WHEN row_number() OVER (
                           ORDER BY quota_rem DESC, stratum ASC)
                        <= 97 - SUM(quota_base) OVER ()
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM quotas
    """,
    doc=(
        "Largest-remainder (Hamilton) apportionment of a 97-document "
        "training budget across language strata — the exact integer "
        "quota step q_mixture_weights only reports on: floor quotas "
        "plus +1 for the largest remainders (ties to stratum name, a "
        "total order). Invariants sum(alloc) == K and "
        "satisfies-quota are property-tested "
        "(tests/test_mixture_allocation.py). Strata-bounded "
        "full-frame windows over the stratum-count table (vocabulary"
        "-sized); one corpus exchange for the counts."
    ),
    tags=("llm", "sampling", "exact-integer"),
)
def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    docs = load_table(spark, "documents", sf_dir)
    return largest_remainder_allocation(docs, "lang", 97)


@register(
    "q_mixture_draw",
    oracle="""
    WITH counts AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ),
    quotas AS (
        SELECT stratum, n,
               (CAST(97 AS BIGINT) * n) // SUM(n) OVER () AS quota_base,
               (CAST(97 AS BIGINT) * n) % SUM(n) OVER () AS quota_rem
        FROM counts
    ),
    alloc AS (
        SELECT stratum,
               quota_base
               + CASE WHEN row_number() OVER (
                          ORDER BY quota_rem DESC, stratum ASC)
                       <= 97 - SUM(quota_base) OVER ()
                      THEN 1 ELSE 0 END AS alloc
        FROM quotas
    ),
    ranked AS (
        SELECT lang AS stratum, doc_id AS id,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(CONCAT('0x', substr(md5(
                       'mix|' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT), doc_id) AS BIGINT) AS draw_rank
        FROM documents
    )
    SELECT r.stratum, r.id, r.draw_rank
    FROM ranked r JOIN alloc a ON a.stratum = r.stratum
    WHERE r.draw_rank <= a.alloc
    """,
    doc=(
        "The DRAW step of the training-mix construction: within each "
        "stratum rank documents by md5('mix|'||doc_id) (the seeded-"
        "constants hash family — reproducible under ANY partitioning "
        "and cell-exact in DuckDB) and take the first alloc(stratum) "
        "per q_mixture_allocation's Hamilton quotas. Per-stratum "
        "windows with total-order tiebreak (hash, id); the alloc "
        "table is vocabulary-sized and broadcast."
    ),
    tags=("llm", "sampling", "hash-family"),
)
def q_mixture_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        allocated_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    return allocated_sample(docs, "lang", "doc_id", 97)


# --------------------------------------------------------------------------
# Text retrieval: phrase search, RAKE, fusion, diversity, hard negatives
# --------------------------------------------------------------------------


@register(
    "q_phrase_search",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents
    ),
    toks AS (
        SELECT doc_id AS doc, i.range AS pos, l[i.range + 1] AS tok
        FROM d, range(128) i
        WHERE i.range < len(l)
    )
    SELECT t1.doc, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(t1.pos) AS BIGINT) AS first_pos
    FROM toks t1
    JOIN toks t2 ON t2.doc = t1.doc AND t2.pos = t1.pos + 1
                AND t2.tok = 'scan'
    WHERE t1.tok = 'table'
    GROUP BY t1.doc
    """,
    doc=(
        "Exact phrase search ('table scan') via a positional inverted "
        "index — the classic posting-list intersection: a k-word "
        "phrase is k-1 equi-joins on (doc, pos+i) with the token "
        "predicate pushed BELOW the explode, so cost scales with "
        "posting-list sizes, not corpus size (plan-pinned: no "
        "CartesianProduct, no Python eval). Output (doc, n_hits, "
        "first_pos) exact integers; overlapping hits counted "
        "(hand-pinned in tests/test_phrase_search.py). Oracle uses "
        "the bounded-constant-range position trick (docs <= 100 "
        "tokens at every SF)."
    ),
    tags=("text", "search", "inverted-index"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import phrase_search

    docs = load_table(spark, "documents", sf_dir)
    return phrase_search(docs, "doc_id", "text", "table scan")


@register(
    "q_rake_keywords",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents
    ),
    toks AS (
        SELECT doc_id AS doc, i.range AS pos, l[i.range + 1] AS tok
        FROM d, range(128) i
        WHERE i.range < len(l)
    ),
    nonstop AS (
        SELECT doc, pos, tok FROM toks WHERE tok NOT IN ('the', 'a')
    ),
    runs AS (
        SELECT doc, pos, tok,
               pos - row_number() OVER (
                   PARTITION BY doc ORDER BY pos) AS run
        FROM nonstop
    ),
    words AS (
        SELECT doc, run, pos, tok,
               CAST(COUNT(*) OVER (PARTITION BY doc, run) AS BIGINT)
                   AS plen
        FROM runs
    ),
    stats AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS deg
        FROM words GROUP BY tok
    ),
    scored AS (
        SELECT w.doc, w.run, w.pos, w.tok,
               (CAST(1000000000 AS BIGINT) * s.deg) // s.freq AS wscore
        FROM words w JOIN stats s ON s.tok = w.tok
    ),
    phrases AS (
        SELECT doc, run,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               CAST(SUM(wscore) AS BIGINT) AS score_scaled
        FROM scored GROUP BY doc, run
    ),
    dedup AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(score_scaled) AS BIGINT) AS score_scaled
        FROM phrases GROUP BY phrase
    )
    SELECT phrase, n_occurrences, score_scaled,
           CAST(row_number() OVER (
               ORDER BY score_scaled DESC, phrase ASC) AS BIGINT) AS rank
    FROM dedup QUALIFY rank <= 50
    """,
    doc=(
        "RAKE keyword extraction (Rose et al. 2010): candidate "
        "phrases are maximal stopword-free token runs found with the "
        "pos - row_number islands formula; word score = "
        "(scale*degree) div frequency in exact int64; phrase score = "
        "exact sum; phrase text rebuilt order-exactly on both sides "
        "(Spark array_sort struct / DuckDB string_agg ORDER BY). "
        "Top-50 with total-order tiebreak (score, phrase). Degree/"
        "frequency arithmetic hand-pinned in tests/test_rake.py."
    ),
    tags=("text", "keywords", "window"),
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import rake_keywords

    docs = load_table(spark, "documents", sf_dir)
    return rake_keywords(docs, "doc_id", "text", ("the", "a"), topk=50)


@register(
    "q_rrf_fusion",
    oracle="""
    WITH emb AS (SELECT * FROM embeddings),
    q AS (
        SELECT vec_id AS qid, embedding AS qv FROM emb WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.qid, e.vec_id AS nid,
               list_inner_product(CAST(q.qv AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
               / sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]),
                                         CAST(q.qv AS DOUBLE[]))
                      * list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   AS cs,
               list_inner_product(CAST(q.qv AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])) AS dp
        FROM q, emb e WHERE e.vec_id <> q.qid
    ),
    ra AS (
        SELECT qid, nid,
               row_number() OVER (
                   PARTITION BY qid ORDER BY cs DESC, nid) AS r
        FROM scored QUALIFY r <= 20
    ),
    rb AS (
        SELECT qid, nid,
               row_number() OVER (
                   PARTITION BY qid ORDER BY dp DESC, nid) AS r
        FROM scored QUALIFY r <= 20
    ),
    u AS (SELECT * FROM ra UNION ALL SELECT * FROM rb),
    fused AS (
        SELECT qid, nid,
               CAST(SUM(1000000000000 // (60 + r)) AS BIGINT)
                   AS rrf_scaled,
               CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM u GROUP BY qid, nid
    )
    SELECT qid AS query_id, nid AS neighbor_id, rrf_scaled, n_lists,
           CAST(row_number() OVER (
               PARTITION BY qid
               ORDER BY rrf_scaled DESC, nid) AS BIGINT) AS fused_rank
    FROM fused QUALIFY fused_rank <= 10
    """,
    doc=(
        "Reciprocal-rank fusion (Cormack et al. 2009) of two "
        "heterogeneous rankers — cosine top-20 and raw dot-product "
        "top-20 over the embeddings corpus for 5 query points — into "
        "a fused top-10. The exact-integer surrogate scale div "
        "(k + rank) per term keeps fused scores int64 and cell-exact "
        "(DuckDB // twin); ties broken by neighbor id (total order). "
        "Shape: one shuffle on (query, doc) + one window per query; "
        "both input rankers reuse the repo's exact vector-expression "
        "rules (DOUBLE[] casts, single-sqrt cosine, broadcast "
        "queries — corpus vectors never shuffle)."
    ),
    tags=("retrieval", "fusion", "similarity"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_streams_aggregate_spark.functions.vectors import (
        as_double_array,
        dot,
    )
    from kafka_streams_aggregate_spark.operators.similarity import (
        cosine_topk,
        rrf_fuse,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ra = cosine_topk(emb, queries, k=20).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
    )
    q = queries.select("query_id", as_double_array("embedding").alias("_qv"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array("embedding").alias("_cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("_qv"), F.col("_cv")).alias("dp"),
        )
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("dp").desc(), F.col("neighbor_id").asc()
    )
    rb = (
        scored.withColumn("rank", F.row_number().over(wb).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("query_id", "neighbor_id", "rank")
    )
    return rrf_fuse(ra.unionAll(rb), topk=10)


@register(
    "q_diversified_topk",
    oracle="""
    WITH emb AS (SELECT * FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM emb
        WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.label AS src, e.vec_id AS neighbor_id,
               list_inner_product(CAST(q.qv AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
               / sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]),
                                         CAST(q.qv AS DOUBLE[]))
                      * list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   AS score
        FROM q JOIN emb e ON e.vec_id <> q.query_id
    ),
    capped AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id, src
                   ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
                   AS src_rank
        FROM scored QUALIFY src_rank <= 2
    )
    SELECT query_id, src, neighbor_id, score, src_rank,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS BIGINT)
               AS final_rank
    FROM capped QUALIFY final_rank <= 10
    """,
    doc=(
        "Diversified top-k — the retrieval post-processor that stops "
        "one duplicate-heavy source from filling a result page: "
        "per-(query, source) rank cap (2) then overall top-10. Two "
        "WindowGroupLimit-pushed windows with total-order tiebreaks "
        "(score DESC, neighbor ASC); composes with q_rrf_fusion / "
        "cosine_topk / the dedup clusters as the diversity axis. The "
        "cap is asserted to actually bite on real data, and a hand "
        "case pins that capped-out higher-raw-score results are "
        "evicted (tests/test_diversified_topk.py)."
    ),
    tags=("retrieval", "diversity", "window"),
)
def q_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.functions.vectors import (
        as_double_array,
        cosine,
    )
    from kafka_streams_aggregate_spark.operators.similarity import (
        diversified_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("src"),
        as_double_array("embedding").alias("_cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "src",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    return diversified_topk(scored, "query_id", "neighbor_id", "src", "score")


@register(
    "q_hard_negatives",
    oracle="""
    WITH emb AS (SELECT * FROM embeddings),
    q AS (
        SELECT vec_id AS query_id, label AS query_label,
               embedding AS qv
        FROM emb WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, q.query_label,
               e.vec_id AS neighbor_id, e.label AS neighbor_label,
               list_inner_product(CAST(q.qv AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[]))
               / sqrt(list_inner_product(CAST(q.qv AS DOUBLE[]),
                                         CAST(q.qv AS DOUBLE[]))
                      * list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   AS sim
        FROM q JOIN emb e ON e.label <> q.query_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, sim,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 3
    """,
    doc=(
        "Hard-negative mining — nearest neighbors with a DIFFERENT "
        "label: the negatives that actually move a contrastive "
        "embedding model. Exact cosine kernel + label anti-predicate "
        "in the join condition, cosine_topk scale shape (queries "
        "broadcast, corpus vectors never shuffle); top-3 per query "
        "with total-order tiebreak. The label disjointness is "
        "asserted on every output row (tests/test_ml_prep.py)."
    ),
    tags=("llm", "ml-prep", "similarity"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.similarity import (
        hard_negative_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negative_topk(emb, queries, k=3)


@register(
    "q_stratified_kfold",
    oracle="""
    SELECT lang AS stratum, doc_id AS id,
           CAST((row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST(CONCAT('0x', substr(md5(
                   'cv|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                   doc_id) - 1) % 5 AS BIGINT) AS fold
    FROM documents
    """,
    doc=(
        "Stratified k-fold CV assignment — md5-order round-robin "
        "within each language stratum, so per-stratum fold sizes "
        "differ by AT MOST 1 (the guarantee a plain hash-mod split "
        "lacks on small strata; balance asserted in "
        "tests/test_ml_prep.py). The md5 draw order is the "
        "seeded-constants hash family: reproducible under any "
        "partitioning, cell-exact cross-engine. One window per "
        "stratum; no joins."
    ),
    tags=("ml-prep", "sampling", "hash-family"),
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        stratified_kfold,
    )

    docs = load_table(spark, "documents", sf_dir)
    return stratified_kfold(docs, "lang", "doc_id", k=5)


# --------------------------------------------------------------------------
# Graph analytics: HITS, temporal reachability, label propagation
# --------------------------------------------------------------------------


def _copurchase_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (src < dst) co-purchase edges via the single-exchange
    repartition+dropDuplicates trick (CLAUDE.md PageRank rule)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        sets.select(F.explode("ps").alias("src"), F.col("ps"))
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )


@register(
    "q_hits_centrality",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (
        SELECT src AS node FROM edges
        UNION SELECT dst FROM edges
    ),
    a1 AS (
        SELECT e.dst AS node, CAST(COUNT(*) AS BIGINT) AS a
        FROM edges e GROUP BY e.dst
    ),
    h1 AS (
        SELECT e.src AS node, CAST(SUM(COALESCE(a1.a, 0)) AS BIGINT) AS h
        FROM edges e LEFT JOIN a1 ON a1.node = e.dst GROUP BY e.src
    ),
    a2 AS (
        SELECT e.dst AS node, CAST(SUM(COALESCE(h1.h, 0)) AS BIGINT) AS a
        FROM edges e LEFT JOIN h1 ON h1.node = e.src GROUP BY e.dst
    ),
    h2 AS (
        SELECT e.src AS node, CAST(SUM(COALESCE(a2.a, 0)) AS BIGINT) AS h
        FROM edges e LEFT JOIN a2 ON a2.node = e.dst GROUP BY e.src
    )
    SELECT n.node,
           CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
           CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth
    FROM nodes n
    LEFT JOIN h2 ON h2.node = n.node
    LEFT JOIN a2 ON a2.node = n.node
    """,
    doc=(
        "HITS hub/authority centrality (Kleinberg 1999) on the "
        "DIRECTED (src < dst) co-purchase graph — unnormalized "
        "fixed-iteration HITS from an all-ones start is PURE int64 "
        "arithmetic (no division at all: scores are alternating-path "
        "counts), bit-reproducible under any partitioning. Each "
        "iteration is two join+sum rounds (Pregel shape); magnitude "
        "bound (max degree)^(2*iters) documented in "
        "operators/graph.py. Edge build reuses the one-exchange "
        "repartition+dropDuplicates trick. Hand-unrolled known graph "
        "pinned in tests/test_hits.py."
    ),
    tags=("graph", "centrality", "exact-integer"),
)
def q_hits_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import hits_scores

    return hits_scores(_copurchase_directed(spark, sf_dir), iters=2)


@register(
    "q_temporal_reachability",
    oracle="""
    WITH RECURSIVE
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
               datediff('day', DATE '1970-01-01',
                        CAST(o.o_orderdate AS DATE)) AS ts
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        JOIN orders o ON o.o_orderkey = a.l_orderkey
    ),
    walk(node, arrival, depth) AS (
        SELECT p_partkey, CAST(0 AS BIGINT), 0
        FROM part WHERE p_partkey < 10
        UNION
        SELECT e.dst, CAST(e.ts AS BIGINT), w.depth + 1
        FROM walk w JOIN edges e
          ON e.src = w.node AND e.ts >= w.arrival
        WHERE w.depth < 3
    )
    SELECT node, CAST(MIN(arrival) AS BIGINT) AS arrival
    FROM walk GROUP BY node
    """,
    doc=(
        "Temporal earliest-arrival reachability over date-stamped "
        "co-purchase edges (seeds: parts < 10 at arrival 0, 3 hops) "
        "— time-RESPECTING paths (edge timestamps nondecreasing), "
        "the semantics static BFS gets wrong on any time-stamped "
        "graph (hand-pinned counterexample in "
        "tests/test_temporal_reach.py). The per-round min fold is "
        "correct by earlier-arrival DOMINANCE; all comparisons exact "
        "int64 epoch days (TIMESTAMP_NTZ datediff rule). Pregel "
        "frontier shape — the reached set is never broadcast; the "
        "oracle explores ALL (node, arrival, depth) states and MINs, "
        "strictly stronger than the operator's dominance pruning."
    ),
    tags=("graph", "temporal", "iterative"),
)
def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        temporal_reachability,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("ts"),
    )
    sets = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "ts")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    edges = (
        sets.select(F.explode("ps").alias("src"), "ps", "ts")
        .select("src", F.explode("ps").alias("dst"), "ts")
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .dropDuplicates(["src", "dst", "ts"])
    )
    part = load_table(spark, "part", sf_dir)
    seeds = part.filter(F.col("p_partkey") < 10).select(
        F.col("p_partkey").alias("node"),
        F.lit(0).cast("bigint").alias("arrival"),
    )
    return temporal_reachability(edges, seeds, hops=3)


@register(
    "q_label_propagation",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    l0 AS (SELECT DISTINCT dst AS node, dst AS label FROM edges),
    c1 AS (
        SELECT e.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS n
        FROM edges e JOIN l0 l ON l.node = e.src
        GROUP BY e.dst, l.label
    ),
    l1 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rk
            FROM c1) WHERE rk = 1
    ),
    c2 AS (
        SELECT e.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS n
        FROM edges e JOIN l1 l ON l.node = e.src
        GROUP BY e.dst, l.label
    ),
    l2 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node
                       ORDER BY n DESC, label ASC) AS rk
            FROM c2) WHERE rk = 1
    )
    SELECT node, CAST(label AS BIGINT) AS label FROM l2
    """,
    doc=(
        "Deterministic synchronous label propagation (Raghavan et "
        "al. 2007) on the SYMMETRIC co-purchase graph, 2 fixed "
        "rounds: every node starts as its own label and adopts the "
        "most frequent neighbor label, ties to the SMALLEST label — "
        "the determinism rule that makes fixed-round LPA "
        "reproducible under any partitioning (vanilla LPA's random "
        "tie-break is not cross-engine-comparable). Spark argmax is "
        "max_by(label, struct(n, -label)); DuckDB max_by takes NO "
        "struct key, so the oracle's per-round argmax is the "
        "row_number() OVER (ORDER BY n DESC, label ASC) = 1 form "
        "(CLAUDE.md round-9 rule). Per round: one shuffle join + one "
        "count aggregate; matched vs an independent Python fold in "
        "tests/test_operators.py."
    ),
    tags=("graph", "community", "iterative"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        label_propagation,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    edges = (
        sets.select(F.explode("ps").alias("src"), F.col("ps"))
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )
    out = label_propagation(edges, rounds=2)
    return out.select("node", F.col("label").cast("bigint").alias("label"))


# --------------------------------------------------------------------------
# Embedding statistics + featurization
# --------------------------------------------------------------------------


@register(
    "q_gram_matrix_int",
    oracle="""
    WITH q AS (
        SELECT vec_id, i.range AS i,
               CAST(floor(CAST(embedding[i.range + 1] AS DOUBLE) * 1000)
                    AS BIGINT) AS qi
        FROM embeddings, range(64) i
    )
    SELECT a.i, b.i AS j,
           CAST(SUM(a.qi * b.qi) AS BIGINT) AS gram,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT)
               AS n_vectors
    FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i >= a.i
    GROUP BY a.i, b.i
    """,
    doc=(
        "Exact integer Gram matrix X^T X of the embedding corpus — "
        "the PCA/whitening sufficient statistic, with the only "
        "100 TB-viable shape: per-partition int64 numpy GEMM "
        "partials over Arrow batches, so the shuffle moves "
        "dim(dim+1)/2 rows PER PARTITION (upper triangle), one "
        "groupBy merge — corpus vectors never shuffle. "
        "floor(x*1000) int64 codes make every cell an exact integer "
        "(order/partitioning independence asserted; PSD eigenvalue "
        "sanity in tests/test_gram_matrix.py). The oracle is a "
        "posexplode self-join — quadratic in dim, verification-only."
    ),
    tags=("llm", "similarity", "pandas-udf", "exact-integer"),
)
def q_gram_matrix_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.similarity import (
        gram_matrix_int,
    )

    return gram_matrix_int(load_table(spark, "embeddings", sf_dir))


@register(
    "q_feature_hash",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket,
           CAST(SUM((('0x' || substr(md5(tok), 16, 1))::BIGINT)
                    % 2 * 2 - 1) AS BIGINT) AS weight
    FROM toks GROUP BY doc_id, bucket
    """,
    doc=(
        "Hashing-trick featurization (Weinberger et al. 2009): each "
        "token maps to a bucket in [0, 64) via the cross-engine md5 "
        "family, with a signed +1/-1 contribution from an "
        "independent md5 nibble (the paper's collision-bias "
        "cancellation), summed per (doc, bucket) — the fixed-width, "
        "VOCABULARY-FREE encoding a 100 TB text pipeline feeds to "
        "linear models (no vocabulary table to build, broadcast, or "
        "version). Pure JVM expressions end to end; one corpus-sized "
        "shuffle on (doc, bucket)."
    ),
    tags=("llm", "text", "hash-family"),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import feature_hash

    docs = load_table(spark, "documents", sf_dir)
    return feature_hash(docs, "doc_id", "text", n_buckets=64)


# --------------------------------------------------------------------------
# Geometry + bitemporal + lakehouse reconciliation
# --------------------------------------------------------------------------

# L-shape polygon: 60x60 square with the top-right 30x30 notch removed
_L_POLY = [(0, 0), (60, 0), (60, 30), (30, 30), (30, 60), (0, 60)]

_PIP_EDGES_SQL = ", ".join(
    f"({x1}, {y1}, {x2}, {y2})"
    for (x1, y1), (x2, y2) in zip(_L_POLY, _L_POLY[1:] + _L_POLY[:1])
)


@register(
    "q_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT doc_id AS id,
               CAST(CONCAT('0x', substr(md5(
                   'px|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 100 AS px,
               CAST(CONCAT('0x', substr(md5(
                   'py|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 100 AS py
        FROM documents
    ),
    edges(x1, y1, x2, y2) AS (VALUES {_PIP_EDGES_SQL}),
    joined AS (
        SELECT p.id, p.px, p.py,
               CASE WHEN (e.y1 <= p.py) <> (e.y2 <= p.py)
                     AND (((e.y2 > e.y1) AND
                           (e.x2 - e.x1) * (p.py - e.y1)
                           - (p.px - e.x1) * (e.y2 - e.y1) > 0)
                       OR ((e.y2 < e.y1) AND
                           (e.x2 - e.x1) * (p.py - e.y1)
                           - (p.px - e.x1) * (e.y2 - e.y1) < 0))
                    THEN 1 ELSE 0 END AS crossed
        FROM pts p CROSS JOIN edges e
    )
    SELECT id, px, py,
           CAST(SUM(crossed) AS BIGINT) AS n_crossings,
           CAST(SUM(crossed) % 2 AS BIGINT) AS inside
    FROM joined GROUP BY id, px, py
    """,
    doc=(
        "Point-in-polygon via the exact integer ray cast (crossing-"
        "number rule with the integer orientation determinant — no "
        "division, no floats, so parity is bit-identical cross-"
        "engine even for on-edge points). Points get md5-derived "
        "lattice coordinates (the hash-family synthetic-coordinate "
        "rule — prime-multiplier lattices produce degenerate "
        "geometry); the polygon is a NON-convex L-shape so parity "
        "genuinely matters (notch/arm hand points pinned in "
        "tests/test_point_in_polygon.py). The V-row polygon "
        "broadcasts (contribution-grid fan-out); one map-side "
        "aggregate per point."
    ),
    tags=("geo", "join", "exact-integer"),
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.functions.hashing import hash60
    from kafka_streams_aggregate_spark.operators.joins import (
        point_in_polygon,
    )

    docs = load_table(spark, "documents", sf_dir)
    pts = docs.select(
        F.col("doc_id").alias("id"),
        (
            hash60(F.concat(F.lit("px|"), F.col("doc_id").cast("string")))
            % 100
        ).alias("px"),
        (
            hash60(F.concat(F.lit("py|"), F.col("doc_id").cast("string")))
            % 100
        ).alias("py"),
    )
    return point_in_polygon(pts, _L_POLY)


# probe valid times: Jan 8 / Jan 16 / Jan 24 2024 (UTC, micros)
_BT_V1, _BT_V2, _BT_V3 = 1704672000000000, 1705363200000000, 1706054400000000


@register(
    "q_bitemporal_asof",
    oracle=f"""
    WITH facts AS (
        SELECT user_id AS key, event_id AS fact_id,
               epoch_us(ts) AS valid_us,
               event_id // 500 AS tx,
               CAST(floor(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    probes(tx_cutoff, probe_valid_us) AS (
        VALUES (0, {_BT_V1}), (0, {_BT_V2}), (0, {_BT_V3}),
               (1, {_BT_V1}), (1, {_BT_V2}), (1, {_BT_V3})
    ),
    fanned AS (
        SELECT p.tx_cutoff, p.probe_valid_us, f.*,
               row_number() OVER (
                   PARTITION BY f.key, p.tx_cutoff, p.probe_valid_us
                   ORDER BY f.valid_us DESC, f.tx DESC,
                            f.fact_id DESC) AS rn
        FROM facts f CROSS JOIN probes p
        WHERE f.tx <= p.tx_cutoff AND f.valid_us <= p.probe_valid_us
    )
    SELECT CAST(tx_cutoff AS BIGINT) AS tx_cutoff,
           CAST(probe_valid_us AS BIGINT) AS probe_valid_us,
           key, fact_id, valid_us, CAST(tx AS BIGINT) AS tx, value_cents
    FROM fanned WHERE rn = 1
    """,
    doc=(
        "Bitemporal as-of lookup (SQL:2011 two-axis semantics): "
        "'what did we believe at transaction time T the state at "
        "valid time V was' — the two-predicate argmax a 1-D asof "
        "join cannot express. Facts = events with valid time = "
        "event time (exact int64 micros) and transaction time = "
        "arrival batch (event_id div 500); probes = a 2x3 "
        "(tx_cutoff, valid_us) grid. The pinned property: facts "
        "with tx > tx_cutoff are INVISIBLE even when their valid "
        "time qualifies (retroactive-correction test), and "
        "valid-time ties break by tx DESC first (a later correction "
        "wins). Probe grid broadcast, bounded fan-out, one window "
        "per (key, probe)."
    ),
    tags=("temporal", "join", "bitemporal"),
)
def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.joins import (
        bitemporal_asof,
    )

    facts = load_table(spark, "events", sf_dir).select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("fact_id"),
        F.expr("unix_micros(ts)").alias("valid_us"),
        F.expr("event_id div 500").cast("bigint").alias("tx"),
        F.floor(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    probes = spark.createDataFrame(
        [(t, v) for t in (0, 1) for v in (_BT_V1, _BT_V2, _BT_V3)],
        "tx_cutoff long, valid_us long",
    )
    return bitemporal_asof(facts, probes)


@register(
    "q_merkle_table_diff",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS key,
               CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                   AS fp
        FROM orders
    ),
    b AS (
        SELECT o_orderkey AS key,
               CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                    + CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END
                    AS VARCHAR) AS fp
        FROM orders
        WHERE o_orderkey % 991 <> 0
        UNION ALL
        SELECT * FROM (VALUES (-1, '101'), (-2, '202'), (-3, '303'))
    ),
    j AS (
        SELECT COALESCE(a.key, b.key) AS key, a.fp AS fa, b.fp AS fb
        FROM a FULL OUTER JOIN b ON b.key = a.key
    ),
    d AS (
        SELECT key,
               CASE WHEN fa IS NULL THEN 'only_right'
                    WHEN fb IS NULL THEN 'only_left'
                    WHEN fa <> fb THEN 'changed' END AS status
        FROM j
    )
    SELECT CAST(CAST(CONCAT('0x', substr(md5(
               'mk|' || CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) % 64
               AS BIGINT) AS bucket,
           key, status
    FROM d WHERE status IS NOT NULL
    """,
    doc=(
        "Merkle-style table reconciliation between a table and its "
        "deterministically mutated replica (fp+1 every 997th key, "
        "delete every 991st, three added keys) — the cross-replica "
        "repair pattern: per-bucket digests first (count + two "
        "independent 31-bit md5-residue sums — order-independent, "
        "exact int64 to ~4e9 rows/bucket, ANSI-safe per the additive-"
        "digest rule), then the row-level full-outer diff ONLY inside "
        "mismatched buckets (bucket semi-join = partition pruning at "
        "scale: a 100 TB replica pair ships only disagreeing "
        "buckets). Keys are length-prefixed in the row hash so the "
        "(key, fp) encoding is injective. The ORACLE is the direct "
        "full diff — strictly stronger, so any pruning bug surfaces "
        "as missing rows."
    ),
    tags=("lakehouse", "reconciliation", "hash-family"),
)
def q_merkle_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.cdc_merge import (
        merkle_table_diff,
    )

    orders = load_table(spark, "orders", sf_dir)
    a = orders.select(
        F.col("o_orderkey").alias("key"),
        F.floor(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("fp"),
    )
    b = (
        orders.where(F.col("o_orderkey") % 991 != 0)
        .select(
            F.col("o_orderkey").alias("key"),
            (
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
                + F.when(F.col("o_orderkey") % 997 == 0, 1).otherwise(0)
            )
            .cast("string")
            .alias("fp"),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, "101"), (-2, "202"), (-3, "303")],
                "key long, fp string",
            )
        )
    )
    return merkle_table_diff(a, b, "key", "fp", n_buckets=64)


@register(
    "q_occ_conflicts",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 45 = 0 THEN NULL
                    ELSE CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              + 1 AS VARCHAR) END AS v
        FROM orders
        WHERE o_orderkey % 3 = 0
    ),
    b AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 75 = 0 THEN NULL
                    ELSE CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              + CASE WHEN o_orderkey % 2 = 0
                                     THEN 1 ELSE 2 END AS VARCHAR)
               END AS v
        FROM orders
        WHERE o_orderkey % 5 = 0
    ),
    j AS (
        SELECT COALESCE(a.key, b.key) AS key,
               a.key IS NOT NULL AS ia, b.key IS NOT NULL AS ib,
               a.v AS va, b.v AS vb
        FROM a FULL OUTER JOIN b ON b.key = a.key
    )
    SELECT key,
           CAST(CASE WHEN ia THEN 1 ELSE 0 END AS BIGINT) AS in_a,
           CAST(CASE WHEN ib THEN 1 ELSE 0 END AS BIGINT) AS in_b,
           CASE WHEN NOT ib THEN 'a_only'
                WHEN NOT ia THEN 'b_only'
                WHEN va IS NOT DISTINCT FROM vb THEN 'benign'
                ELSE 'conflict' END AS status
    FROM j
    """,
    doc=(
        "OCC write-write conflict detection — the commit-time check "
        "a multi-writer lakehouse table runs: full-outer join of the "
        "two WRITE SETS (deltas only — the table itself is never "
        "scanned), classifying every touched key as a_only / b_only "
        "/ benign (identical outcome incl. double-delete, via "
        "null-safe equality) / conflict. The derived two-transaction "
        "scenario (every 3rd vs every 5th key, deletes at %45/%75) "
        "exercises all four statuses incl. delete-vs-update and "
        "double-delete at %225; hand-pinned in "
        "tests/test_occ_conflicts.py. One shuffle on key — write "
        "sets are delta-sized, not table-sized."
    ),
    tags=("lakehouse", "occ", "cdc"),
)
def q_occ_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.cdc_merge import (
        occ_conflict_check,
    )

    orders = load_table(spark, "orders", sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    a = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 45 == 0, F.lit(None))
        .otherwise((cents + 1).cast("string"))
        .alias("value"),
    )
    b = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 75 == 0, F.lit(None))
        .otherwise(
            (
                cents
                + F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(2)
            ).cast("string")
        )
        .alias("value"),
    )
    return occ_conflict_check(a, b, "key", "value")


# --------------------------------------------------------------------------
# Incremental dedup maintenance
# --------------------------------------------------------------------------


def _incremental_minhash_oracle() -> str:
    from kafka_streams_aggregate_spark.queries.llm_data import (
        _minhash_md5_oracle,
    )

    return (
        f"SELECT * FROM ({_minhash_md5_oracle()}) "
        "WHERE id_a % 10 = 0 OR id_b % 10 = 0"
    )


@register(
    "q_dedup_minhash_incremental",
    oracle=_incremental_minhash_oracle(),
    doc=(
        "Incremental MinHash+LSH maintenance — new near-dup pairs "
        "from delta arrivals (doc_id % 10 == 0) WITHOUT re-banding "
        "the corpus: delta_bands x all_bands only; base x base pairs "
        "are never generated (the base band table would be persisted "
        "in production; recomputed deterministically here). THE "
        "shape for a growing 100 TB corpus: per-delta cost scales "
        "with delta size x bucket collision rate, independent of "
        "corpus size. md5 hash family, so the output is cell-exact "
        "against the registered q_dedup_minhash_lsh_md5 oracle SQL "
        "reused verbatim with the delta WHERE clause; additionally "
        "pinned engine-internally against the full batch pipeline "
        "restricted to delta-touching pairs, for BOTH hash families "
        "(tests/test_incremental_dedup.py)."
    ),
    tags=("llm", "dedup", "incremental", "hash-family"),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    base = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    return incremental_minhash_pairs(
        base, delta, "doc_id", "text", threshold=0.02, hash_family="md5"
    )


# --------------------------------------------------------------------------
# Calendar arithmetic + multimodal containers + SQL surfaces
# --------------------------------------------------------------------------


@register(
    "q_sla_business_days",
    oracle="""
    WITH sla AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               datediff('day', DATE '1970-01-01',
                        CAST(o.o_orderdate AS DATE)) AS a,
               datediff('day', DATE '1970-01-01',
                        CAST(MIN(l.l_shipdate) AS DATE)) AS b
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    bd AS (
        SELECT o_orderpriority,
               (5 * ((b + 3) // 7) + least((b + 3) % 7, 5) - 3)
               - (5 * ((a + 3) // 7) + least((a + 3) % 7, 5) - 3)
                   AS biz_days
        FROM sla
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(biz_days) AS BIGINT) AS sum_biz_days,
           CAST(MIN(biz_days) AS BIGINT) AS min_biz_days,
           CAST(MAX(biz_days) AS BIGINT) AS max_biz_days
    FROM bd GROUP BY o_orderpriority
    """,
    doc=(
        "SLA fulfilment lead time in BUSINESS days (order date -> "
        "first ship date) per order priority — business-day "
        "arithmetic as a CLOSED FORM, no calendar table, no "
        "iteration: h(d) = 5*((d+3) div 7) + min((d+3) mod 7, 5) - 3 "
        "counts weekdays before epoch-day d (the +3 aligns "
        "1970-01-01, a Thursday, so weekend residues land on 5/6), "
        "and weekdays in [a, b) = h(b) - h(a). Pure int64 — "
        "hypothesis-proved against a literal weekday count over 300 "
        "random ranges (tests/test_business_days.py). All dates via "
        "the TIMESTAMP_NTZ datediff rule; one join + two aggregates."
    ),
    tags=("calendar", "sla", "exact-integer"),
)
def q_sla_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.functions.calendar import (
        business_days_between,
    )

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    epoch = F.lit("1970-01-01").cast("date")
    sla = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderpriority",
            business_days_between(
                F.datediff(F.col("o_orderdate").cast("date"), epoch),
                F.datediff(F.col("first_ship").cast("date"), epoch),
            ).alias("biz_days"),
        )
    )
    return sla.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("biz_days").cast("bigint").alias("sum_biz_days"),
        F.min("biz_days").cast("bigint").alias("min_biz_days"),
        F.max("biz_days").cast("bigint").alias("max_biz_days"),
    )


@register(
    "q_tar_shard_members",
    oracle="""
    SELECT doc_id // 8 AS shard_id,
           printf('doc_%08d.txt', doc_id) AS member_name,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc=(
        "TAR shard (WebDataset-style) ingest — the archive container "
        "LLM corpora actually ship in: documents are packed 8 per "
        "shard into GENUINE POSIX ustar payloads (octal sizes, "
        "spaces-then-octal header checksums, 512-byte blocks; "
        "stdlib-tarfile conformance pinned), and the reader walks "
        "the headers back with checksum VERIFICATION, failing closed "
        "per shard on corruption (tests/test_tar_shards.py). The "
        "oracle needs NO decoder: member names/sizes are doc_id "
        "arithmetic and content integrity is md5(text), computed "
        "natively by DuckDB from the same column (round-9 trick). "
        "mapInPandas both ways; shard groups partition by shard_id."
    ),
    tags=("multimodal", "container", "mapinpandas"),
)
def q_tar_shard_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.multimodal import (
        read_tar_members,
        synthesize_tar_shards,
    )

    docs = load_table(spark, "documents", sf_dir)
    return read_tar_members(synthesize_tar_shards(docs))


@register(
    "q_multimodal_gif_frames",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               1 + doc_id % 24 AS w,
               1 + (7 * doc_id) % 16 AS h,
               1 + doc_id % 4 AS nf,
               4 + doc_id % 10 AS delay
        FROM documents
    ),
    grid AS (
        SELECT p.doc_id, x.range AS x, y.range AS y, f.range AS f,
               (p.doc_id + f.range + 3 * x.range + 5 * y.range) % 4 AS i
        FROM params p, range(24) x, range(16) y, range(4) f
        WHERE x.range < p.w AND y.range < p.h AND f.range < p.nf
    ),
    px AS (
        SELECT doc_id,
               CAST(SUM((doc_id + 37 * i) % 256 + (2 * doc_id + 11 * i) % 256
                        + (5 * doc_id + 23 * i) % 256) AS BIGINT) AS px_sum,
               CAST(SUM((f + 1) * (x + 1) * (y + 1)
                        * ((doc_id + 37 * i) % 256
                           + (2 * doc_id + 11 * i) % 256
                           + (5 * doc_id + 23 * i) % 256)) AS BIGINT)
                   AS px_wsum
        FROM grid GROUP BY doc_id
    )
    SELECT p.doc_id AS asset_id,
           'image/gif' AS media_type,
           CAST(p.w AS INTEGER) AS width,
           CAST(p.h AS INTEGER) AS height,
           CAST(p.nf AS INTEGER) AS n_frames,
           CAST(4 AS INTEGER) AS palette_size,
           CAST(p.nf * p.delay AS BIGINT) AS delay_cs_total,
           px.px_sum, px.px_wsum
    FROM params p JOIN px ON p.doc_id = px.doc_id
    """,
    doc=(
        "Multi-frame GIF89a decode with REAL variable-width LZW — "
        "the one stdlib-implementable codec in the real-decode arc: "
        "synthesized payloads carry genuine logical screen "
        "descriptors, 4-color global palettes, per-frame GCE + image "
        "descriptors, and LZW-encoded index streams in 255-byte "
        "sub-blocks; the decoder reassembles sub-blocks and runs "
        "standard GIF LZW (KwKwK case, aligned width bumps, "
        "4096-code CLEAR reset) back to palette-mapped pixels. "
        "Because pixels derive from doc_id arithmetic, the oracle "
        "computes the decoded checksums ANALYTICALLY — a matching "
        "px_wsum proves the whole entropy round trip, not just "
        "header parsing. Corrupt payloads fail closed "
        "(tests/test_gif_decode.py). mapInPandas decode; "
        "documented pure-Python LZW cost class."
    ),
    tags=("multimodal", "codec", "mapinpandas"),
)
def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.multimodal import (
        decode_gif_frames,
        synthesize_gif_assets,
    )

    # r16-opt: widen the doc_id feed so the heavyweight Python
    # synth+decode kernels run on all cores instead of the single
    # file-scan task (guide §2.6/§4; interleaved A/B wins recorded
    # in OPTIMIZATION_r16.md, 1.1-5.4x per format).
    docs = with_scan_parallelism(load_table(spark, "documents", sf_dir))
    return decode_gif_frames(synthesize_gif_assets(docs))


@register(
    "q_listagg_group",
    oracle="""
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM events GROUP BY user_id
    """,
    doc=(
        "listagg(...) WITHIN GROUP (ORDER BY ...) — Spark 4's "
        "engine-level DETERMINISTIC ordered string aggregation (the "
        "contract q_session_paths_topk builds manually from "
        "array_sort over structs): per-user event-type path in "
        "(ts, event_id) order — the tiebreaker makes the order "
        "total, so the string is reproducible under any shuffle "
        "partitioning (pinned under different partition counts in "
        "tests/test_scale_features.py). DuckDB twin is "
        "string_agg(... ORDER BY). One exchange on user_id."
    ),
    tags=("sql-surface", "aggregation", "window"),
)
def q_listagg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ev.createOrReplaceTempView("ksa_r10_listagg_events")
    return spark.sql(
        """
        SELECT user_id,
               listagg(event_type, '>')
                   WITHIN GROUP (ORDER BY ts, event_id) AS path
        FROM ksa_r10_listagg_events GROUP BY user_id
        """
    )


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id
    FROM events GROUP BY event_type
    """,
    doc=(
        "Native XML source round trip (Spark 4): the events "
        "projection is written DISTRIBUTED with rowTag=event, read "
        "back under an EXPLICIT schema (no inference in the engine "
        "path — same rule as CSV/JSON), and aggregated; the oracle "
        "computes the same aggregates from the parquet directly, so "
        "any row lost, duplicated, or mangled by the XML "
        "serialization surfaces as a hash mismatch. PERMISSIVE "
        "_corrupt_record auditing of malformed row elements is "
        "pinned separately in tests/test_sources.py. The read-back "
        "aggregate is localCheckpoint'd eagerly BEFORE the temp dir "
        "is removed (lazy frames re-read deleted files)."
    ),
    tags=("sql-surface", "source", "xml"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_xmlrt_")
    try:
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "event_type"
        )
        path = f"{work}/events_xml"
        ev.write.format("xml").option("rowTag", "event").save(path)
        back = (
            spark.read.format("xml")
            .schema(ev.schema)
            .option("rowTag", "event")
            .load(path)
        )
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
                F.sum("user_id").cast("bigint").alias("sum_user_id"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# Streaming: CUSUM change detection + (s,S) policy monitor
# (the q_ewma_stream staged two-batch pattern: time-split source files,
# update-mode changelog through the committed manifest sink, latest
# batch wins, localCheckpoint BEFORE the temp workdir is removed)
# --------------------------------------------------------------------------


@register(
    "q_cusum_stream",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               CAST(floor(value * 100) AS BIGINT) - 5000 AS d,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    p AS (
        SELECT user_id, rn,
               CAST(SUM(d) OVER (
                   PARTITION BY user_id ORDER BY rn) AS BIGINT) AS ps
        FROM ordered
    ),
    s AS (
        SELECT user_id, rn,
               CAST(ps - LEAST(CAST(0 AS BIGINT), MIN(ps) OVER (
                   PARTITION BY user_id ORDER BY rn)) AS BIGINT) AS cs
        FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(max_by(cs, rn) AS BIGINT) AS cusum_last,
           CAST(MAX(cs) AS BIGINT) AS cusum_max,
           CAST(SUM(CASE WHEN cs > 50000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms
    FROM s GROUP BY user_id
    """,
    doc=(
        "STREAMING CUSUM change detection (Page 1954) — the "
        "cross-batch incremental twin of q_change_point_cusum: state "
        "per user is four int64s (cusum, n, n_alarms, cusum_max) in "
        "exact cents, carried by applyInPandasWithState across the "
        "staged two-batch time-split source. The oracle is "
        "NON-recursive via the reflection identity S_i = P_i - "
        "min(0, running-min P_j) (prefix-sum + running-min windows "
        "— hypothesis-proved over 200 adversarial sequences in "
        "tests/test_cusum_stream.py), so the max(0, s+d) fold needs "
        "no recursive CTE. Both reset and alarm branches exercised; "
        "update-mode changelog through the committed manifest sink, "
        "latest batch wins."
    ),
    tags=("streaming", "changepoint", "stateful-fold"),
)
def q_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.streaming.cusum_stream import (
        CUSUM_OUT_SCHEMA,
        streaming_cusum,
    )

    with drain_workdir(spark) as work:
        base = load_table(spark, "events", sf_dir).select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts)").alias("ts_us"),
            "value",
        )
        raw = staged_two_batch(
            spark, base, "ts_us", 1705363200000000,
            "event_id long, user_id long, ts_us long, value double", work,
        )
        committed = run_stream_committed(
            streaming_cusum(raw), work, "update", CUSUM_OUT_SCHEMA
        )
        return latest_per_key(
            committed, ["user_id"], "_batch",
            ["n_events", "cusum_last", "cusum_max", "n_alarms"],
        ).localCheckpoint(eager=True)


@register(
    "q_ss_policy_stream",
    oracle="""
    WITH RECURSIVE demand AS (
        SELECT l_partkey AS product,
               datediff('day', DATE '1970-01-01',
                        CAST(l_shipdate AS DATE)) AS d,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem
        WHERE l_partkey % 16 = 0
        GROUP BY l_partkey, d
    ),
    ordered AS (
        SELECT product, q,
               row_number() OVER (
                   PARTITION BY product ORDER BY d) AS rn
        FROM demand
    ),
    nn AS (
        SELECT product, CAST(COUNT(*) AS BIGINT) AS n_days
        FROM ordered GROUP BY product
    ),
    r AS (
        SELECT product, CAST(0 AS BIGINT) AS rn,
               CAST(100 AS BIGINT) AS on_hand,
               CAST(0 AS BIGINT) AS lost,
               CAST(0 AS BIGINT) AS orders
        FROM nn
        UNION ALL
        SELECT o.product, o.rn,
               CASE WHEN r.on_hand - LEAST(o.q, r.on_hand) < 20
                    THEN 100
                    ELSE r.on_hand - LEAST(o.q, r.on_hand) END,
               r.lost + o.q - LEAST(o.q, r.on_hand),
               r.orders + CASE WHEN r.on_hand - LEAST(o.q, r.on_hand)
                                    < 20 THEN 1 ELSE 0 END
        FROM r JOIN ordered o
          ON o.product = r.product AND o.rn = r.rn + 1
    )
    SELECT nn.product, nn.n_days,
           max_by(r.lost, r.rn) AS lost_sales,
           max_by(r.orders, r.rn) AS n_orders,
           max_by(r.on_hand, r.rn) AS end_on_hand
    FROM r JOIN nn ON nn.product = r.product
    GROUP BY nn.product, nn.n_days
    """,
    doc=(
        "Streaming (s,S) policy monitor — the live reorder monitor "
        "the reference's changelog consumer would feed: the "
        "q_ss_policy_sim fold run INCREMENTALLY with four int64s per "
        "product under applyInPandasWithState, over the staged "
        "day-split two-batch source (shipdate < / >= epoch day "
        "9300). The streamed final state must equal the batch fold "
        "over the whole history — the oracle (the batch query's "
        "scoped-depth recursive CTE, reused minus total_demand) "
        "verifies exactly the cross-batch state carry. Both policy "
        "branches fire across the batch boundary "
        "(tests/test_ss_stream.py, which runs the FULL product set). "
        "The registered demo and its oracle both scope to products "
        "% 16 == 0, the recursive-CTE-breadth scoping rule. The fold "
        "itself calls Python once per touched hash bucket of "
        "products (streaming/keyed_fold.py), not once per "
        "(product, batch)."
    ),
    tags=("streaming", "inventory", "policy", "stateful-fold"),
)
def q_ss_policy_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.streaming.ss_stream import (
        SS_OUT_SCHEMA,
        streaming_ss_policy,
    )

    with drain_workdir(spark) as work:
        daily = (
            _daily_demand(spark, sf_dir)
            .where(F.col("product") % 16 == 0)
            .select("product", F.col("d").cast("bigint").alias("d"), "qty")
            .groupBy("product", "d")
            .agg(
                F.sum(F.col("qty").cast("bigint"))
                .cast("bigint")
                .alias("qty")
            )
        )
        raw = staged_two_batch(
            spark, daily, "d", 9300, "product long, d long, qty long", work
        )
        committed = run_stream_committed(
            streaming_ss_policy(raw), work, "update", SS_OUT_SCHEMA
        )
        return latest_per_key(
            committed, ["product"], "_batch",
            ["n_days", "lost_sales", "n_orders", "end_on_hand"],
        ).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Wave 2 (round 10): weight-proportional sampling, triangle counting,
# A/B proportions, first-digit audit, vocabulary-growth curve.
# These five fill the snapshot window to exactly 50 tier-1+tier-3 rows.
# --------------------------------------------------------------------------


@register(
    "q_priority_sample",
    oracle="""
    WITH s AS (
        SELECT o_orderkey AS key,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS weight,
               CAST(CONCAT('0x', substr(md5(
                   'ps|' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1073741824 + 1 AS h
        FROM orders
    ),
    p AS (
        SELECT key, weight, CAST(h AS BIGINT) AS h,
               (weight * 1073741824) // h AS pq
        FROM s
    )
    SELECT key, weight, h, CAST(pq AS BIGINT) AS pq,
           CAST(row_number() OVER (ORDER BY pq DESC, key) AS BIGINT)
               AS rank
    FROM p QUALIFY rank <= 200
    """,
    doc=(
        "Priority sampling (Duffield-Lund-Thorup 2007) of 200 orders "
        "weighted by order value — the RNG-free weight-proportional "
        "subsample a training pipeline uses to thin a corpus by "
        "quality score with near-optimal subset-sum variance. The "
        "uniform is the md5-residue family (30-bit h), and the "
        "priority surrogate pq = (w << 30) div h is exact int64 "
        "(integer `div`, never float `/`: w*2^30 exceeds 2^53 where "
        "a double round-trip corrupts low bits), so the top-k is a "
        "reproducible total order under any partitioning. One "
        "TakeOrdered top-k — nothing shuffles but the winners."
    ),
    tags=("sampling", "hash-family", "exact-integer"),
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        priority_sample,
    )

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("w"),
    )
    return priority_sample(orders, "o_orderkey", "w", k=200)


@register(
    "q_triangle_per_node",
    oracle="""
    WITH ik AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM ik a JOIN ik b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    t AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
        SELECT a AS node FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(row_number() OVER (
               ORDER BY COUNT(*) DESC, node) AS BIGINT) AS rank
    FROM corners GROUP BY node QUALIFY rank <= 100
    """,
    doc=(
        "PER-NODE triangle participation (the clustering-coefficient "
        "numerator) — the node-level companion of q_triangle_count's "
        "global tally, on the same support->=2 co-purchase edge set "
        "(the cut that keeps edges near-linear in parts): the wedge "
        "join (a<b join b<c, probe closing a<c) enumerates each "
        "triangle exactly ONCE under the canonical ordering "
        "(compact-forward scheme), so corner counts are exact int64 "
        "with no double counting and no per-node neighborhood "
        "materialization. Two equi-joins on edge keys; wedge volume "
        "bounded by sum of deg_out*deg_in. Top-100 by (count, node) "
        "— total order. Hand-pinned on K4 and a triangle-with-tail "
        "in tests/test_graph_extra.py."
    ),
    tags=("graph", "triangles", "exact-integer"),
)
def q_triangle_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        triangle_counts,
    )

    li = load_table(spark, "lineitem", sf_dir)
    ik = li.select("l_orderkey", "l_partkey").distinct()
    a = ik.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src"))
    b = ik.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "_ok")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_support"))
        .where(F.col("_support") >= 2)
        .select("src", "dst")
    )
    return triangle_counts(edges, topk=100)


@register(
    "q_two_proportion_z",
    oracle="""
    WITH seg AS (
        SELECT user_id % 2 AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id % 2
    ),
    wide AS (
        SELECT MAX(CASE WHEN segment = 0 THEN n END) AS n1,
               MAX(CASE WHEN segment = 0 THEN x END) AS x1,
               MAX(CASE WHEN segment = 1 THEN n END) AS n2,
               MAX(CASE WHEN segment = 1 THEN x END) AS x2
        FROM seg
    )
    SELECT n1, x1, n2, x2,
           CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(x1 + x2 AS DOUBLE)
                           / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE)
                     + 1.0 / CAST(n2 AS DOUBLE))) AS z_score
    FROM wide
    """,
    doc=(
        "Two-proportion z-test of purchase conversion (purchases "
        "over click+purchase events) between even- and odd-user_id "
        "segments — the A/B-test staple. Counts are exact int64 "
        "map-side aggregates pivoted to one row; p1, p2, the pooled "
        "p and the z statistic are a SHORT chain of individually "
        "correctly-rounded IEEE ops (divides, multiplies, one sqrt "
        "— no transcendentals) spelled identically in both engines, "
        "so even the z double is bit-equal. One exchange; the pivot "
        "is a 2-row aggregate."
    ),
    tags=("stats", "abtest", "exact-integer"),
)
def q_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    seg = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy((F.col("user_id") % 2).alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    wide = seg.agg(
        F.max(F.when(F.col("segment") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("segment") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("segment") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("segment") == 1, F.col("x"))).alias("x2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p1 = d("x1") / d("n1")
    p2 = d("x2") / d("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    return wide.select(
        "n1",
        "x1",
        "n2",
        "x2",
        p1.alias("p1"),
        p2.alias("p2"),
        (
            (p1 - p2)
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / d("n1") + F.lit(1.0) / d("n2"))
            )
        ).alias("z_score"),
    )


@register(
    "q_markov_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS from_total,
           (CAST(1000 AS BIGINT) * n)
               // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS permille
    FROM pairs
    """,
    doc=(
        "First-order Markov transition matrix of user event types — "
        "the behavioral model behind next-action prediction and "
        "anomalous-session scoring: consecutive event pairs within "
        "each user's (ts, event_id)-ordered stream (the total-order "
        "tiebreak making lead() deterministic cross-engine), counted "
        "into an exact int64 (from, to) matrix with integer-permille "
        "row normalization (1000*n div row_total — no float "
        "division in compared columns). One lead() window per user + "
        "one vocabulary-sized (|event types|^2) aggregate; the "
        "per-row window runs over the tiny matrix, not the corpus."
    ),
    tags=("analytics", "sequence", "exact-integer"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(wf).cast("bigint").alias("from_total"),
        F.expr("(1000 * n) div sum(n) over (partition by from_type)")
        .cast("bigint")
        .alias("permille"),
    )


@register(
    "q_heaps_vocab_growth",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    firsts AS (
        SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM toks GROUP BY tok
    ),
    newpd AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT)
            AS new_tokens
        FROM firsts GROUP BY first_doc
    ),
    tokcnt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.doc_id) AS BIGINT)
               AS cum_tokens,
           CAST(SUM(COALESCE(n.new_tokens, 0)) OVER (ORDER BY t.doc_id)
                AS BIGINT) AS cum_vocab
    FROM tokcnt t LEFT JOIN newpd n ON n.doc_id = t.doc_id
    """,
    doc=(
        "Heaps-law vocabulary growth curve: cumulative distinct "
        "vocabulary vs cumulative token count as the corpus is "
        "consumed in doc_id order — the curve that sizes a tokenizer "
        "vocabulary and detects corpus drift. The rewrite that makes "
        "it one pass instead of a quadratic prefix-distinct: a "
        "token's first_doc = min(doc_id) marks exactly where it "
        "enters the vocabulary, so cum_vocab is a running sum of "
        "per-doc first-occurrence counts. Exact int64. The final "
        "windows are deliberately global (one row per DOCUMENT, not "
        "per token — corpus-sized, not content-sized); at larger "
        "scales the same shape range-partitions by doc_id with "
        "per-range offsets."
    ),
    tags=("llm", "text", "analytics"),
)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    firsts = toks.groupBy("tok").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    newpd = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_tokens")
    )
    tokcnt = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        tokcnt.join(newpd, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("new_tokens"), F.lit(0).cast("bigint")).alias(
                "nt"
            ),
        )
        .select(
            "doc_id",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("nt").over(w).cast("bigint").alias("cum_vocab"),
        )
    )
