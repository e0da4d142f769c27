"""Round-15 registrations: the staged batch-2 queue (seasonal Sen
slope, seasonal-naive WAPE/bias) graduating to driver-verified
queries, plus this round's fresh registrations as they land.

Every query wraps an operator that staged with unit tests and a
pre-validated cross-engine oracle text (tests/test_r15_stage2.py and
the fresh tests/test_r15_*.py files); oracle SQL is the test file's
registration-ready text with ``read_parquet`` refs swapped for the
driver's pre-registered view names. Spark derivations mirror the
parity tests verbatim, so the driver's hash check re-verifies exactly
what the tests pinned at sf0.001.

Reference scope note: the reference app (dturanski/
kafka-streams-aggregate, KafkaStreamsInventoryCountApplication.java:
69-85) has no batch-analytics surface — all rows here are
absent-category build-out per SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.registry import register
from kafka_streams_aggregate_spark.sources.eventlog_source import (
    _await_drained,
    drain_workdir,
    read_eventlog_sink,
    register_eventlog_sink,
)
from kafka_streams_aggregate_spark.sources.tables import load_table

# Shared monthly-revenue rollup (cents, per nation) — the input both
# staged batch-2 statistics run on (tests/test_r15_stage2.py). Cents
# are fine here: neither statistic squares n-scaled terms (the
# round-14 unit-scaling rule does not bite).
_MONTHLY_SQL = """
    base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
"""


def _monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.expr(
                "CAST((year(o_orderdate) - 1992) * 12"
                " + month(o_orderdate) - 1 AS BIGINT)"
            ).alias("t"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )


# --------------------------------------------------------------------------
# Staged batch 2: seasonal trend + forecast accuracy
# (operators/stats.py; tests/test_r15_stage2.py)
# --------------------------------------------------------------------------


@register(
    "q_seasonal_sen_slope",
    oracle=(
        "    WITH "
        + _MONTHLY_SQL
        + """,
    tagged AS (SELECT g, t, v, t % 12 AS season FROM base),
    slopes AS (
        SELECT a.g, a.season, a.t AS ti, b.t AS tj,
               CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS s
        FROM tagged a
        JOIN tagged b ON b.g = a.g AND b.season = a.season AND b.t > a.t
    ),
    nrow AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_points
             FROM base GROUP BY g),
    picked AS (
        SELECT g, CAST(cnt AS BIGINT) AS n_pairs, s AS sen_slope
        FROM (
            SELECT g, s,
                   row_number() OVER (PARTITION BY g
                       ORDER BY s, season, ti, tj) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS cnt
            FROM slopes
        )
        WHERE rn = (cnt + 1) // 2
    )
    SELECT nrow.g AS group_key, n_points, n_pairs, sen_slope
    FROM nrow LEFT JOIN picked ON picked.g = nrow.g
"""
    ),
    doc=(
        "Seasonal Sen slope of per-nation monthly revenue: Theil-Sen "
        "restricted to WITHIN-SEASON pairs (January compares only to "
        "Januaries) so a seasonal cycle cannot masquerade as trend; "
        "lower median by exact order-statistic selection under the "
        "total order (slope, season, ti, tj), each slope ONE IEEE "
        "divide of exact integers. Pairs = years^2 x 12 per group — "
        "tiny at any SF (the q_theil_sen discipline). "
        "tests/test_r15_stage2.py."
    ),
    tags=("stats", "timeseries", "robust", "exact-order-statistic"),
)
def q_seasonal_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        seasonal_sen_slope,
    )

    return seasonal_sen_slope(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


@register(
    "q_forecast_wape",
    oracle=(
        "    WITH "
        + _MONTHLY_SQL
        + """,
    lagged AS (
        SELECT g, t, v AS y,
               lag(v, 12) OVER (PARTITION BY g ORDER BY t) AS yhat,
               t - lag(t, 12) OVER (PARTITION BY g ORDER BY t) = 12
                   AS step_ok
        FROM base
        QUALIFY yhat IS NOT NULL AND step_ok
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(abs(y - yhat)) AS BIGINT) AS sum_abs_err,
               CAST(SUM(abs(y)) AS BIGINT) AS sum_abs_y,
               CAST(SUM(y - yhat) AS BIGINT) AS sum_err
        FROM lagged GROUP BY g
    )
    SELECT g AS group_key, n_eval, sum_abs_err, sum_abs_y,
           CASE WHEN sum_abs_y > 0 THEN
                CAST((1000000 * sum_abs_err) // sum_abs_y AS BIGINT) END
               AS wape_ppm,
           CASE WHEN sum_abs_y > 0 THEN
                CAST((1000000 * sum_err) // sum_abs_y AS BIGINT) END
               AS bias_ppm
    FROM agg
"""
    ),
    doc=(
        "Seasonal-naive WAPE + signed bias of per-nation monthly "
        "revenue (the two demand-forecast report numbers next to "
        "q_mase_eval): yhat_t = y_{t-12}, evaluated only where the "
        "lag steps exactly 12 indices (the contiguity rule at the "
        "lag level); WAPE = ratio of sums (immune to MAPE's small-"
        "denominator blowups), bias keeps the sign. All exact int64. "
        "tests/test_r15_stage2.py."
    ),
    tags=("stats", "forecast", "exact-integer"),
)
def q_forecast_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        forecast_wape_bias,
    )

    return forecast_wape_bias(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


# --------------------------------------------------------------------------
# Fresh stats batch — oracle texts (single source: the parity tests in
# tests/test_r15_fresh_stats.py import these and run them against
# sf0.001 views; registrations below run them on the driver's views)
# --------------------------------------------------------------------------


# The same rollup in 1000-dollar units (cents div 100000) — for the
# statistics that SQUARE n-scaled terms (the round-14 unit-scaling
# rule: Theil U2 / Grubbs overflow int64/DECIMAL(38,0) on cent-scale
# squares past sf1).
_MONTHLY_K_SQL = """
    base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,
               CAST(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100000 AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
"""

TURNING_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    marked AS (
        SELECT g, t, v,
               lag(v) OVER (PARTITION BY g ORDER BY t) AS pv,
               lead(v) OVER (PARTITION BY g ORDER BY t) AS nv
        FROM base
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span,
               CAST(SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                    AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
                    THEN 1 ELSE 0 END) AS BIGINT) AS tt
        FROM marked GROUP BY g
    )
    SELECT g AS group_key, n, span = n - 1 AS gapless,
           CASE WHEN span = n - 1 AND n >= 3 THEN tt END AS n_turning,
           CASE WHEN span = n - 1 AND n >= 3 THEN 2 * (n - 2) END
               AS expected_x3,
           CASE WHEN span = n - 1 AND n >= 3 THEN
                CAST((1000000 * 10 * (3 * tt - 2 * (n - 2))
                      * (3 * tt - 2 * (n - 2))) // (16 * n - 29)
                     AS BIGINT) END AS z2_ppm
    FROM agg
"""
)

COXSTUART_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    rn AS (
        SELECT g, v,
               CAST(row_number() OVER (PARTITION BY g ORDER BY t)
                    AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM base
    ),
    paired AS (
        SELECT a.g, a.n, a.v AS vi, b.v AS vj
        FROM rn a JOIN rn b
          ON b.g = a.g AND b.rn = a.rn + (a.n + 1) // 2
        WHERE a.rn <= a.n - (a.n + 1) // 2
    ),
    agg AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN vj > vi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(SUM(CASE WHEN vj < vi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
               CAST(SUM(CASE WHEN vj = vi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tie
        FROM paired GROUP BY g
    )
    SELECT g AS group_key, n, n_pairs, n_pos, n_neg, n_tie,
           CASE WHEN n_pos + n_neg > 0 THEN
                CAST((1000000 * (n_pos - n_neg)) // (n_pos + n_neg)
                     AS BIGINT) END AS margin_ppm
    FROM agg
"""
)

# judges = years, items = nations, v = annual revenue cents, g = region
KENDALLW_ORACLE = """
    WITH base AS (
        SELECT CAST(n.n_regionkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) AS BIGINT) AS judge,
               CAST(c.c_nationkey AS BIGINT) AS item,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
        JOIN nation n
          ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2, 3
    ),
    k_per AS (SELECT g, CAST(COUNT(DISTINCT item) AS BIGINT) AS k
              FROM base GROUP BY g),
    gate AS (
        SELECT b.g, b.judge,
               COUNT(*) = MAX(k) AND COUNT(DISTINCT item) = MAX(k) AS ok
        FROM base b JOIN k_per ON k_per.g = b.g
        GROUP BY b.g, b.judge
    ),
    gated AS (
        SELECT base.* FROM base
        JOIN gate ON gate.g = base.g AND gate.judge = base.judge
        WHERE gate.ok
    ),
    cells AS (
        SELECT g, judge, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM gated GROUP BY g, judge, v
    ),
    ranked AS (
        SELECT g, judge, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g, judge ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT)
                   AS r2
        FROM cells
    ),
    scored AS (
        SELECT b.g, b.judge, b.item, r.r2
        FROM gated b
        JOIN ranked r ON r.g = b.g AND r.judge = b.judge AND r.v = b.v
    ),
    ties AS (SELECT g, CAST(SUM(c * c * c - c) AS BIGINT) AS tie_t
             FROM cells GROUP BY g),
    totals AS (
        SELECT g, item, CAST(SUM(r2) AS BIGINT) AS r2i,
               CAST(COUNT(DISTINCT judge) AS BIGINT) AS m
        FROM scored GROUP BY g, item
    ),
    km AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS k_items,
                  CAST(MAX(m) AS BIGINT) AS m_judges
           FROM totals GROUP BY g),
    s2 AS (
        SELECT t.g, km.k_items, km.m_judges,
               CAST(SUM((r2i - m_judges * (k_items + 1))
                    * (r2i - m_judges * (k_items + 1))) AS BIGINT) AS s2x
        FROM totals t JOIN km ON km.g = t.g
        GROUP BY t.g, km.k_items, km.m_judges
    ),
    dropped AS (
        SELECT g, CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_judges_dropped
        FROM gate GROUP BY g
    )
    SELECT d.g AS group_key, m_judges, k_items, n_judges_dropped, s2x,
           CAST(COALESCE(tie_t, 0) AS BIGINT) AS tie_t,
           CASE WHEN m_judges >= 2 AND k_items >= 2 AND
                m_judges * m_judges
                * (k_items * k_items * k_items - k_items)
                - m_judges * COALESCE(tie_t, 0) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * 3 * s2x)
                     // (m_judges * m_judges
                         * (k_items * k_items * k_items - k_items)
                         - m_judges * COALESCE(tie_t, 0)) AS BIGINT) END
               AS w_ppm
    FROM dropped d
    LEFT JOIN s2 ON s2.g = d.g
    LEFT JOIN ties ON ties.g = d.g
"""

# g = region, target = nation, v = monthly revenue in 1000-dollar units
ICC_ORACLE = """
    WITH m AS (
        SELECT CAST(n.n_regionkey AS BIGINT) AS g,
               CAST(c.c_nationkey AS BIGINT) AS target,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,
               CAST(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100000 AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
        JOIN nation n
          ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2, 3
    ),
    per_t AS (
        SELECT g, target, CAST(COUNT(*) AS BIGINT) AS ki,
               CAST(SUM(v) AS BIGINT) AS ti,
               SUM(CAST(v AS HUGEINT) * v) AS qi
        FROM m GROUP BY g, target
    ),
    kmax AS (SELECT g, CAST(MAX(ki) AS BIGINT) AS k
             FROM per_t GROUP BY g),
    agg AS (
        SELECT p.g, MAX(k.k) AS k,
               CAST(SUM(CASE WHEN ki = k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_targets,
               CAST(SUM(CASE WHEN ki = k THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_targets_dropped,
               CAST(SUM(CASE WHEN ki = k THEN ti ELSE 0 END) AS BIGINT)
                   AS gsum,
               SUM(CASE WHEN ki = k THEN CAST(ti AS HUGEINT) * ti
                   ELSE 0 END) AS a,
               SUM(CASE WHEN ki = k THEN qi ELSE 0 END) AS b
        FROM per_t p JOIN kmax k ON k.g = p.g
        GROUP BY p.g
    )
    SELECT g AS group_key, n_targets, k, n_targets_dropped,
           CASE WHEN n_targets >= 2 AND k >= 2 AND
                (k - 1) * (n_targets * (n_targets * a
                    - CAST(gsum AS HUGEINT) * gsum)
                + (n_targets - 1) * (n_targets * (k * b - a))) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * (n_targets * (k - 1) * (n_targets * a
                         - CAST(gsum AS HUGEINT) * gsum)
                      - (n_targets - 1) * (n_targets * (k * b - a))))
                     // ((k - 1) * (n_targets * (n_targets * a
                         - CAST(gsum AS HUGEINT) * gsum)
                      + (n_targets - 1) * (n_targets * (k * b - a))))
                     AS BIGINT) END AS icc_ppm
    FROM agg
"""

_MONTHLY_K = """
    base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,
               CAST(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) // 100000 AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
"""

THEILU2_ORACLE = (
    "    WITH "
    + _MONTHLY_K_SQL
    + """,
    lagged AS (
        SELECT g, t, v AS y,
               lag(v, 12) OVER (PARTITION BY g ORDER BY t) AS ys,
               lag(v, 1) OVER (PARTITION BY g ORDER BY t) AS y1,
               t - lag(t, 12) OVER (PARTITION BY g ORDER BY t) = 12
                   AS oks,
               t - lag(t, 1) OVER (PARTITION BY g ORDER BY t) = 1 AS ok1
        FROM base
        QUALIFY ys IS NOT NULL AND y1 IS NOT NULL AND oks AND ok1
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM((y - ys) * (y - ys)) AS BIGINT) AS num_ss,
               CAST(SUM((y - y1) * (y - y1)) AS BIGINT) AS den_ss
        FROM lagged GROUP BY g
    )
    SELECT g AS group_key, n_eval, num_ss, den_ss,
           CASE WHEN den_ss > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * num_ss) // den_ss
                     AS BIGINT) END AS u2sq_ppm
    FROM agg
"""
)

TRACKING_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    lagged AS (
        SELECT g, t, v AS y,
               lag(v, 12) OVER (PARTITION BY g ORDER BY t) AS ys,
               t - lag(t, 12) OVER (PARTITION BY g ORDER BY t) = 12
                   AS ok
        FROM base
        QUALIFY ys IS NOT NULL AND ok
    ),
    run AS (
        SELECT g, CAST(y - ys AS BIGINT) AS e,
               CAST(SUM(y - ys) OVER (PARTITION BY g ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cus
        FROM lagged
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(e) AS BIGINT) AS sum_err,
               CAST(SUM(abs(e)) AS BIGINT) AS sum_abs_err,
               CAST(MAX(cus) AS BIGINT) AS mx,
               CAST(MIN(cus) AS BIGINT) AS mn
        FROM run GROUP BY g
    )
    SELECT g AS group_key, n_eval, sum_err, sum_abs_err,
           CASE WHEN sum_abs_err > 0 THEN
                CAST((1000000 * sum_err) // sum_abs_err AS BIGINT) END
               AS ts_ppm,
           CASE WHEN sum_abs_err > 0 THEN
                CAST((1000000 * greatest(mx, -mn)) // sum_abs_err
                     AS BIGINT) END AS peak_ppm
    FROM agg
"""
)

DIXON_ORACLE = """
    WITH base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o
        JOIN customer c
          ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v ASC) AS ra,
               row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rd
        FROM base
    ),
    ext AS (
        SELECT g,
               CAST(MAX(CASE WHEN ra = 1 THEN v END) AS BIGINT) AS x_min,
               CAST(MAX(CASE WHEN ra = 2 THEN v END) AS BIGINT) AS x2,
               CAST(MAX(CASE WHEN rd = 2 THEN v END) AS BIGINT) AS xn1,
               CAST(MAX(CASE WHEN rd = 1 THEN v END) AS BIGINT) AS x_max
        FROM ranked WHERE ra <= 2 OR rd <= 2 GROUP BY g
    ),
    n_per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n
              FROM base GROUP BY g)
    SELECT n_per.g AS group_key, n, x_min, x_max,
           CASE WHEN n >= 3 AND x_max > x_min THEN
                CAST((1000000 * (x2 - x_min)) // (x_max - x_min)
                     AS BIGINT) END AS q_low_ppm,
           CASE WHEN n >= 3 AND x_max > x_min THEN
                CAST((1000000 * (x_max - xn1)) // (x_max - x_min)
                     AS BIGINT) END AS q_high_ppm
    FROM n_per JOIN ext ON ext.g = n_per.g
"""

ORDPAT_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    tri AS (
        SELECT g, v AS v0,
               lead(v, 1) OVER (PARTITION BY g ORDER BY t) AS v1,
               lead(v, 2) OVER (PARTITION BY g ORDER BY t) AS v2,
               lead(t, 1) OVER (PARTITION BY g ORDER BY t) - t = 1 AS s1,
               lead(t, 2) OVER (PARTITION BY g ORDER BY t) - t = 2 AS s2
        FROM base
        QUALIFY v1 IS NOT NULL AND v2 IS NOT NULL AND s1 AND s2
    ),
    coded AS (
        SELECT g,
               CASE WHEN v0 = v1 OR v0 = v2 OR v1 = v2 THEN NULL ELSE
                    CAST(CASE WHEN v0 > v1 THEN 1 ELSE 0 END
                         + CASE WHEN v0 > v2 THEN 1 ELSE 0 END AS VARCHAR)
                    || CAST(CASE WHEN v1 > v0 THEN 1 ELSE 0 END
                         + CASE WHEN v1 > v2 THEN 1 ELSE 0 END AS VARCHAR)
                    || CAST(CASE WHEN v2 > v0 THEN 1 ELSE 0 END
                         + CASE WHEN v2 > v1 THEN 1 ELSE 0 END AS VARCHAR)
               END AS pat
        FROM tri
    ),
    agg AS (
        SELECT g,
               CAST(SUM(CASE WHEN pat IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_triples,
               CAST(SUM(CASE WHEN pat IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tied,
               CAST(SUM(CASE WHEN pat = '012' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_012,
               CAST(SUM(CASE WHEN pat = '021' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_021,
               CAST(SUM(CASE WHEN pat = '102' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_102,
               CAST(SUM(CASE WHEN pat = '120' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_120,
               CAST(SUM(CASE WHEN pat = '201' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_201,
               CAST(SUM(CASE WHEN pat = '210' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_210
        FROM coded GROUP BY g
    )
    SELECT g AS group_key, n_triples, n_tied, n_012, n_021, n_102,
           n_120, n_201, n_210,
           CASE WHEN n_triples > 0 THEN
                CAST((1000000 * greatest(n_012, n_021, n_102, n_120,
                     n_201, n_210)) // n_triples AS BIGINT) END
               AS max_share_ppm
    FROM agg
"""
)

GRUBBS_ORACLE = (
    "    WITH "
    + _MONTHLY_K_SQL
    + """,
    staged AS (
        SELECT g, t AS id, v,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(SUM(v) OVER (PARTITION BY g) AS BIGINT) AS s,
               SUM(CAST(v AS HUGEINT) * v) OVER (PARTITION BY g) AS q
        FROM base
    ),
    scored AS (
        SELECT g, id, v, n, s, q,
               (CAST(n AS HUGEINT) * v - s)
               * (CAST(n AS HUGEINT) * v - s) AS d2
        FROM staged
    ),
    picked AS (
        SELECT * FROM (
            SELECT g, id, v, n, s, q, d2,
                   row_number() OVER (PARTITION BY g
                       ORDER BY d2 DESC, id ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT g AS group_key, n,
           CASE WHEN n >= 3 AND CAST(n AS HUGEINT) * q
                - CAST(s AS HUGEINT) * s > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (n - 1) * d2)
                     // (n * (CAST(n AS HUGEINT) * q
                         - CAST(s AS HUGEINT) * s)) AS BIGINT) END
               AS g2_ppm,
           CAST(id AS BIGINT) AS outlier_id,
           CAST(v AS BIGINT) AS outlier_v
    FROM picked
"""
)

BOWKER_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS fa, next_type AS fb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered
        WHERE next_type IS NOT NULL AND event_type <> next_type
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT least(fa, fb) AS type_a, greatest(fa, fb) AS type_b,
               CAST(SUM(CASE WHEN fa < fb THEN n ELSE 0 END) AS BIGINT)
                   AS n_ab,
               CAST(SUM(CASE WHEN fa > fb THEN n ELSE 0 END) AS BIGINT)
                   AS n_ba
        FROM pairs GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab, n_ba,
           CAST(n_ab - n_ba AS BIGINT) AS d,
           CASE WHEN n_ab + n_ba > 0 THEN
                CAST((1000000 * (n_ab - n_ba) * (n_ab - n_ba))
                     // (n_ab + n_ba) AS BIGINT) END AS term_ppm
    FROM agg
"""




def _monthly_revenue_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _monthly_revenue(spark, sf_dir).select(
        "g", "t", F.expr("CAST(v div 100000 AS BIGINT)").alias("v")
    )


def _region_year_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy(
            F.col("n_regionkey").cast("bigint").alias("g"),
            F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("judge"),
            F.col("c_nationkey").cast("bigint").alias("item"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )


@register(
    "q_turning_points",
    oracle=TURNING_ORACLE,
    doc=(
        "Turning-points randomness test on per-nation monthly revenue: "
        "strict local extrema count vs the i.i.d. expectation "
        "E=2(n-2)/3, z^2 as ONE exact integer floor (10*d^2 div "
        "(16n-29), d = 3T-2(n-2)); gapless span gate with the "
        "drop-reporting convention (NULL stats, row always emitted). "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "randomness", "exact-integer"),
)
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        turning_points_test,
    )

    return turning_points_test(
        _monthly_revenue(spark, sf_dir), "g", "t", "v"
    )


@register(
    "q_cox_stuart",
    oracle=COXSTUART_ORACLE,
    doc=(
        "Cox-Stuart trend sign test on per-nation monthly revenue: "
        "pair x_i with x_{i+ceil(n/2)} under the row_number total "
        "order, count up/down/tie pairs, margin_ppm = 1e6*(pos-neg) "
        "div (pos+neg) — signed integer division is parity-safe (the "
        "round-12 rule). tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "trend", "exact-integer"),
)
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        cox_stuart_test,
    )

    return cox_stuart_test(_monthly_revenue(spark, sf_dir), "g", "t", "v")


@register(
    "q_kendall_w",
    oracle=KENDALLW_ORACLE,
    doc=(
        "Kendall's W concordance per region — do the seven order "
        "years agree on the revenue ranking of the region's nations? "
        "Doubled midranks (integer even under ties), item totals "
        "against the exact mean m(k+1), the standard tie correction "
        "sum(t^3-t), W = 3*S2x/(m^2(k^3-k) - m*T) floored once to "
        "ppm; judges missing any nation drop completely (Friedman "
        "complete-block gate + drop reporting). "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "concordance", "rank", "exact-integer"),
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import kendall_w

    return kendall_w(
        _region_year_nation(spark, sf_dir), "g", "judge", "item", "v"
    )


@register(
    "q_icc_oneway",
    oracle=ICC_ORACLE,
    doc=(
        "One-way random-effects ICC(1) per region over nation x month "
        "revenue (1000-dollar units — this SQUARES n-scaled sums, the "
        "round-14 unit-scaling rule): between-target variance share "
        "as ONE exact DECIMAL(38,0)/HUGEINT rational from P = nA-G^2 "
        "and Q = n(kB-A); balance ENFORCED at k = max per-target "
        "count with dropped targets reported. "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "reliability", "exact-integer"),
)
def q_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import icc_oneway

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    m = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy(
            F.col("n_regionkey").cast("bigint").alias("g"),
            F.col("c_nationkey").cast("bigint").alias("target"),
            F.expr(
                "CAST((year(o_orderdate) - 1992) * 12"
                " + month(o_orderdate) - 1 AS BIGINT)"
            ).alias("t"),
        )
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 100000 AS BIGINT)"
            ).alias("v")
        )
    )
    return icc_oneway(m, "g", "target", "v")


@register(
    "q_theil_u2",
    oracle=THEILU2_ORACLE,
    doc=(
        "Squared Theil's U2 per nation (1000-dollar monthly units — "
        "squared diffs, the round-14 unit-scaling rule): does the "
        "seasonal-naive forecast beat no-change? u2sq_ppm = 1e6 * "
        "sum(y_t - y_{t-12})^2 div sum(y_t - y_{t-1})^2 over the "
        "SAME doubly-contiguity-gated eval set. "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "forecast", "exact-integer"),
)
def q_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import theil_u2_sq

    return theil_u2_sq(
        _monthly_revenue_k(spark, sf_dir), "g", "t", "v", period=12
    )


@register(
    "q_tracking_signal",
    oracle=TRACKING_ORACLE,
    doc=(
        "Forecast tracking signal per nation vs the seasonal-naive "
        "baseline (cents — no squares): signed error mass over "
        "absolute error mass plus the PEAK |cusum| via the running-"
        "extreme closed form max|cusum| = greatest(max run, -min run) "
        "— no fold, two window extremes over exact int64 prefix sums "
        "(the round-9 discipline). tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "forecast", "monitoring", "exact-integer"),
)
def q_tracking_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        tracking_signal,
    )

    return tracking_signal(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


@register(
    "q_dixon_q",
    oracle=DIXON_ORACLE,
    doc=(
        "Dixon's Q gap-ratio outlier screen per nation over order "
        "totals (cents): (extreme - neighbor) / range from four "
        "order statistics per group (row_number asc/desc, rows "
        "filtered to rank <= 2 before the aggregate — the scan "
        "reduces to 4 rows per group immediately). "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "outlier", "exact-integer"),
)
def q_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import dixon_q

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    base = orders.join(cust, cust.c_custkey == orders.o_custkey).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    return dixon_q(base, "g", "v")


@register(
    "q_ordinal_patterns",
    oracle=ORDPAT_ORACLE,
    doc=(
        "Order-3 ordinal-pattern census per nation on monthly revenue "
        "— the permutation-entropy building block without the "
        "entropy (logs are banned): six strict-pattern counts over "
        "contiguity-gated triples, ties excluded and counted, "
        "max_share_ppm flags pattern concentration. "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "timeseries", "exact-integer"),
)
def q_ordinal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        ordinal_patterns,
    )

    return ordinal_patterns(_monthly_revenue(spark, sf_dir), "g", "t", "v")


@register(
    "q_grubbs_outlier",
    oracle=GRUBBS_ORACLE,
    doc=(
        "Grubbs max-deviation outlier score per nation on monthly "
        "revenue (1000-dollar units — squares n-scaled terms): G^2 = "
        "max(d^2)(n-1)/(n*VN) as one DECIMAL(38,0) rational, the "
        "attaining month via max-by under the (d^2, id) total order "
        "(oracle: row_number = 1, the round-9 argmax rule). "
        "tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "outlier", "exact-integer"),
)
def q_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import grubbs_max

    m = _monthly_revenue_k(spark, sf_dir).select(
        "g", F.col("t").alias("id"), "v"
    )
    return grubbs_max(m, "g", "id", "v")


@register(
    "q_bowker_symmetry",
    oracle=BOWKER_ORACLE,
    doc=(
        "Bowker symmetry terms over the user event-type transition "
        "matrix (the q_markov_transitions pair construction: lead() "
        "under the (ts, event_id) total order): per unordered pair, "
        "d = n_ab - n_ba and the McNemar-generalized chi-square term "
        "1e6*d^2 div (n_ab+n_ba) — the per-cell asymmetry report the "
        "dense matrix can't give. tests/test_r15_fresh_stats.py."
    ),
    tags=("stats", "sequence", "exact-integer"),
)
def q_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_streams_aggregate_spark.operators.stats import (
        bowker_symmetry,
    )

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    return bowker_symmetry(trans, "a", "b")


# --------------------------------------------------------------------------
# Fresh LLM-data batch — near-dup-aware packing, URL dedup, quality
# mixture reweighting, cross-source dup matrix, vocab coverage, n-gram
# novelty (operators/llm_prep.py, dedup.py, text.py;
# tests/test_r15_fresh_llm.py imports these oracle texts)
# --------------------------------------------------------------------------

_TOKS_FILTERED = "list_filter(string_split(text, ' '), x -> x <> '')"


def _canonical_packing_oracle() -> str:
    # The q_dedup_cluster_profile oracle pattern: registration-proven
    # md5 MinHash-LSH pairs as the pairs CTE + the recursive closure
    # (fine at sf0.01, not a production algorithm), extended with
    # keep-one canonicalization and the concat-and-chunk chunk math.
    from kafka_streams_aggregate_spark.queries.llm_data import (
        _minhash_md5_oracle,
    )

    return f"""
    WITH RECURSIVE
    pairs AS ({_minhash_md5_oracle()}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, reach) AS (
        SELECT src, src FROM edges
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
    toks AS (
        SELECT source, doc_id AS id,
               CAST(len({_TOKS_FILTERED}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    tagged AS (
        SELECT t.source, t.id, t.n_tokens,
               COALESCE(c.component, t.id) AS component
        FROM toks t LEFT JOIN comp c ON c.node = t.id
    ),
    agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN id = component THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
               CAST(SUM(CASE WHEN id = component THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS tokens_kept
        FROM tagged GROUP BY source
    )
    SELECT source, n_docs, n_kept, tokens_total, tokens_kept,
           CAST((tokens_total + 255) // 256 AS BIGINT) AS chunks_before,
           CAST((tokens_kept + 255) // 256 AS BIGINT) AS chunks_after,
           CAST((tokens_total + 255) // 256
                - (tokens_kept + 255) // 256 AS BIGINT) AS chunks_saved
    FROM agg
    """


# Synthesized crawl URLs from doc_id arithmetic (the multimodal
# synthesize-from-id discipline): scheme/host case noise, utm params,
# fragments and trailing slashes — everything the normalizer strips.
_URL_SYNTH_SQL = """
        SELECT source,
               CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END
               || '://'
               || CASE WHEN doc_id % 2 = 0
                       THEN upper(source || '.Example.com')
                       ELSE source || '.example.com' END
               || '/p/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN '?utm_source=feed&id='
                            || CAST(doc_id % 10 AS VARCHAR)
                       WHEN doc_id % 4 = 1
                       THEN '?id=' || CAST(doc_id % 10 AS VARCHAR)
                       WHEN doc_id % 4 = 2 THEN '?utm_campaign=x'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END
                   AS url
        FROM documents
"""

URLDEDUP_ORACLE = f"""
    WITH raw AS ({_URL_SYNTH_SQL}),
    parts AS (
        SELECT source AS group_key, url AS u,
               regexp_extract(url, '^([a-zA-Z]+)://', 1) AS scheme,
               regexp_extract(url, '^[a-zA-Z]+://([^/?#]*)', 1) AS host,
               regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1)
                   AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS qs
        FROM raw
    ),
    norm AS (
        SELECT group_key, u,
               CASE WHEN scheme = '' OR host = '' THEN u ELSE
               lower(scheme) || '://' || lower(host)
               || CASE WHEN path <> '/' AND path LIKE '%/'
                       THEN substr(path, 1, length(path) - 1)
                       ELSE path END
               || CASE WHEN len(list_filter(string_split(qs, '&'),
                        x -> x <> '' AND substr(x, 1, 4) <> 'utm_')) > 0
                       THEN '?' || array_to_string(
                            list_filter(string_split(qs, '&'),
                                x -> x <> ''
                                 AND substr(x, 1, 4) <> 'utm_'), '&')
                       ELSE '' END END AS norm_url
        FROM parts
    ),
    agg AS (
        SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT u) AS BIGINT) AS n_raw_urls,
               CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_norm_urls
        FROM norm GROUP BY group_key
    )
    SELECT group_key, n_docs, n_raw_urls, n_norm_urls,
           CAST(n_raw_urls - n_norm_urls AS BIGINT) AS dup_excess,
           CASE WHEN n_raw_urls > 0 THEN
                CAST((1000000 * (n_raw_urls - n_norm_urls)) // n_raw_urls
                     AS BIGINT) END AS dup_ppm
    FROM agg
"""

QREWEIGHT_ORACLE = f"""
    WITH occ AS (
        SELECT source, unnest({_TOKS_FILTERED}) AS tok FROM documents
    ),
    counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM occ GROUP BY tok),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(cnt) AS BIGINT) AS sum_cnt
        FROM occ JOIN counts USING (tok) GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS nn FROM per),
    scored AS (
        SELECT source, n_tokens, sum_cnt,
               CASE WHEN n_tokens > 0 AND nn > 0 THEN
                    CAST((CAST(1000000000 AS HUGEINT) * sum_cnt)
                         // (CAST(n_tokens AS HUGEINT) * nn) AS BIGINT)
               END AS quality_ppb
        FROM per, tot
    ),
    weighted AS (
        SELECT *, CAST(COALESCE((n_tokens * quality_ppb) // 1000, 0)
                       AS BIGINT) AS w_q
        FROM scored
    ),
    wt AS (SELECT CAST(SUM(w_q) AS BIGINT) AS w FROM weighted),
    staged AS (
        SELECT source, n_tokens, sum_cnt, quality_ppb, w_q,
               CASE WHEN w > 0 THEN
                    CAST((1000000 * w_q) // w AS BIGINT) END AS share_ppm,
               CASE WHEN w > 0 THEN
                    CAST((100000 * w_q) // w AS BIGINT) END AS base,
               CASE WHEN w > 0 THEN
                    CAST((100000 * w_q) % w AS BIGINT) END AS rem
        FROM weighted, wt
    )
    SELECT source, n_tokens, sum_cnt, quality_ppb, w_q, share_ppm,
           CAST(base + CASE WHEN row_number() OVER
                    (ORDER BY rem DESC, source)
                <= 100000 - SUM(base) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM staged
"""

XSRCDUP_ORACLE = """
    WITH per AS (
        SELECT md5(array_to_string(list_slice(
                   list_filter(string_split(text, ' '), x -> x <> ''),
                   1, 8), ' ')) AS h,
               source, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_hashes,
           CAST(SUM(a.cnt) AS BIGINT) AS n_docs_a,
           CAST(SUM(b.cnt) AS BIGINT) AS n_docs_b
    FROM per a JOIN per b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
"""

VOCABCOV_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({_TOKS_FILTERED}) AS tok FROM documents
    ),
    counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM toks GROUP BY tok),
    ranked AS (
        SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, tok)
                    AS BIGINT) AS rnk
        FROM counts
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
                   CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM ranked),
    ks AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k),
    cov AS (
        SELECT k, CAST(SUM(cnt) AS BIGINT) AS covered_tokens
        FROM ks JOIN ranked ON rnk <= k GROUP BY k
    )
    SELECT k, n_vocab, total_tokens,
           CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CASE WHEN total_tokens > 0 THEN
                CAST((1000000 * COALESCE(covered_tokens, 0))
                     // total_tokens AS BIGINT) END AS coverage_ppm
    FROM ks LEFT JOIN cov USING (k) CROSS JOIN tot
"""

_SHINGLES_3V = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1)"
    " + 1), i -> array_to_string(list_slice(string_split(text, ' '),"
    " CAST(i AS INT), CAST(i + 2 AS INT)), ' '))"
)

NGRAMNOV_ORACLE = f"""
    WITH base AS (
        SELECT doc_id AS id, source, unnest({_SHINGLES_3V}) AS shingle,
               ('0x' || substr(md5('nov|' || CAST(doc_id AS VARCHAR)),
                    1, 15))::BIGINT % 64 < 48 AS train
        FROM documents
    ),
    train_set AS (SELECT DISTINCT shingle FROM base WHERE train),
    flagged AS (
        SELECT h.source, h.id,
               CASE WHEN t.shingle IS NULL THEN 1 ELSE 0 END AS unseen
        FROM base h LEFT JOIN train_set t ON t.shingle = h.shingle
        WHERE NOT h.train
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(DISTINCT id) AS BIGINT) AS n_heldout_docs,
               CAST(COUNT(*) AS BIGINT) AS n_instances,
               CAST(SUM(unseen) AS BIGINT) AS n_unseen
        FROM flagged GROUP BY source
    )
    SELECT source, n_heldout_docs, n_instances, n_unseen,
           CASE WHEN n_instances > 0 THEN
                CAST((1000000 * n_unseen) // n_instances AS BIGINT) END
               AS novelty_ppm
    FROM agg
"""


@register(
    "q_dedup_canonical_packing",
    oracle=_canonical_packing_oracle(),
    doc=(
        "Near-dup-aware packing report (the r14 verdict's named "
        "direction): md5-family MinHash-LSH clusters -> keep-one "
        "canonicalization (id == min-label component) -> concat-and-"
        "chunk math, reported per source as context-window chunks "
        "saved. Production shape = the banded LSH + O(diameter) "
        "min-label components machinery; the oracle unrolls the "
        "closure recursively (sf0.01-sized, the q_dedup_cluster_"
        "profile pattern). tests/test_r15_fresh_llm.py."
    ),
    bench=False,  # LPA iteration count scales with graph diameter
    tags=("llm-data", "dedup", "packing", "md5-family"),
)
def q_dedup_canonical_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        dedup_aware_packing,
    )

    return dedup_aware_packing(
        load_table(spark, "documents", sf_dir),
        budget=256,
        threshold=0.02,
        hash_family="md5",
    )


@register(
    "q_url_dedup",
    oracle=URLDEDUP_ORACLE,
    doc=(
        "URL/metadata-level exact dedup (the cheapest crawl-dedup "
        "tier): URLs synthesized from doc_id arithmetic (scheme/host "
        "case noise, utm_* params, fragments, trailing slashes), "
        "normalized JVM-side (lower scheme+host, strip utm params / "
        "fragment / trailing slash) and counted: dup_excess raw->norm "
        "per source. All codegen string ops with literal DuckDB "
        "twins. tests/test_r15_fresh_llm.py."
    ),
    tags=("llm-data", "dedup", "url", "exact-integer"),
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        url_normalize_dedup,
    )

    raw = load_table(spark, "documents", sf_dir).select(
        "source",
        F.expr(
            "concat("
            " CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END,"
            " '://',"
            " CASE WHEN doc_id % 2 = 0"
            "      THEN upper(concat(source, '.Example.com'))"
            "      ELSE concat(source, '.example.com') END,"
            " '/p/', CAST(doc_id % 50 AS STRING),"
            " CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,"
            " CASE WHEN doc_id % 4 = 0"
            "      THEN concat('?utm_source=feed&id=',"
            "                  CAST(doc_id % 10 AS STRING))"
            "      WHEN doc_id % 4 = 1"
            "      THEN concat('?id=', CAST(doc_id % 10 AS STRING))"
            "      WHEN doc_id % 4 = 2 THEN '?utm_campaign=x'"
            "      ELSE '' END,"
            " CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"
        ).alias("url"),
    )
    return url_normalize_dedup(raw, "url", "source")


@register(
    "q_quality_mixture_reweight",
    oracle=QREWEIGHT_ORACLE,
    doc=(
        "Quality-weighted mixture allocation (the r14 verdict's "
        "lm_quality_proxy x mixture composition): per-source unigram "
        "quality_ppb = (1e9 * sum cnt) div (n_tokens * N), weight = "
        "tokens x quality, exact Hamilton allocation of a 100k-token "
        "budget. Corpus counts map-side-combinable; occurrences join "
        "counts on the token equi-key. tests/test_r15_fresh_llm.py."
    ),
    tags=("llm-data", "mixture", "quality", "exact-integer"),
)
def q_quality_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        quality_mixture_reweight,
    )

    return quality_mixture_reweight(
        load_table(spark, "documents", sf_dir), token_budget=100_000
    )


@register(
    "q_cross_source_dups",
    oracle=XSRCDUP_ORACLE,
    doc=(
        "Cross-source duplicate matrix on the lead-8-token "
        "fingerprint (syndication keeps the lede, edits the tail — "
        "exact full-content hashing finds nothing in this corpus): "
        "hashes spanning source pairs counted per ordered pair from "
        "one (hash, source) rollup self-joined on the hash key. "
        "tests/test_r15_fresh_llm.py."
    ),
    tags=("llm-data", "dedup", "provenance"),
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        cross_source_dup_matrix,
    )

    return cross_source_dup_matrix(
        load_table(spark, "documents", sf_dir), lead_k=8
    )


@register(
    "q_vocab_coverage",
    oracle=VOCABCOV_ORACLE,
    doc=(
        "Head-vocabulary coverage curve at k = 10/100/1000 — the Zipf "
        "companion a tokenizer designer budgets with: coverage_ppm = "
        "(1e6 * tokens covered by top-k types) div total. The rank "
        "window runs over the VOCABULARY-sized frame (types, not "
        "tokens). tests/test_r15_fresh_llm.py."
    ),
    tags=("llm-data", "text", "vocabulary", "exact-integer"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import vocab_coverage

    return vocab_coverage(load_table(spark, "documents", sf_dir))


@register(
    "q_ngram_novelty",
    oracle=NGRAMNOV_ORACLE,
    doc=(
        "Held-out n-gram novelty per source: md5 split (48/64 train), "
        "3-gram shingle instances of the held-out side LEFT JOIN the "
        "train side's DISTINCT shingle set on the shingle equi-key "
        "(both sides hash-partitioned by shingle); novelty_ppm = "
        "unseen instances over total. The generalization/memorization "
        "probe next to q_text_contamination's direct-overlap check. "
        "tests/test_r15_fresh_llm.py."
    ),
    tags=("llm-data", "text", "novelty", "md5-family", "exact-integer"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import ngram_novelty

    return ngram_novelty(load_table(spark, "documents", sf_dir))


# --------------------------------------------------------------------------
# Engine-row graduations (the r11 bloom / r12 AQE / r14 EXECUTE
# IMMEDIATE precedent): test-pinned engine features become
# driver-hashed queries whose DATA is the assertion.
# --------------------------------------------------------------------------


@register(
    "q_listagg_ordered",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM events
    GROUP BY user_id
    """,
    doc=(
        "listagg(...) WITHIN GROUP (ORDER BY ...), query-backed "
        "(graduating the listagg half of the dynamic-SQL engine row, "
        "tests/test_scale_features.py:"
        "test_listagg_within_group_and_execute_immediate): every "
        "user's full event-type path aggregated in (ts, event_id) "
        "total order — Spark-4's engine-level DETERMINISTIC ordered "
        "string aggregation vs DuckDB's string_agg(... ORDER BY). A "
        "nondeterministic collation or partial-merge ordering bug "
        "goes red on DATA (path strings hash-compared). "
        "tests/test_r15_engine.py."
    ),
    tags=("relational", "sql-surface", "engine-surface"),
)
def q_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ev.createOrReplaceTempView("t_ksa_listagg_events")
    return spark.sql(
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               listagg(event_type, '>')
                   WITHIN GROUP (ORDER BY ts, event_id) AS path
        FROM t_ksa_listagg_events
        GROUP BY user_id
        """
    )


@register(
    "q_sink_exactly_once",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS exactly_once
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Sink exactly-once across a restart, query-backed (graduating "
        "the last graduatable engine row, per the r14 verdict's item "
        "4 — the q_rocksdb_changelog_restore shape applied to the "
        "SINK side): half the events drain through the two-phase-"
        "commit manifest sink (sources/eventlog_source.py: the "
        "eventlogsink Python DataSource), the job stops, the other "
        "half lands, and a SECOND availableNow drain resumes from the "
        "SAME checkpoint. The combined manifest read-back must hold "
        "every event exactly once: per-type counts/sums hash-match "
        "the whole-table batch oracle (a replayed first half doubles "
        "them; a lost manifest halves them), and exactly_once pins "
        "count(*) == count(DISTINCT event_id) per type. Read-back is "
        "distributed (manifest -> files -> DataFrame, no driver "
        "collect) and localCheckpoint'd eagerly BEFORE the temp "
        "workdir is removed (the CLAUDE.md lazy-frame rule)."
    ),
    tags=("streaming", "sink", "engine-surface", "fault-tolerance"),
)
def q_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "event_id BIGINT, event_type STRING, cents BIGINT"
    register_eventlog_sink(spark)
    with drain_workdir(spark) as work:
        src, out = f"{work}/src", f"{work}/sinkout"
        base = load_table(spark, "events", sf_dir).select(
            "event_id",
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )

        def drain():
            # The eventlogsink Python DataSource's two-phase commit IS
            # this query's declared engine surface.
            q = (
                spark.readStream.schema(schema)
                .parquet(src)
                .writeStream.format("eventlogsink")
                .option("path", out)
                .option("checkpointLocation", f"{work}/sinkckpt")
                .trigger(availableNow=True)
                .start()
            )
            _await_drained(q, 300)

        base.where("event_id % 2 = 0").write.parquet(src)
        drain()  # first drain commits manifests for the even half
        base.where("event_id % 2 = 1").write.mode("append").parquet(src)
        drain()  # same checkpoint: only the odd half is new
        return (
            read_eventlog_sink(spark, out, schema)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                (
                    F.count(F.lit(1)) == F.countDistinct("event_id")
                ).alias("exactly_once"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Fresh spatial batch — Moran's I + Geary's C on the md5 cell grid
# --------------------------------------------------------------------------

SPATIAL_AC_ORACLE = """
    WITH cells AS (
        SELECT ('0x' || substr(md5('mx|' || CAST(c_custkey AS VARCHAR)),
                    1, 15))::BIGINT % 16 AS gx,
               ('0x' || substr(md5('my|' || CAST(c_custkey AS VARCHAR)),
                    1, 15))::BIGINT % 16 AS gy,
               CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM customer GROUP BY 1, 2
    ),
    mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s FROM cells),
    z AS (SELECT gx, gy, n, CAST(n AS HUGEINT) * v - s AS z
          FROM cells, mom),
    pairs AS (
        SELECT a.z AS za, b.z AS zb
        FROM z a JOIN z b ON b.gx = a.gx + 1 AND b.gy = a.gy
        UNION ALL
        SELECT a.z AS za, b.z AS zb
        FROM z a JOIN z b ON b.gx = a.gx AND b.gy = a.gy + 1
    ),
    pagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(za * zb) AS cp,
               SUM((za - zb) * (za - zb)) AS dp
        FROM pairs
    ),
    sz AS (SELECT CAST(MAX(n) AS BIGINT) AS n_cells, SUM(z * z) AS sz2
           FROM z)
    SELECT n_cells,
           CAST(n_pairs * 2 AS BIGINT) AS w_edges,
           CASE WHEN n_cells > 1 THEN
                CAST(-1000000 // (n_cells - 1) AS BIGINT) END
               AS expected_i_ppm,
           CASE WHEN n_pairs > 0 AND sz2 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * n_cells * 2 * cp)
                     // ((2 * n_pairs) * sz2) AS BIGINT) END AS moran_ppm,
           CASE WHEN n_pairs > 0 AND sz2 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (n_cells - 1) * dp)
                     // ((2 * n_pairs) * sz2) AS BIGINT) END AS geary_ppm
    FROM sz, pagg
"""


@register(
    "q_spatial_autocorr",
    oracle=SPATIAL_AC_ORACLE,
    doc=(
        "Moran's I + Geary's C spatial autocorrelation over customer "
        "account balance on a 16x16 md5 cell grid (rook adjacency): "
        "both statistics as single exact DECIMAL(38,0)/HUGEINT floors "
        "— the n^2 centering scale cancels, adjacency is two "
        "equi-joins + union (never an OR nested loop). md5 "
        "coordinates (the round-8 lattice lesson: prime-multiplier "
        "lattices produce degenerate neighborhoods). "
        "tests/test_r15_fresh_spatial.py."
    ),
    tags=("spatial", "stats", "exact-integer", "md5-family"),
)
def q_spatial_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.spatial import (
        spatial_autocorr,
    )

    cust = load_table(spark, "customer", sf_dir)
    cells = cust.groupBy(
        F.expr(
            "CAST(conv(substr(md5(concat('mx|', CAST(c_custkey AS"
            " STRING))), 1, 15), 16, 10) AS BIGINT) % 16"
        ).alias("gx"),
        F.expr(
            "CAST(conv(substr(md5(concat('my|', CAST(c_custkey AS"
            " STRING))), 1, 15), 16, 10) AS BIGINT) % 16"
        ).alias("gy"),
    ).agg(
        F.sum(F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("v")
    )
    return spatial_autocorr(cells, "gx", "gy", "v")


# --------------------------------------------------------------------------
# Wave 3: staged-pair graduation (Fligner-Policello, Cucconi — the r14
# same-round-graduation precedent: hash-green from a vanilla session
# before landing) + seasonal Mann-Kendall + PACF(2) + process
# capability. Oracle texts single-sourced here; tests import them.
# --------------------------------------------------------------------------

_MONTHLY_X_SQL = """
    base AS (
        SELECT g, t, v, (t // 12) % 2 = 0 AS in_x FROM (
            SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                   CAST((year(o.o_orderdate) - 1992) * 12
                        + month(o.o_orderdate) - 1 AS BIGINT) AS t,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o
            JOIN customer c
              ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        )
    )
"""

FP_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    cells AS (
        SELECT g, v,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS cx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS cy
        FROM base GROUP BY g, v
    ),
    placed AS (
        SELECT g, cx, cy,
               CAST(2 * (SUM(cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cy) + cy AS BIGINT) AS p2,
               CAST(2 * (SUM(cx) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cx) + cx AS BIGINT) AS q2
        FROM cells
    ),
    mom AS (
        SELECT g, CAST(SUM(cx) AS BIGINT) AS m,
               CAST(SUM(cy) AS BIGINT) AS n,
               CAST(SUM(cx * p2) AS BIGINT) AS sp,
               CAST(SUM(cy * q2) AS BIGINT) AS sq
        FROM placed GROUP BY g
    ),
    sc AS (
        SELECT p.g, MAX(m) AS m, MAX(n) AS n, MAX(sp) AS sp,
               MAX(sq) AS sq,
               SUM(cx * (CAST(m AS HUGEINT) * p2 - sp)
                   * (CAST(m AS HUGEINT) * p2 - sp)) AS a,
               SUM(cy * (CAST(n AS HUGEINT) * q2 - sq)
                   * (CAST(n AS HUGEINT) * q2 - sq)) AS b
        FROM placed p JOIN mom USING (g) GROUP BY p.g
    )
    SELECT g AS group_key, m, n,
           CAST(sign(sq - sp) AS BIGINT) AS sign_u,
           CASE WHEN m >= 2 AND n >= 2 AND
                a * n * n + b * m * m
                + CAST(sp AS HUGEINT) * sq * m * n > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (sp - sq) * (sp - sq)
                      * m * m * n * n)
                     // (4 * (a * n * n + b * m * m
                         + CAST(sp AS HUGEINT) * sq * m * n))
                     AS BIGINT) END AS fp2_ppm
    FROM sc
"""
)

CUCCONI_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    ranked AS (
        SELECT g, in_x,
               CAST(row_number() OVER (PARTITION BY g ORDER BY v, t)
                    AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS nn
        FROM base
    ),
    agg AS (
        SELECT g, CAST(MAX(nn) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS m,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS n,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE r * r END) AS BIGINT)
                   AS u2_sum,
               CAST(SUM(CASE WHEN in_x THEN 0
                        ELSE (nn + 1 - r) * (nn + 1 - r) END) AS BIGINT)
                   AS v2_sum
        FROM ranked GROUP BY g
    )
    SELECT g AS group_key, m, n, u2_sum, v2_sum,
           CASE WHEN m >= 2 AND n >= 2 THEN
                CAST((CAST(1000000 AS HUGEINT) * 5 * (
                    (CAST(6 AS HUGEINT) * u2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                    * (CAST(6 AS HUGEINT) * u2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                    * ((2 * nn + 1) * (8 * nn + 11))
                  + (CAST(6 AS HUGEINT) * v2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                    * (CAST(6 AS HUGEINT) * v2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                    * ((2 * nn + 1) * (8 * nn + 11))
                  - 2 * (2 * (CAST(nn AS HUGEINT) * nn - 4)
                         - (2 * nn + 1) * (8 * nn + 11))
                    * (CAST(6 AS HUGEINT) * u2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                    * (CAST(6 AS HUGEINT) * v2_sum
                       - n * (nn + 1) * (2 * nn + 1))
                ))
                // (2 * (
                    (CAST((2 * nn + 1) AS HUGEINT) * (8 * nn + 11))
                    * ((2 * nn + 1) * (8 * nn + 11))
                  - (2 * (CAST(nn AS HUGEINT) * nn - 4)
                     - (2 * nn + 1) * (8 * nn + 11))
                    * (2 * (CAST(nn AS HUGEINT) * nn - 4)
                       - (2 * nn + 1) * (8 * nn + 11))
                ) * m * n * (nn + 1)) AS BIGINT) END AS c_ppm
    FROM agg
"""
)



SEASONAL_MK_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    tagged AS (SELECT g, t, v, t % 12 AS season FROM base),
    s AS (
        SELECT a.g,
               CAST(SUM(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT)
                   AS s_stat
        FROM tagged a
        JOIN tagged b ON b.g = a.g AND b.season = a.season AND b.t > a.t
        GROUP BY a.g
    ),
    nps AS (SELECT g, season, CAST(COUNT(*) AS BIGINT) AS ns
            FROM tagged GROUP BY g, season),
    bv AS (
        SELECT g, CAST(SUM(ns) AS BIGINT) AS n_points,
               CAST(SUM(ns * (ns - 1) * (2 * ns + 5)) AS BIGINT) AS v0
        FROM nps GROUP BY g
    ),
    ties AS (
        SELECT g, CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tv
        FROM (SELECT g, season, v, CAST(COUNT(*) AS BIGINT) AS c
              FROM tagged GROUP BY g, season, v)
        GROUP BY g
    )
    SELECT bv.g AS group_key, n_points,
           CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat,
           CAST(v0 - COALESCE(tv, 0) AS BIGINT) AS var18,
           CASE WHEN v0 - COALESCE(tv, 0) > 0 THEN
                CASE WHEN COALESCE(s_stat, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((1000000 * 18
                     * (abs(COALESCE(s_stat, 0)) - 1)
                     * (abs(COALESCE(s_stat, 0)) - 1))
                     // (v0 - COALESCE(tv, 0)) AS BIGINT) END END
               AS z2_ppm
    FROM bv
    LEFT JOIN ties ON ties.g = bv.g
    LEFT JOIN s ON s.g = bv.g
"""
)

PACF2_ORACLE = (
    "    WITH "
    + _MONTHLY_K_SQL
    + """,
    staged AS (
        SELECT g, t,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(MAX(t) OVER (PARTITION BY g)
                    - MIN(t) OVER (PARTITION BY g) AS BIGINT) AS span,
               CAST(COUNT(*) OVER (PARTITION BY g) AS HUGEINT) * v
                   - SUM(v) OVER (PARTITION BY g) AS z
        FROM base
    ),
    lagged AS (
        SELECT g, n, span, z,
               lead(z, 1) OVER (PARTITION BY g ORDER BY t) AS z1,
               lead(z, 2) OVER (PARTITION BY g ORDER BY t) AS z2
        FROM staged
    ),
    agg AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(span) AS BIGINT) AS span,
               SUM(z * z) AS c0,
               SUM(CASE WHEN z1 IS NOT NULL THEN z * z1 END) AS c1,
               SUM(CASE WHEN z2 IS NOT NULL THEN z * z2 END) AS c2
        FROM lagged GROUP BY g
    )
    SELECT g AS group_key, n, span = n - 1 AS gapless,
           CASE WHEN span = n - 1 AND n >= 3 AND c0 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * c1) // c0 AS BIGINT) END
               AS ac1_ppm,
           CASE WHEN span = n - 1 AND n >= 3 AND c0 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * c2) // c0 AS BIGINT) END
               AS ac2_ppm,
           CASE WHEN span = n - 1 AND n >= 3
                AND c0 * c0 - c1 * c1 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (c2 * c0 - c1 * c1))
                     // (c0 * c0 - c1 * c1) AS BIGINT) END AS pacf2_ppm
    FROM agg
"""
)

# Spec band in 1000-dollar units for order totals: [50k$, 300k$]
PCAP_ORACLE = """
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(CAST(floor(o_totalprice * 100) AS BIGINT) // 100000
                    AS BIGINT) AS v
        FROM orders
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM base GROUP BY g
    )
    SELECT g AS group_key, n,
           s >= n * 50 AND s <= n * 300 AS mean_in_spec,
           CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * q
                - CAST(s AS HUGEINT) * s > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * 250 * 250 * n * (n - 1))
                     // (36 * (CAST(n AS HUGEINT) * q
                         - CAST(s AS HUGEINT) * s)) AS BIGINT) END
               AS cp2_ppm,
           CAST(sign(least(CAST(n AS HUGEINT) * 300 - s,
                CAST(s AS HUGEINT) - n * 50)) AS BIGINT) AS cpk_sign,
           CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * q
                - CAST(s AS HUGEINT) * s > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * least(CAST(n AS HUGEINT) * 300 - s,
                              CAST(s AS HUGEINT) - n * 50)
                      * least(CAST(n AS HUGEINT) * 300 - s,
                              CAST(s AS HUGEINT) - n * 50)
                      * (n - 1))
                     // (9 * n * (CAST(n AS HUGEINT) * q
                         - CAST(s AS HUGEINT) * s)) AS BIGINT) END
               AS cpk2_ppm
    FROM agg
"""


def _monthly_epoch_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _monthly_revenue(spark, sf_dir).select(
        "g", "t", "v", F.expr("(t div 12) % 2 = 0").alias("in_x")
    )


@register(
    "q_fligner_policello",
    oracle=FP_ORACLE,
    doc=(
        "Fligner-Policello robust rank-order test per nation — did the "
        "monthly revenue distribution shift between even and odd "
        "years? The placement-based Behrens-Fisher alternative to "
        "Mann-Whitney, squared into ONE exact DECIMAL(38,0) rational "
        "via doubled placements from one merged value-cell frame + "
        "one cumulative window (never an X x Y join); sign_u keeps "
        "the direction; complete separation -> NULL. "
        "tests/test_r16_stage.py (staged r16, graduated same-round "
        "per the r14 precedent)."
    ),
    tags=("stats", "nonparametric", "exact-integer"),
)
def q_fligner_policello(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        fligner_policello,
    )

    return fligner_policello(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


@register(
    "q_cucconi",
    oracle=CUCCONI_ORACLE,
    doc=(
        "Cucconi joint location-SCALE test per nation on the same "
        "epoch split: squared + contrary-squared tie-broken "
        "permutation ranks (the spearman rank discipline makes the "
        "classic no-tie moments exact), C as one integer rational "
        "floored once. The single-statistic alternative to running "
        "Mann-Whitney and Ansari-Bradley separately. "
        "tests/test_r16_stage.py (staged r16, graduated same-round)."
    ),
    tags=("stats", "nonparametric", "location-scale", "exact-integer"),
)
def q_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import cucconi_test

    return cucconi_test(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v", "t"
    )


@register(
    "q_seasonal_mann_kendall",
    oracle=SEASONAL_MK_ORACLE,
    doc=(
        "Seasonal Mann-Kendall trend test per nation — the "
        "significance companion to q_seasonal_sen_slope: MK's S over "
        "WITHIN-SEASON pairs summed across seasons, per-season "
        "tie-corrected variance, continuity-corrected z^2 as one "
        "exact floor (1e6*18*(|S|-1)^2 div var18). Pair join = the "
        "seasonal_sen_slope shape (years^2 x 12, tiny at any SF). "
        "tests/test_r15_wave3.py."
    ),
    tags=("stats", "timeseries", "trend", "exact-integer"),
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        seasonal_mann_kendall,
    )

    return seasonal_mann_kendall(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


@register(
    "q_pacf2",
    oracle=PACF2_ORACLE,
    doc=(
        "Lag-1/2 autocorrelation + lag-2 PARTIAL autocorrelation per "
        "nation (1000-dollar monthly units): the AR-order diagnostic "
        "next to q_durbin_watson — pacf2_ppm = 1e6*(C2*C0 - C1^2) div "
        "(C0^2 - C1^2) on exact n-scaled covariance numerators (the "
        "centering scale cancels); gapless gate + drop reporting. "
        "tests/test_r15_wave3.py."
    ),
    tags=("stats", "timeseries", "exact-integer"),
)
def q_pacf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import pacf2

    return pacf2(_monthly_revenue_k(spark, sf_dir), "g", "t", "v")


@register(
    "q_process_capability",
    oracle=PCAP_ORACLE,
    doc=(
        "Process capability Cp^2/Cpk^2 per order priority over order "
        "totals in 1000-dollar units against the [50, 300] spec band: "
        "both indices as single DECIMAL(38,0) floors on the exact "
        "variance numerator, cpk_sign preserving what the squared "
        "index alone would hide (mean outside the band). "
        "tests/test_r15_wave3.py."
    ),
    tags=("stats", "spc", "exact-integer"),
)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        process_capability,
    )

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("g"),
        F.expr(
            "CAST(CAST(floor(o_totalprice * 100) AS BIGINT)"
            " div 100000 AS BIGINT)"
        ).alias("v"),
    )
    return process_capability(orders, "g", "v", lsl=50, usl=300)


# --------------------------------------------------------------------------
# Wave 4: the EVAL-set preparation capstone (the eval-side sibling of
# q_corpus_prep_pipeline)
# --------------------------------------------------------------------------


def _eval_prep_oracle(contam_n: int = 8) -> str:
    # Staged CTEs AS MATERIALIZED (the round-10 bounded-iteration rule:
    # a stage referencing its predecessor re-expands the whole prefix
    # multiplicatively without it); shingle text = the registration-
    # proven _SHINGLES_3 fragment, parameterized on the n-gram length
    # (8 = the r15 registration; 13 = the published-practice variant
    # registered r16 as q_eval_decontam_13g).
    shingles8 = (
        "list_transform(range(1, greatest(len(string_split(text, ' '))"
        f" - {contam_n - 1}, 1) + 1), i -> array_to_string(list_slice("
        f"string_split(text, ' '), CAST(i AS INT), CAST(i + {contam_n - 1}"
        " AS INT)), ' '))"
    )

    dg = (
        "('0x' || substr(md5('dg|' || CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 2147483648"
    )
    return f"""
    WITH base AS MATERIALIZED (
        SELECT source, doc_id, text,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens,
               CASE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                        ::BIGINT % 10
                    WHEN 8 THEN 'val' WHEN 9 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    ),
    ev0 AS MATERIALIZED (SELECT * FROM base WHERE split <> 'train'),
    ev1 AS MATERIALIZED (SELECT * FROM ev0 WHERE n_tokens >= 16),
    tr_sh AS MATERIALIZED (
        SELECT DISTINCT shingle FROM (
            SELECT unnest({shingles8}) AS shingle
            FROM base WHERE split = 'train'
        )
    ),
    ev_sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({shingles8}) AS shingle FROM ev1
        )
    ),
    keepids AS MATERIALIZED (
        SELECT e.doc_id
        FROM ev_sh e LEFT JOIN tr_sh t ON t.shingle = e.shingle
        GROUP BY e.doc_id
        HAVING (1000000 * CAST(SUM(CASE WHEN t.shingle IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) <= 500000
    ),
    ev2 AS MATERIALIZED (
        SELECT ev1.* FROM ev1 JOIN keepids USING (doc_id)
    ),
    ev3 AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source, length(bin(n_tokens))
                ORDER BY ('0x' || substr(md5('evalsel|'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id) AS rn
            FROM ev2
        ) WHERE rn <= 8
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'eval_pool' AS stage_name,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM({dg}), 0) AS BIGINT) AS digest31,
           CAST(COUNT(DISTINCT (source, length(bin(n_tokens))))
                AS BIGINT) AS n_strata
    FROM ev0
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'quality', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
           CAST(COALESCE(SUM({dg}), 0) AS BIGINT),
           CAST(COUNT(DISTINCT (source, length(bin(n_tokens))))
                AS BIGINT)
    FROM ev1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'decontam', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
           CAST(COALESCE(SUM({dg}), 0) AS BIGINT),
           CAST(COUNT(DISTINCT (source, length(bin(n_tokens))))
                AS BIGINT)
    FROM ev2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'stratified', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT),
           CAST(COALESCE(SUM({dg}), 0) AS BIGINT),
           CAST(COUNT(DISTINCT (source, length(bin(n_tokens))))
                AS BIGINT)
    FROM ev3
    """


@register(
    "q_eval_prep_pipeline",
    oracle=_eval_prep_oracle(),
    doc=(
        "EVAL-set preparation capstone (the eval-side sibling of "
        "q_corpus_prep_pipeline — that one curates what the model "
        "trains on, this one what it is judged on): md5 val/test "
        "pool -> quality gate -> drop eval docs MEMORIZED from train "
        "(8-gram distinct-shingle hit ratio > 50% -- LONG n-grams, the "
        "published decontamination practice; 3-grams saturate at "
        "sf0.1 -- exact integer gate; the "
        "corpus pipeline drops train twins, this drops leaked eval "
        "docs) -> stratified per-(source, token-MSB bucket) md5-rank "
        "sample. Funnel rows carry 31-bit md5 MEMBERSHIP digests "
        "(round-9 additive rule) and occupied-stratum counts. "
        "tests/test_r15_wave4.py."
    ),
    tags=("llm-data", "capstone", "eval", "md5-family"),
)
def q_eval_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        eval_prep_pipeline,
    )

    return eval_prep_pipeline(load_table(spark, "documents", sf_dir))


# --------------------------------------------------------------------------
# Wave 5: repetition-discounted mixture (the sampling-side answer to
# duplication — keep every doc, make a 10-copy cluster count once)
# --------------------------------------------------------------------------

DUPWEIGHT_ORACLE = """
    WITH base AS (
        SELECT source,
               md5(array_to_string(list_slice(
                   list_filter(string_split(text, ' '), x -> x <> ''),
                   1, 8), ' ')) AS h,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    scored AS (
        SELECT source, n_tokens,
               CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS csize
        FROM base
    ),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM((1000 * n_tokens) // csize) AS BIGINT)
                   AS eff_milli
        FROM scored GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(eff_milli) AS BIGINT) AS w FROM per),
    staged AS (
        SELECT source, n_docs, n_tokens, eff_milli,
               CASE WHEN w > 0 THEN
                    CAST((1000000 * eff_milli) // w AS BIGINT) END
                   AS share_ppm,
               CASE WHEN w > 0 THEN
                    CAST((100000 * eff_milli) // w AS BIGINT) END AS base,
               CASE WHEN w > 0 THEN
                    CAST((100000 * eff_milli) % w AS BIGINT) END AS rem
        FROM per, tot
    )
    SELECT source, n_docs, n_tokens, eff_milli, share_ppm,
           CAST(base + CASE WHEN row_number() OVER
                    (ORDER BY rem DESC, source)
                <= 100000 - SUM(base) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM staged
"""


@register(
    "q_dup_weighted_mixture",
    oracle=DUPWEIGHT_ORACLE,
    doc=(
        "Repetition-discounted mixture allocation: per-doc tokens "
        "down-weighted by lead-8-token fingerprint cluster size "
        "(floored once PER DOC in milli-token integer space — the "
        "deterministic form; a sum of exact rationals has no single "
        "floor), per-source effective mass -> exact Hamilton split of "
        "a 100k budget. The sampling-side answer to duplication when "
        "deletion would lose provenance. tests/test_r15_wave4.py."
    ),
    tags=("llm-data", "mixture", "dedup", "exact-integer"),
)
def q_dup_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        dup_weighted_mixture,
    )

    return dup_weighted_mixture(
        load_table(spark, "documents", sf_dir), token_budget=100_000
    )
