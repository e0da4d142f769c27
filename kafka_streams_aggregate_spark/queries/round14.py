"""Round-14 registrations: the staged batch-3 queue (Cronbach's alpha,
Lin's CCC) graduating to driver-verified queries, plus this round's
fresh registrations as they land.

Every query wraps an operator that staged with unit tests and a
pre-validated cross-engine oracle text (tests/test_r14_stage3.py);
oracle SQL is the test file's registration-ready text with
``read_parquet`` refs swapped for the driver's pre-registered view
names. Spark derivations mirror the parity tests verbatim, so the
driver's hash check re-verifies exactly what the tests pinned at
sf0.001.

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
)
from kafka_streams_aggregate_spark.sources.tables import load_table, stage_files

# The TVD cut timestamp (2024-01-16 UTC) — shared with q_source_token_tvd
# and the CUPED pre/post split; events.ts is a true TIMESTAMP so
# unix_micros/epoch_us agree exactly (CLAUDE.md epoch rule).
_CUT_US = 1705363200000000

# --------------------------------------------------------------------------
# ML evaluation / reliability (operators/ml_eval.py; tests/test_r14_stage3.py)
# --------------------------------------------------------------------------


@register(
    "q_cronbach_alpha",
    oracle="""
    WITH base AS (
        SELECT user_id % 4 AS g, user_id AS u, event_type AS item,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events
        GROUP BY 1, 2, 3
    ),
    k_per AS (SELECT g, CAST(COUNT(DISTINCT item) AS BIGINT) AS k
              FROM base GROUP BY g),
    gate AS (
        SELECT b.g, b.u,
               COUNT(*) = MAX(k) AND COUNT(DISTINCT item) = MAX(k) AS ok
        FROM base b JOIN k_per ON k_per.g = b.g
        GROUP BY b.g, b.u
    ),
    gated AS (
        SELECT base.* FROM base
        JOIN gate ON gate.g = base.g AND gate.u = base.u
        WHERE gate.ok
    ),
    per_item AS (
        SELECT g, item, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM gated GROUP BY g, item
    ),
    item_vn AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n_units,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(n AS HUGEINT) * q
                   - CAST(s AS HUGEINT) * s) AS vn_items
        FROM per_item GROUP BY g
    ),
    totals AS (
        SELECT g,
               CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
               - CAST(SUM(t) AS HUGEINT) * SUM(t) AS vn_total
        FROM (SELECT g, u, CAST(SUM(v) AS BIGINT) AS t
              FROM gated GROUP BY g, u)
        GROUP BY g
    ),
    dropped AS (
        SELECT g, CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_units_dropped
        FROM gate GROUP BY g
    )
    SELECT d.g AS group_key, n_units, k,
           CASE WHEN k >= 2 AND vn_total > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * k
                      * (vn_total - vn_items))
                     // ((k - 1) * vn_total) AS BIGINT) END AS alpha_ppm,
           n_units_dropped
    FROM dropped d
    LEFT JOIN item_vn i ON i.g = d.g
    LEFT JOIN totals t ON t.g = d.g
    """,
    doc=(
        "Cronbach's alpha per user cohort (units = users, items = "
        "event types, v = spend cents): internal-consistency "
        "reliability as ONE exact integer rational — population-"
        "variance numerators n*Q - S^2 computed AND cancelled on "
        "DECIMAL(38,0)/HUGEINT (the round-13 wide-int-cast rule), "
        "alpha_ppm floored once. Friedman-style complete-unit gate "
        "with dropped units reported. Scale: two groupBy passes over "
        "the (group, unit, item) rollup — group cardinality rows "
        "only, no window over raw events. tests/test_r14_stage3.py."
    ),
    tags=("ml-eval", "reliability", "exact-integer"),
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import cronbach_alpha

    base = (
        load_table(spark, "events", sf_dir)
        .groupBy(
            (F.col("user_id") % 4).alias("g"),
            F.col("user_id").alias("u"),
            F.col("event_type").alias("item"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    return cronbach_alpha(base, "g", "u", "item", "v")


@register(
    "q_lin_ccc",
    oracle=f"""
    WITH u AS (
        SELECT user_id % 4 AS g,
               CAST(SUM(CASE WHEN epoch_us(ts) < {_CUT_US}
                    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN epoch_us(ts) >= {_CUT_US}
                    THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events
        GROUP BY user_id
    ),
    m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM u GROUP BY g
    )
    SELECT g AS group_key, n,
           CASE WHEN (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                      + CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                      + (CAST(sx AS HUGEINT) - sy)
                        * (CAST(sx AS HUGEINT) - sy)) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * 2
                      * (CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy))
                     // (CAST(n AS HUGEINT) * sxx
                         - CAST(sx AS HUGEINT) * sx
                         + CAST(n AS HUGEINT) * syy
                         - CAST(sy AS HUGEINT) * sy
                         + (CAST(sx AS HUGEINT) - sy)
                           * (CAST(sx AS HUGEINT) - sy)) AS BIGINT) END
               AS ccc_ppm
    FROM m
    """,
    doc=(
        "Lin's concordance correlation per cohort over pre/post-cut "
        "spend (the CUPED input shape): the method-AGREEMENT "
        "statistic Pearson r cannot be — CCC penalizes constant bias "
        "(y = x + 5 gives 666666 ppm where Pearson says 1.0). "
        "Multiplying through by n^2 makes CCC one integer rational "
        "over raw moments, cancelled on DECIMAL(38,0)/HUGEINT and "
        "floored once. Scale: one groupBy over events, one over "
        "users — no shuffle wider than user cardinality. "
        "tests/test_r14_stage3.py."
    ),
    tags=("ml-eval", "agreement", "exact-integer"),
)
def q_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import lin_ccc

    u = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN unix_micros(ts) < {_CUT_US}"
                " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"CAST(SUM(CASE WHEN unix_micros(ts) >= {_CUT_US}"
                " THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)"
                " AS BIGINT)"
            ).alias("y"),
        )
        .select((F.col("user_id") % 4).alias("g"), "x", "y")
    )
    return lin_ccc(u, "g", "x", "y")


# --------------------------------------------------------------------------
# Engine-row graduations (the bloom r11 / AQE r12 / scan-split r13
# precedent): test-pinned engine features become driver-hashed queries
# whose DATA is the assertion.
# --------------------------------------------------------------------------


@register(
    "q_rocksdb_changelog_restore",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS changelog_written
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "RocksDB changelog checkpointing, query-backed (graduating "
        "tests/test_scale_features.py:"
        "test_rocksdb_changelog_checkpointing_recovers): a streaming "
        "count+sum fold over events runs in TWO availableNow drains "
        "from the SAME checkpoint — half the rows, stop, append the "
        "other half, restart — under the RocksDB provider with "
        "changelogCheckpointing enabled (the production setting that "
        "makes commit cost O(batch changes), not O(state size), and "
        "the restart path every long-lived 100 TB streaming job "
        "exercises). The result is the FINAL STATE read back via the "
        "``statestore`` batch source (internal buffer field names "
        "count/sum, the r8 gotcha): if restart ever reset or "
        "half-recovered state, per-type counts cover only the second "
        "drain and the driver row goes red on DATA vs the oracle's "
        "whole-table aggregate. changelog_written pins that per-batch "
        ".changelog deltas actually appeared in the checkpoint. "
        "Conf restored; temp dirs removed after an eager "
        "localCheckpoint."
    ),
    tags=("streaming", "state-store", "engine-surface", "fault-tolerance"),
)
def q_rocksdb_changelog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    with drain_workdir(spark) as work:
        src, ckpt = f"{work}/src", f"{work}/ckpt"
        base = load_table(spark, "events", sf_dir).select(
            "event_id",
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )

        def drain():
            q = (
                spark.readStream.schema(
                    "event_id BIGINT, event_type STRING, cents BIGINT"
                )
                .parquet(src)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("cents").alias("s"),
                )
                .writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_drained(q, 300)

        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            base.where("event_id % 2 = 0").write.parquet(src)
            drain()
            changelogs = bool(
                glob.glob(ckpt + "/state/**/*.changelog", recursive=True)
            )
            base.where("event_id % 2 = 1").write.mode("append").parquet(src)
            drain()
            state = spark.read.format("statestore").load(ckpt)
            return (
                state.select(
                    F.col("key.event_type").alias("event_type"),
                    F.col("value.count").cast("bigint").alias("n_events"),
                    F.col("value.sum").cast("bigint").alias("sum_cents"),
                )
                .withColumn("changelog_written", F.lit(changelogs))
                .localCheckpoint(eager=True)
            )
        finally:
            for k, v in old.items():
                (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


@register(
    "q_cbo_stats_selectivity",
    oracle="""
    WITH b AS (
        SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4
               AS cut
        FROM orders
    ),
    eq AS (
        SELECT 'priority_eq' AS predicate,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    rng AS (
        SELECT 'orderkey_range' AS predicate,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders, b WHERE o_orderkey < b.cut
    )
    SELECT predicate, n_rows, sum_cents,
           TRUE AS est_present, TRUE AS est_within_2x
    FROM eq
    UNION ALL
    SELECT predicate, n_rows, sum_cents,
           TRUE AS est_present, TRUE AS est_within_2x
    FROM rng
    """,
    doc=(
        "CBO/ANALYZE selectivity, query-backed (graduating "
        "tests/test_scale_features.py:"
        "test_cbo_statistics_drive_selectivity_estimates): orders is "
        "materialized as a catalog table, ANALYZE ... FOR ALL "
        "COLUMNS collects ndv/min/max, and with spark.sql.cbo.enabled "
        "the optimizer's Filter rowCount estimates become available — "
        "the statistics machinery that drives join reordering and "
        "broadcast decisions on a 1000-executor plan. Two predicate "
        "shapes: equality on o_orderpriority (estimate = total/ndv) "
        "and a range on o_orderkey at the 25% point (estimate from "
        "min/max interpolation; the cut is exact integer math both "
        "engines). The compared DATA is each predicate's actual "
        "count + cents sum computed THROUGH the analyzed table "
        "(probed within-2x at sf0.001/0.01/0.1: eq 300/273, range "
        "375/374 at sf0.001); est_present pins that ANALYZE stats "
        "actually produced a rowCount, est_within_2x pins estimate "
        "quality. Conf and catalog restored; temp dir removed after "
        "an eager localCheckpoint."
    ),
    tags=("scale", "cbo", "engine-surface", "statistics"),
)
def q_cbo_stats_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_cbo_")
    tbl = "t_ksa_cbo_r14"
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, "orders", sf_dir)
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .write.option("path", f"{work}/t")
            .saveAsTable(tbl)
        )
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        t = spark.table(tbl)
        mn, mx = t.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
        cut = mn + (mx - mn) // 4

        def one(label: str, pred: str) -> DataFrame:
            filt = t.where(pred)
            st = filt._jdf.queryExecution().optimizedPlan().stats()
            rc = st.rowCount()
            est = int(str(rc.get())) if rc.isDefined() else None
            agg = filt.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            [row] = agg.collect()
            act = row["n_rows"]
            within = (
                est is not None
                and act > 0
                and est <= 2 * act
                and act <= 2 * est
            )
            return spark.createDataFrame(
                [(label, act, row["sum_cents"], est is not None, within)],
                "predicate STRING, n_rows BIGINT, sum_cents BIGINT,"
                " est_present BOOLEAN, est_within_2x BOOLEAN",
            )

        result = (
            one("priority_eq", "o_orderpriority = '1-URGENT'")
            .unionAll(one("orderkey_range", f"o_orderkey < {cut}"))
            .localCheckpoint(eager=True)
        )
        return result
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# Fresh round-14 queue, batch 1: nonparametric / association statistics
# (operators/stats.py; tests/test_r14_fresh_stats.py)
# --------------------------------------------------------------------------


@register(
    "q_ordinal_assoc",
    oracle="""
    WITH xy AS (
        SELECT l_returnflag AS g,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ),
    cells AS (
        SELECT g, x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM xy GROUP BY g, x, y
    ),
    pair_mass AS (
        SELECT a.g,
               CAST(COALESCE(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                    THEN a.c * b.c ELSE 0 END), 0) AS BIGINT)
                   AS n_concordant,
               CAST(COALESCE(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                    THEN a.c * b.c ELSE 0 END), 0) AS BIGINT)
                   AS n_discordant
        FROM cells a JOIN cells b
          ON a.g = b.g AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        GROUP BY a.g
    ),
    xm AS (
        SELECT g, CAST(SUM(tx * (tx - 1) // 2) AS BIGINT) AS txp,
               CAST(COUNT(*) AS BIGINT) AS mx
        FROM (SELECT g, x, CAST(SUM(c) AS BIGINT) AS tx
              FROM cells GROUP BY g, x)
        GROUP BY g
    ),
    ym AS (
        SELECT g, CAST(SUM(ty * (ty - 1) // 2) AS BIGINT) AS typ,
               CAST(COUNT(*) AS BIGINT) AS my
        FROM (SELECT g, y, CAST(SUM(c) AS BIGINT) AS ty
              FROM cells GROUP BY g, y)
        GROUP BY g
    ),
    tot AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS txy
        FROM cells GROUP BY g
    )
    SELECT tot.g AS group_key, n,
           COALESCE(n_concordant, 0) AS n_concordant,
           COALESCE(n_discordant, 0) AS n_discordant,
           CASE WHEN COALESCE(n_concordant, 0)
                     + COALESCE(n_discordant, 0) > 0 THEN
                CAST((1000000 * (COALESCE(n_concordant, 0)
                      - COALESCE(n_discordant, 0)))
                     // (COALESCE(n_concordant, 0)
                         + COALESCE(n_discordant, 0)) AS BIGINT) END
               AS gamma_ppm,
           CASE WHEN COALESCE(n_concordant, 0) + COALESCE(n_discordant, 0)
                     + (typ - txy) > 0 THEN
                CAST((1000000 * (COALESCE(n_concordant, 0)
                      - COALESCE(n_discordant, 0)))
                     // (COALESCE(n_concordant, 0)
                         + COALESCE(n_discordant, 0)
                         + (typ - txy)) AS BIGINT) END
               AS somers_d_yx_ppm,
           CASE WHEN LEAST(mx, my) >= 2 THEN
                CAST((CAST(1000000 AS HUGEINT) * 2 * LEAST(mx, my)
                      * (COALESCE(n_concordant, 0)
                         - COALESCE(n_discordant, 0)))
                     // (CAST(n AS HUGEINT) * n * (LEAST(mx, my) - 1))
                     AS BIGINT) END
               AS tau_c_ppm
    FROM tot
    LEFT JOIN pair_mass ON pair_mass.g = tot.g
    JOIN xm ON xm.g = tot.g
    JOIN ym ON ym.g = tot.g
    """,
    doc=(
        "Ordinal-association family per returnflag (x = quantity, y = "
        "discount cents): gamma, Somers' D y|x, and Stuart's tau-c "
        "from ONE concordance core — the kendall_tau_b support-grid "
        "cell-pair machinery (cells^2 per group, never row pairs; "
        "cost is the bucketing knob at 100 TB). Three tie policies, "
        "each one exact integer rational in ppm. "
        "tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "nonparametric", "association", "exact-integer"),
)
def q_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        ordinal_association,
    )

    xy = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").alias("y"),
    )
    return ordinal_association(xy, "g", "x", "y")


@register(
    "q_quade_test",
    oracle="""
    WITH base AS (
        SELECT CAST(n.n_regionkey AS BIGINT) AS g,
               CAST(c.c_nationkey AS BIGINT) AS blk,
               CAST(year(o.o_orderdate) AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2, 3
    ),
    k_per AS (SELECT g, CAST(COUNT(DISTINCT t) AS BIGINT) AS k
              FROM base GROUP BY g),
    blk_gate AS (
        SELECT b.g, b.blk,
               COUNT(*) = MAX(k) AND COUNT(DISTINCT t) = MAX(k) AS ok
        FROM base b JOIN k_per ON k_per.g = b.g
        GROUP BY b.g, b.blk
    ),
    gated AS (
        SELECT base.* FROM base
        JOIN blk_gate ON blk_gate.g = base.g AND blk_gate.blk = base.blk
        WHERE blk_gate.ok
    ),
    cells AS (
        SELECT g, blk, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM gated GROUP BY g, blk, v
    ),
    ranked AS (
        SELECT g, blk, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g, blk ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    ranges AS (
        SELECT g, blk, CAST(MAX(v) - MIN(v) AS BIGINT) AS rng
        FROM gated GROUP BY g, blk
    ),
    rng_cells AS (
        SELECT g, rng, CAST(COUNT(*) AS BIGINT) AS rc
        FROM ranges GROUP BY g, rng
    ),
    rng_ranked AS (
        SELECT g, rng,
               CAST(2 * (SUM(rc) OVER (PARTITION BY g ORDER BY rng
                    ROWS UNBOUNDED PRECEDING) - rc) + rc + 1 AS BIGINT)
                   AS q2
        FROM rng_cells
    ),
    blk_q AS (
        SELECT r.g, r.blk, q2
        FROM ranges r JOIN rng_ranked rr
          ON rr.g = r.g AND rr.rng = r.rng
    ),
    scored AS (
        SELECT x.g, x.blk, x.t,
               CAST(q.q2 * (r.r2 - (k.k + 1)) AS BIGINT) AS s
        FROM gated x
        JOIN ranked r ON r.g = x.g AND r.blk = x.blk AND r.v = x.v
        JOIN blk_q q ON q.g = x.g AND q.blk = x.blk
        JOIN k_per k ON k.g = x.g
    ),
    per_treat AS (
        SELECT g, t, CAST(SUM(s) AS BIGINT) AS st
        FROM scored GROUP BY g, t
    ),
    agg AS (
        SELECT s.g, b, a2, bnum2, k
        FROM (SELECT g, CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
                     CAST(SUM(CAST(s AS HUGEINT) * s) AS BIGINT) AS a2
              FROM scored GROUP BY g) s
        JOIN (SELECT g,
                     CAST(SUM(CAST(st AS HUGEINT) * st) AS BIGINT)
                         AS bnum2,
                     CAST(COUNT(*) AS BIGINT) AS k
              FROM per_treat GROUP BY g) p
          ON p.g = s.g
    ),
    dropped AS (
        SELECT g, CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_blocks_dropped
        FROM blk_gate GROUP BY g
    )
    SELECT d.g AS group_key, b, k, a2, bnum2,
           CASE WHEN b * a2 - bnum2 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (b - 1) * bnum2)
                     // (b * a2 - bnum2) AS BIGINT) END AS quade_ppm,
           n_blocks_dropped
    FROM dropped d LEFT JOIN agg ON agg.g = d.g
    """,
    doc=(
        "Quade test per region (nation blocks, year treatments, "
        "revenue cents): the range-WEIGHTED Friedman — blocks ranked "
        "by spread multiply their centered within-block ranks, all in "
        "doubled-midrank space; cross-multiplying removes 1/b so the "
        "statistic is one integer rational. Complete-block gate with "
        "the left-join drop contract (this round's convention). "
        "tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "nonparametric", "blocked", "exact-integer"),
)
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import quade_test

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    base = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy(
            F.col("n_regionkey").cast("bigint").alias("g"),
            F.col("c_nationkey").cast("bigint").alias("blk"),
            F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("t"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    return quade_test(base, "g", "blk", "t", "v")


@register(
    "q_cochran_armitage",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(year(o_orderdate) - 1992 AS BIGINT) AS s,
               o_orderstatus = 'F' AS ok
        FROM orders
    ),
    lev AS (
        SELECT g, s, CAST(COUNT(*) AS BIGINT) AS ni,
               CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS ai
        FROM base GROUP BY g, s
    ),
    agg AS (
        SELECT g, CAST(SUM(ni) AS BIGINT) AS n,
               CAST(SUM(ai) AS BIGINT) AS a,
               CAST(COUNT(*) AS BIGINT) AS n_levels,
               CAST(SUM(s * ai) AS BIGINT) AS ssa,
               CAST(SUM(s * ni) AS BIGINT) AS ssn,
               CAST(SUM(s * s * ni) AS BIGINT) AS ss2n
        FROM lev GROUP BY g
    )
    SELECT g AS group_key, n, a AS n_success, n_levels,
           CASE WHEN CAST(a AS HUGEINT) * (n - a)
                     * (CAST(n AS HUGEINT) * ss2n
                        - CAST(ssn AS HUGEINT) * ssn) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * n
                      * (CAST(n AS HUGEINT) * ssa
                         - CAST(a AS HUGEINT) * ssn)
                      * (CAST(n AS HUGEINT) * ssa
                         - CAST(a AS HUGEINT) * ssn))
                     // (CAST(a AS HUGEINT) * (n - a)
                         * (CAST(n AS HUGEINT) * ss2n
                            - CAST(ssn AS HUGEINT) * ssn))
                     AS BIGINT) END AS z2_ppm
    FROM agg
    """,
    doc=(
        "Cochran-Armitage trend per priority class: is the "
        "fulfilled-status rate monotone in order year? The 2xk "
        "proportion-trend chi-square (df=1) as one exact integer "
        "rational — numerator and denominator cross-products computed "
        "AND cancelled on DECIMAL(38,0)/HUGEINT (the round-13 "
        "wide-int rule; the squared term passes int64 at sf0.1). "
        "tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "trend", "proportions", "exact-integer"),
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        cochran_armitage_trend,
    )

    base = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("g"),
        F.expr("CAST(year(o_orderdate) - 1992 AS BIGINT)").alias("s"),
        F.expr("o_orderstatus = 'F'").alias("ok"),
    )
    return cochran_armitage_trend(base, "g", "s", "ok")


@register(
    "q_mantel_haenszel",
    oracle="""
    WITH rows_ AS (
        SELECT CAST(n.n_regionkey AS BIGINT) AS g,
               CAST(year(o.o_orderdate) AS BIGINT) AS stratum,
               o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
               o.o_orderstatus = 'F' AS o
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cells AS (
        SELECT g, stratum,
               CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
               CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM rows_ GROUP BY g, stratum
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM((1000000 * a * d) // (a + b + c + d)) AS BIGINT)
                   AS num_scaled,
               CAST(SUM((1000000 * b * c) // (a + b + c + d)) AS BIGINT)
                   AS den_scaled
        FROM cells GROUP BY g
    )
    SELECT g AS group_key, n_strata, num_scaled, den_scaled,
           CASE WHEN den_scaled > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * num_scaled)
                     // den_scaled AS BIGINT) END AS mh_or_ppm
    FROM agg
    """,
    doc=(
        "Mantel-Haenszel pooled odds ratio per customer region "
        "(exposure = high priority, outcome = fulfilled, strata = "
        "order years): the Simpson-proof stratified 2x2 estimator in "
        "this repo's documented scaled-integer layout (one 1e6 floor "
        "per stratum term). Compare with q_assoc_2x2's crude OR per "
        "group — the pair is the confounding audit. "
        "tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "stratified", "epidemiology", "exact-integer"),
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        mantel_haenszel_or,
    )

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rows = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .select(
            F.col("n_regionkey").cast("bigint").alias("g"),
            F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("stratum"),
            F.expr("o_orderpriority IN ('1-URGENT', '2-HIGH')").alias("e"),
            F.expr("o_orderstatus = 'F'").alias("o"),
        )
    )
    return mantel_haenszel_or(rows, "g", "stratum", "e", "o")


@register(
    "q_assoc_2x2",
    oracle="""
    WITH rows_ AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) > 15000000 AS o
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    agg AS (
        SELECT g,
               CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
               CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM rows_ GROUP BY g
    )
    SELECT g AS group_key, a, b, c, d,
           CASE WHEN b * c > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * a * d)
                     // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_ppm,
           CASE WHEN c * (a + b) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * a * (c + d))
                     // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT) END
               AS rr_ppm,
           CASE WHEN a * d + b * c > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (a * d - b * c))
                     // (CAST(a AS HUGEINT) * d + CAST(b AS HUGEINT) * c)
                     AS BIGINT) END AS yule_q_ppm
    FROM agg
    """,
    doc=(
        "Crude 2x2 association per customer nation (exposure = high "
        "priority, outcome = order value over 150k): odds ratio, "
        "relative risk, Yule's Q — each one exact integer rational in "
        "ppm from one groupBy. The un-stratified companion of "
        "q_mantel_haenszel. tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "association", "exact-integer"),
)
def q_assoc_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import assoc_2x2

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    rows = orders.join(cust, cust.c_custkey == orders.o_custkey).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.expr("o_orderpriority IN ('1-URGENT', '2-HIGH')").alias("e"),
        F.expr(
            "CAST(floor(o_totalprice * 100) AS BIGINT) > 15000000"
        ).alias("o"),
    )
    return assoc_2x2(rows, "g", "e", "o")


@register(
    "q_pettitt_test",
    oracle="""
    WITH base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    cells AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY g, v
    ),
    ranked AS (
        SELECT g, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    nrow AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g),
    pref AS (
        SELECT b.g, b.t, n.n,
               CAST(SUM(r.r2 - (n.n + 1)) OVER (PARTITION BY b.g
                    ORDER BY b.t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS u2,
               CAST(row_number() OVER (PARTITION BY b.g ORDER BY b.t)
                    AS BIGINT) AS pos
        FROM base b
        JOIN ranked r ON r.g = b.g AND r.v = b.v
        JOIN nrow n ON n.g = b.g
    ),
    best AS (
        SELECT g, t AS t_at_max, u2 AS u2_at_max,
               CAST(abs(u2) AS BIGINT) AS k2,
               row_number() OVER (PARTITION BY g
                   ORDER BY abs(u2) DESC, t ASC) AS rk
        FROM pref WHERE pos < n
    )
    SELECT nrow.g AS group_key, nrow.n, t_at_max, u2_at_max, k2,
           CASE WHEN nrow.n >= 2 THEN
                CAST((1000000 * k2) // (nrow.n * (nrow.n - 1)) AS BIGINT)
           END AS k2_ppm
    FROM nrow LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
      ON b.g = nrow.g
    """,
    doc=(
        "Pettitt change-point test over each nation's monthly revenue "
        "series: the O(n^2) rank double-sum collapses to ONE prefix "
        "sum via the doubled-midrank identity sum_j sgn(x_i - x_j) = "
        "r2_i - (n+1); K = max |U| with the earliest-t argmax as the "
        "located change point. Month index is the epoch-free "
        "year*12+month arithmetic (tz-proof). "
        "tests/test_r14_fresh_stats.py."
    ),
    tags=("stats", "changepoint", "nonparametric", "exact-integer"),
)
def q_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import pettitt_test

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    base = (
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
    return pettitt_test(base, "g", "t", "v")


# --------------------------------------------------------------------------
# Fresh batch 2: time-series momentum / risk (operators/stats.py;
# tests/test_r14_fresh_ts.py)
# --------------------------------------------------------------------------

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


@register(
    "q_rsi_sma",
    oracle=(
        "    WITH "
        + _MONTHLY_SQL
        + """,
    d AS (
        SELECT g, t,
               v - lag(v) OVER (PARTITION BY g ORDER BY t) AS diff,
               t - lag(t) OVER (PARTITION BY g ORDER BY t) = 1 AS step_ok
        FROM base
        QUALIFY diff IS NOT NULL
    ),
    framed AS (
        SELECT g, t,
               CAST(SUM(CASE WHEN diff > 0 THEN diff ELSE 0 END)
                    OVER w AS BIGINT) AS sum_gain,
               CAST(SUM(CASE WHEN diff < 0 THEN -diff ELSE 0 END)
                    OVER w AS BIGINT) AS sum_loss,
               COUNT(*) OVER w AS cnt,
               SUM(CASE WHEN step_ok THEN 0 ELSE 1 END) OVER w AS gaps,
               MAX(t) OVER w - MIN(t) OVER w AS span
        FROM d
        WINDOW w AS (PARTITION BY g ORDER BY t
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT g AS group_key, t, sum_gain, sum_loss,
           CASE WHEN sum_gain + sum_loss > 0 THEN
                CAST((1000000 * sum_gain) // (sum_gain + sum_loss)
                     AS BIGINT) END AS rsi_ppm
    FROM framed
    WHERE cnt = 14 AND gaps = 0 AND span = 13
"""
    ),
    doc=(
        "RSI (SMA variant, period 14) over each nation's monthly "
        "revenue: the momentum oscillator as ONE exact integer "
        "rational over trailing first differences — Wilder smoothing "
        "is an unbounded-state recursive fold, the SMA definition is "
        "the standard equal-weight alternative. Triple gap guard "
        "(per-diff step, window count, window span — the round-13 "
        "contiguity rule strengthened to the diff level). "
        "tests/test_r14_fresh_ts.py."
    ),
    tags=("timeseries", "momentum", "window", "exact-integer"),
)
def q_rsi_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import rsi_sma

    return rsi_sma(_monthly_revenue(spark, sf_dir), "g", "t", "v", period=14)


@register(
    "q_max_drawdown",
    oracle=(
        "    WITH "
        + _MONTHLY_SQL
        + """,
    dd AS (
        SELECT g, t,
               CAST(MAX(v) OVER w AS BIGINT) AS peak,
               CAST(MAX(v) OVER w - v AS BIGINT) AS dd
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best AS (
        SELECT g, t, peak, dd,
               row_number() OVER (PARTITION BY g
                   ORDER BY dd DESC, t ASC) AS rk
        FROM dd
    ),
    nrow AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g)
    SELECT nrow.g AS group_key, n,
           dd AS max_drawdown, t AS t_at_max, peak AS peak_at_trough,
           CASE WHEN peak > 0 THEN
                CAST((1000000 * dd) // peak AS BIGINT) END AS dd_ppm
    FROM nrow JOIN best ON best.g = nrow.g AND best.rk = 1
"""
    ),
    doc=(
        "Maximum drawdown of each nation's monthly revenue series: "
        "peak-to-trough via ONE running-max window (no fold — the "
        "running max is the whole state), earliest-t argmax, exact "
        "cents and ppm. tests/test_r14_fresh_ts.py."
    ),
    tags=("timeseries", "risk", "window", "exact-integer"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import max_drawdown

    return max_drawdown(_monthly_revenue(spark, sf_dir), "g", "t", "v")


# --------------------------------------------------------------------------
# Fresh batch 3: LLM-data quality / mixture (operators/text.py,
# operators/llm_prep.py; tests/test_r14_fresh_llm.py)
# --------------------------------------------------------------------------


@register(
    "q_lm_quality_proxy",
    oracle="""
    WITH occ AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS token
        FROM documents
    ),
    counts AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM occ GROUP BY token
    ),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_corpus FROM counts),
    vocab AS (
        SELECT token FROM counts
        QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 1000
    ),
    per_doc AS (
        SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(c.cnt) AS BIGINT) AS sum_cnt,
               CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS in_top
        FROM occ o
        JOIN counts c ON c.token = o.token
        LEFT JOIN vocab v ON v.token = o.token
        WHERE o.doc_id % 10 = 0
        GROUP BY o.doc_id
    )
    SELECT doc_id, n_tokens, sum_cnt,
           CAST((CAST(1000000000 AS HUGEINT) * sum_cnt)
                // (CAST(n_tokens AS HUGEINT) * n_corpus) AS BIGINT)
               AS mean_prob_ppb,
           CAST((1000000 * in_top) // n_tokens AS BIGINT)
               AS top_coverage_ppm
    FROM per_doc, total
    """,
    doc=(
        "Unigram LM quality proxy per sampled document: mean corpus "
        "unigram probability (ppb) + top-1k vocabulary coverage — the "
        "transcendental-free perplexity stand-in (perplexity's "
        "geometric mean needs logs; the arithmetic mean ranks the "
        "gibberish/boilerplate tails the same way). Bounded broadcast "
        "vocab, one corpus count aggregate, doc_id % 10 output "
        "sample. tests/test_r14_fresh_llm.py."
    ),
    tags=("llm-data", "quality", "text", "exact-integer"),
)
def q_lm_quality_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import lm_quality_proxy

    return lm_quality_proxy(
        load_table(spark, "documents", sf_dir), top_k=1000, sample_mod=10
    )


@register(
    "q_bigram_coherence",
    oracle="""
    WITH bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1,
                    greatest(len(string_split(text, ' ')) - 1, 0) + 1),
                    i -> array_to_string(list_slice(string_split(text, ' '),
                    CAST(i AS INT), CAST(i + 1 AS INT)), ' '))) AS bigram
        FROM documents
    ),
    counts AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bg GROUP BY bigram
    )
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c.cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
           CAST((1000000 * SUM(CASE WHEN c.cnt >= 3 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS coherence_ppm
    FROM bg b JOIN counts c ON c.bigram = b.bigram
    WHERE b.doc_id % 10 = 0
    GROUP BY b.doc_id
    """,
    doc=(
        "Bigram coherence per sampled document: fraction of adjacent "
        "token pairs the corpus repeats (count >= 3) — the fluency "
        "proxy that catches shuffled/templated text whose unigrams "
        "look fine. Bigrams from the repo's codegen slice-zip "
        "expression; one corpus bigram aggregate joined back on the "
        "equi-key. tests/test_r14_fresh_llm.py."
    ),
    tags=("llm-data", "quality", "text", "exact-integer"),
)
def q_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import bigram_coherence

    return bigram_coherence(
        load_table(spark, "documents", sf_dir), min_count=3, sample_mod=10
    )


@register(
    "q_mixture_temperature",
    oracle="""
    WITH toks AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    pop AS (
        SELECT source, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                   AS w_temp
        FROM toks
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS nt,
               CAST(SUM(w_temp) AS BIGINT) AS w
        FROM pop
    ),
    staged AS (
        SELECT source, n_tokens, w_temp,
               CASE WHEN nt > 0 THEN
                    CAST((1000000 * n_tokens) // nt AS BIGINT) END
                   AS nat_share_ppm,
               CASE WHEN w > 0 THEN
                    CAST((1000000 * w_temp) // w AS BIGINT) END
                   AS temp_share_ppm,
               CASE WHEN w > 0 THEN
                    CAST((100000 * w_temp) // w AS BIGINT) END AS base,
               CASE WHEN w > 0 THEN
                    CAST((100000 * w_temp) % w AS BIGINT) END AS rem
        FROM pop, tot
    )
    SELECT source, n_tokens, w_temp, nat_share_ppm, temp_share_ppm,
           CAST(base + CASE WHEN row_number() OVER
                    (ORDER BY rem DESC, source)
                <= 100000 - SUM(base) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM staged
    """,
    doc=(
        "T=2 temperature-scaled mixture over sources: weights = "
        "floor(sqrt(tokens)) — the sqrt sampling schedule multilingual "
        "pretraining publishes, kept parity-safe because the IEEE "
        "sqrt lands straight back in integer space — then the exact "
        "Hamilton allocation of a 100k-token budget, with natural vs "
        "temperature share ppms making the flattening "
        "self-documenting. tests/test_r14_fresh_llm.py."
    ),
    tags=("llm-data", "mixture", "exact-integer"),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        mixture_temperature,
    )

    return mixture_temperature(
        load_table(spark, "documents", sf_dir), token_budget=100_000
    )


@register(
    "q_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS w,
               CAST(len(regexp_extract_all(text,
                    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS st,
               CAST(length(text) AS BIGINT) AS ch,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('der','die','das','und','ist')))
                    AS INTEGER) AS score_de,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','and','of','to')))
                    AS INTEGER) AS score_en,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('el','la','los','y','de')))
                    AS INTEGER) AS score_es,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('le','la','et','les','des')))
                    AS INTEGER) AS score_fr
        FROM documents
    ),
    tagged AS (
        SELECT source, w, st, ch,
               CASE WHEN greatest(score_de, score_en, score_es, score_fr)
                         = 0 THEN 'und'
                    WHEN score_de = greatest(score_de, score_en,
                         score_es, score_fr) THEN 'de'
                    WHEN score_en = greatest(score_de, score_en,
                         score_es, score_fr) THEN 'en'
                    WHEN score_es = greatest(score_de, score_en,
                         score_es, score_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM per_doc
    )
    SELECT source, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(st) AS BIGINT) AS n_subtokens,
           CASE WHEN SUM(w) > 0 THEN
                CAST((1000000 * SUM(st)) // SUM(w) AS BIGINT) END
               AS fertility_ppm,
           CASE WHEN SUM(st) > 0 THEN
                CAST((1000000 * SUM(ch)) // SUM(st) AS BIGINT) END
               AS chars_per_subtoken_ppm
    FROM tagged GROUP BY source, pred_lang
    """,
    doc=(
        "Tokenizer fertility by (source, detected language): "
        "subtokens per whitespace word and chars per subtoken — the "
        "multilingual-tokenizer fairness audit (a tokenizer that "
        "fragments one language 2x more halves its effective context "
        "window). BPE-ish regex pre-tokenizer split + the repo's "
        "stopword lang_id, one projection + one groupBy. "
        "tests/test_r14_fresh_llm.py."
    ),
    tags=("llm-data", "tokenize", "text", "exact-integer"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import (
        tokenizer_fertility,
    )

    return tokenizer_fertility(load_table(spark, "documents", sf_dir))


# --------------------------------------------------------------------------
# Fresh batch 4: similarity / sampling (operators/similarity.py,
# operators/sampling.py; tests/test_r14_fresh_de.py)
# --------------------------------------------------------------------------


@register(
    "q_kmeans_int8_step",
    oracle="""
    WITH sc AS (
        SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                    x -> abs(x))) AS s
        FROM embeddings
    ),
    nrm AS (
        SELECT vid,
               list_transform(e, x -> CAST(floor(127 * x / s) AS BIGINT))
                   AS c8,
               CAST(list_sum(list_transform(
                    list_transform(e, x -> CAST(floor(127 * x / s)
                        AS BIGINT)), x -> x * x)) AS BIGINT) AS n8
        FROM sc WHERE s > 0
    ),
    cent AS (
        SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vid AS VARCHAR)),
                    vid) - 1 AS BIGINT) AS centroid_id,
               vid AS seed_vid, c8 AS cc8, n8 AS cn8
        FROM nrm
        QUALIFY row_number() OVER (ORDER BY md5(CAST(vid AS VARCHAR)),
                vid) <= 8
    ),
    pairs AS (
        SELECT v.vid, c.centroid_id, c.seed_vid,
               CAST(v.n8 + c.cn8
                    - 2 * list_dot_product(v.c8, c.cc8) AS BIGINT)
                   AS dist,
               v.c8[1] AS d0
        FROM nrm v CROSS JOIN cent c
    ),
    assigned AS (
        SELECT * FROM pairs
        QUALIFY row_number() OVER (PARTITION BY vid
                ORDER BY dist ASC, centroid_id ASC) = 1
    )
    SELECT centroid_id, seed_vid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(dist) AS BIGINT) AS sse,
           CAST(SUM(d0) AS BIGINT) AS sum_d0
    FROM assigned GROUP BY centroid_id, seed_vid
    """,
    doc=(
        "One exact Lloyd (k-means) step in int8 code space, k=8 "
        "md5-ranked seeds: assignment via the integer norm identity "
        "||x-c||^2 = n_x + n_c - 2 dot, smallest-id tie-break, and "
        "the per-centroid update evidence (count, exact SSE, dim-0 "
        "mean numerator) — the IVF-cell-training primitive with a "
        "cell-exact oracle. k is a broadcast; codes stream once. "
        "tests/test_r14_fresh_de.py."
    ),
    tags=("similarity", "clustering", "quantization", "exact-integer"),
)
def q_kmeans_int8_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.similarity import (
        kmeans_int8_step,
    )

    return kmeans_int8_step(load_table(spark, "embeddings", sf_dir), k=8)


@register(
    "q_neyman_allocation",
    oracle="""
    WITH per AS (
        SELECT c_mktsegment AS stratum, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS s,
               SUM(CAST(CAST(floor(c_acctbal * 100) AS BIGINT) AS HUGEINT)
                   * CAST(floor(c_acctbal * 100) AS BIGINT)) AS q
        FROM customer GROUP BY 1
    ),
    sc AS (
        SELECT stratum, n,
               CAST((CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
                    // 1073741824 AS BIGINT) AS vn_scaled
        FROM per
    ),
    wn AS (
        SELECT stratum, n, vn_scaled,
               CAST(floor(sqrt(CAST(vn_scaled AS DOUBLE))) AS BIGINT)
                   AS w_neyman
        FROM sc
    ),
    tot AS (SELECT CAST(SUM(w_neyman) AS BIGINT) AS w FROM wn),
    staged AS (
        SELECT stratum, n, vn_scaled, w_neyman,
               CASE WHEN w > 0 THEN
                    CAST((1000000 * w_neyman) // w AS BIGINT) END
                   AS share_ppm,
               CASE WHEN w > 0 THEN
                    CAST((10000 * w_neyman) // w AS BIGINT) END AS base,
               CASE WHEN w > 0 THEN
                    CAST((10000 * w_neyman) % w AS BIGINT) END AS rem
        FROM wn, tot
    )
    SELECT stratum, n, vn_scaled, w_neyman, share_ppm,
           CAST(base + CASE WHEN row_number() OVER
                    (ORDER BY rem DESC, stratum)
                <= 10000 - SUM(base) OVER () THEN 1 ELSE 0 END AS BIGINT)
               AS alloc
    FROM staged
    """,
    doc=(
        "Neyman (optimal) stratified allocation of a 10k-row sample "
        "budget over market segments by account-balance spread: "
        "weight = floor(sqrt(VN div 2^30)) where VN = n*Q - S^2 is "
        "the exact population-variance numerator — the shift keeps "
        "the cast below 2^53 (the round-13 wide-int rule) and the "
        "sqrt is one correctly-rounded op; then the exact Hamilton "
        "largest-remainder step. tests/test_r14_fresh_de.py."
    ),
    tags=("sampling", "stratified", "exact-integer"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        neyman_allocation,
    )

    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_mktsegment").alias("stratum"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("v"),
    )
    return neyman_allocation(cust, "stratum", "v", budget=10_000)


@register(
    "q_horvitz_thompson",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS stratum,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
               CAST(8 * ((length(o_orderpriority) % 4) + 1) AS BIGINT)
                   AS rate,
               ('0x' || substr(md5('ht|' || CAST(o_orderkey AS VARCHAR)),
                    1, 15))::BIGINT % 64 AS res
        FROM orders
    ),
    agg AS (
        SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST(SUM(CASE WHEN res < rate THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled,
               CAST(MAX(rate) AS BIGINT) AS rate,
               CAST(MIN(rate) AS BIGINT) AS rate_min,
               CAST(SUM(v) AS BIGINT) AS true_total,
               CAST(SUM(CASE WHEN res < rate THEN v ELSE 0 END) AS BIGINT)
                   AS ss
        FROM base GROUP BY stratum
    )
    SELECT stratum, n_pop, n_sampled, rate, true_total,
           CASE WHEN rate = rate_min AND rate > 0 THEN
                CAST((ss * 64) // rate AS BIGINT) END AS est_total,
           CASE WHEN rate = rate_min AND rate > 0
                     AND true_total <> 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * ((ss * 64) // rate - true_total))
                     // true_total AS BIGINT) END AS err_ppm
    FROM agg
    """,
    doc=(
        "Horvitz-Thompson total estimator per priority stratum under "
        "md5-deterministic unequal-rate sampling (rates 8-32 of 64 "
        "derived from the stratum name): inverse-inclusion-weighted "
        "revenue totals with the TRUE total and signed err_ppm "
        "riding along — the audit-sampling workhorse auditing "
        "itself. tests/test_r14_fresh_de.py."
    ),
    tags=("sampling", "estimation", "md5-family", "exact-integer"),
)
def q_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.sampling import (
        horvitz_thompson,
    )

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("stratum"),
        F.col("o_orderkey").alias("id"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("v"),
        F.expr(
            "CAST(8 * ((length(o_orderpriority) % 4) + 1) AS BIGINT)"
        ).alias("rate"),
    )
    return horvitz_thompson(orders, "stratum", "id", "v", "rate")


# --------------------------------------------------------------------------
# Fresh batch 5: graph (operators/graph.py; tests/test_r14_fresh_de.py)
# --------------------------------------------------------------------------


@register(
    "q_katz_centrality",
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT CAST(2 * l_suppkey + 1 AS BIGINT) AS src,
               CAST(2 * l_partkey AS BIGINT) AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT CAST(2 * l_partkey AS BIGINT),
               CAST(2 * l_suppkey + 1 AS BIGINT)
        FROM lineitem
    ),
    x1 AS MATERIALIZED (
        SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS v
        FROM e GROUP BY dst
    ),
    x2 AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(x1.v) AS BIGINT) AS v
        FROM e JOIN x1 ON x1.node = e.src GROUP BY e.dst
    ),
    x3 AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(x2.v) AS BIGINT) AS v
        FROM e JOIN x2 ON x2.node = e.src GROUP BY e.dst
    ),
    x4 AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(x3.v) AS BIGINT) AS v
        FROM e JOIN x3 ON x3.node = e.src GROUP BY e.dst
    ),
    katz AS (
        SELECT x1.node,
               CAST(64 * x1.v + 16 * COALESCE(x2.v, 0)
                    + 4 * COALESCE(x3.v, 0) + COALESCE(x4.v, 0)
                    AS BIGINT) AS katz_scaled,
               x1.v AS x1, CAST(COALESCE(x2.v, 0) AS BIGINT) AS x2
        FROM x1
        LEFT JOIN x2 ON x2.node = x1.node
        LEFT JOIN x3 ON x3.node = x1.node
        LEFT JOIN x4 ON x4.node = x1.node
    )
    SELECT node, katz_scaled, x1, x2,
           CAST(row_number() OVER (ORDER BY katz_scaled DESC, node)
                AS BIGINT) AS rank
    FROM katz
    QUALIFY row_number() OVER (ORDER BY katz_scaled DESC, node) <= 20
    """,
    doc=(
        "Katz centrality over the symmetrized supplier-part graph "
        "(nodes integer-encoded 2*part / 2*supp+1), alpha = 1/4 "
        "multiplied through to scaled-integer walk counts (4 "
        "iterations): each round is ONE |E|-row join + groupBy — walk "
        "SUMS, not frontier sets, so no hop-radius explosion (the "
        "r11 closeness lesson's favorable shape); vectors "
        "localCheckpoint'd per round. Oracle = unrolled MATERIALIZED "
        "CTE chain (the round-10 bounded-iteration trick). Top 20 "
        "with walk-count columns. tests/test_r14_fresh_de.py."
    ),
    tags=("graph", "centrality", "iterative", "exact-integer"),
)
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import katz_centrality

    li = load_table(spark, "lineitem", sf_dir)
    fwd = li.select(
        F.expr("CAST(2 * l_suppkey + 1 AS BIGINT)").alias("src"),
        F.expr("CAST(2 * l_partkey AS BIGINT)").alias("dst"),
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return katz_centrality(edges, iters=4, alpha_inv=4, top_n=20)


@register(
    "q_rich_club",
    oracle="""
    WITH e AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
               CAST(l_partkey AS BIGINT) AS dst
        FROM lineitem
    ),
    sdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS sdeg
             FROM e GROUP BY src),
    ddeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS ddeg
             FROM e GROUP BY dst),
    tagged AS (
        SELECT e.src, e.dst, sdeg, ddeg
        FROM e JOIN sdeg USING (src) JOIN ddeg USING (dst)
    ),
    ks AS (SELECT unnest([4, 8, 16]) AS k),
    per AS (
        SELECT CAST(k AS BIGINT) AS k_threshold,
               CAST(COUNT(DISTINCT CASE WHEN sdeg > k THEN src END)
                    AS BIGINT) AS n_src_club,
               CAST(COUNT(DISTINCT CASE WHEN ddeg > k THEN dst END)
                    AS BIGINT) AS n_dst_club,
               CAST(SUM(CASE WHEN sdeg > k AND ddeg > k THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_club_edges
        FROM tagged, ks GROUP BY k
    )
    SELECT k_threshold, n_src_club, n_dst_club, n_club_edges,
           CASE WHEN n_src_club * n_dst_club > 0 THEN
                CAST((1000000 * n_club_edges)
                     // (n_src_club * n_dst_club) AS BIGINT) END
               AS density_ppm
    FROM per
    """,
    doc=(
        "Bipartite rich-club profile of the supplier-part graph at "
        "degree thresholds 4/8/16: club density = edges among the "
        ">k-degree club over |S_k|*|P_k|, from one degree-tagged "
        "deduplicated edge frame reused across thresholds via a "
        "checkpoint. tests/test_r14_fresh_de.py."
    ),
    tags=("graph", "structure", "exact-integer"),
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.graph import (
        rich_club_bipartite,
    )

    li = load_table(spark, "lineitem", sf_dir)
    edges = li.select(
        F.col("l_suppkey").cast("bigint").alias("src"),
        F.col("l_partkey").cast("bigint").alias("dst"),
    )
    return rich_club_bipartite(edges, thresholds=(4, 8, 16))


# --------------------------------------------------------------------------
# Fresh batch 6: engine surface — EXECUTE IMMEDIATE graduation
# --------------------------------------------------------------------------


@register(
    "q_execute_immediate",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority
    """,
    doc=(
        "EXECUTE IMMEDIATE with a positional parameter, query-backed "
        "(graduating the SQL-scripting engine row): the per-priority "
        "aggregate runs through Spark's dynamic-SQL surface — the "
        "statement text is a string, the date bound via USING — and "
        "must hash-match the statically-planned oracle; a "
        "parameter-binding or re-parse bug goes red on DATA. The "
        "temp view is session-scoped and re-created per invocation."
    ),
    tags=("relational", "sql-surface", "engine-surface"),
)
def q_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView(
        "t_ksa_ei_orders"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority AS priority,
                CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
         FROM t_ksa_ei_orders WHERE o_orderdate >= ?
         GROUP BY o_orderpriority'
        USING DATE '1995-01-01'
        """
    )


# --------------------------------------------------------------------------
# Fresh batch 7: dedup cluster profile + scale/portmanteau stats + two
# engine-row graduations (tests/test_r14_fresh_batch3.py)
# --------------------------------------------------------------------------


def _cluster_profile_oracle() -> str:
    # Reuses the registration-proven md5 MinHash-LSH pairs SQL (the
    # q_dedup_minhash_lsh_md5 oracle builder) as the pairs CTE; the
    # recursive closure is the q_dedup_clusters oracle pattern (fine
    # at sf0.01, not a production algorithm).
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
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS size
        FROM comp GROUP BY component
        HAVING COUNT(*) >= 2
    )
    SELECT CAST(length(bin(size)) AS BIGINT) AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs_in_clusters,
           CAST(SUM(size) - COUNT(*) AS BIGINT) AS dup_excess
    FROM sizes GROUP BY 1
    """


@register(
    "q_dedup_cluster_profile",
    oracle=_cluster_profile_oracle(),
    doc=(
        "Near-duplicate CLUSTER profile (the verdict's cluster-level "
        "dedup direction): LSH pairs (md5 family) -> connected "
        "components -> size histogram by MSB bucket "
        "(length(bin(size)), the round-6 floor-log2 trick) with "
        "dup_excess = docs keep-one canonicalization would delete per "
        "bucket. The report that distinguishes a corpus of two-doc "
        "twins from one giant boilerplate cluster. "
        "tests/test_r14_fresh_batch3.py."
    ),
    bench=False,  # LPA iteration count scales with graph diameter
    tags=("llm-data", "dedup", "clusters", "md5-family"),
)
def q_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        dedup_cluster_profile,
    )

    return dedup_cluster_profile(
        load_table(spark, "documents", sf_dir),
        hash_family="md5",
        threshold=0.02,
    )


@register(
    "q_ansari_bradley",
    oracle="""
    WITH base AS (
        SELECT CAST(c.c_nationkey AS BIGINT) AS g,
               o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS in_x,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY g, v
    ),
    nrow AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT) AS m
        FROM base GROUP BY g
    ),
    ranked AS (
        SELECT g, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    scored AS (
        SELECT b.g, b.in_x,
               CAST(CASE WHEN r2 < 2 * (n.n + 1) - r2 THEN r2
                    ELSE 2 * (n.n + 1) - r2 END AS BIGINT) AS score2
        FROM base b
        JOIN ranked r ON r.g = b.g AND r.v = b.v
        JOIN nrow n ON n.g = b.g
    ),
    agg AS (
        SELECT g,
               CAST(SUM(CASE WHEN in_x THEN score2 ELSE 0 END) AS BIGINT)
                   AS w2,
               CAST(SUM(score2) AS BIGINT) AS t2
        FROM scored GROUP BY g
    )
    SELECT n.g AS group_key, n.n, n.m, w2, t2,
           CASE WHEN n.m > 0 AND n.m < n.n AND t2 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * n.n * w2)
                     // (CAST(n.m AS HUGEINT) * t2) AS BIGINT) END
               AS ab_ppm
    FROM nrow n JOIN agg ON agg.g = n.g
    """,
    doc=(
        "Ansari-Bradley scale test per customer nation (sample X = "
        "high-priority orders, v = order cents): ranks fold inward "
        "from both ends (score2 = min(r2, 2(n+1)-r2) on doubled "
        "midranks) so the WIDER sample scores low; exchangeability "
        "gives E[W2] = m*T2/n exactly, making the report one integer "
        "rational ab_ppm (1e6 = null). The rank companion of "
        "q_levene_bf. tests/test_r14_fresh_batch3.py."
    ),
    tags=("stats", "nonparametric", "scale-test", "exact-integer"),
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import ansari_bradley

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    base = orders.join(cust, cust.c_custkey == orders.o_custkey).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.expr("o_orderpriority IN ('1-URGENT', '2-HIGH')").alias("in_x"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    return ansari_bradley(base, "g", "in_x", "v")


@register(
    "q_ljung_box",
    oracle='\n    WITH base AS (\n        SELECT CAST(c.c_nationkey AS BIGINT) AS g,\n               CAST((year(o.o_orderdate) - 1992) * 12\n                    + month(o.o_orderdate) - 1 AS BIGINT) AS t,\n               CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))\n                    // 100000 AS BIGINT) AS x\n        FROM orders o\n        JOIN customer c ON c.c_custkey = o.o_custkey\n        GROUP BY 1, 2\n    ),\n    tot AS (\n        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,\n               CAST(SUM(x) AS BIGINT) AS s,\n               CAST(MAX(t) - MIN(t) AS BIGINT) AS span\n        FROM base GROUP BY g\n    ),\n    lagged AS (\n        SELECT b.g, n, s, span,\n               n * x - s AS d0,\n               n * lag(x, 1) OVER (PARTITION BY b.g ORDER BY t) - s AS d1,\n               n * lag(x, 2) OVER (PARTITION BY b.g ORDER BY t) - s AS d2,\n               n * lag(x, 3) OVER (PARTITION BY b.g ORDER BY t) - s AS d3,\n               n * lag(x, 4) OVER (PARTITION BY b.g ORDER BY t) - s AS d4,\n               n * lag(x, 5) OVER (PARTITION BY b.g ORDER BY t) - s AS d5,\n               n * lag(x, 6) OVER (PARTITION BY b.g ORDER BY t) - s AS d6,\n               n * lag(x, 7) OVER (PARTITION BY b.g ORDER BY t) - s AS d7,\n               n * lag(x, 8) OVER (PARTITION BY b.g ORDER BY t) - s AS d8,\n               n * lag(x, 9) OVER (PARTITION BY b.g ORDER BY t) - s AS d9,\n               n * lag(x, 10) OVER (PARTITION BY b.g ORDER BY t) - s AS d10,\n               n * lag(x, 11) OVER (PARTITION BY b.g ORDER BY t) - s AS d11,\n               n * lag(x, 12) OVER (PARTITION BY b.g ORDER BY t) - s AS d12\n        FROM base b JOIN tot ON tot.g = b.g\n    ),\n    sums AS (\n        SELECT g, MAX(n) AS n, MAX(span) AS span,\n               CAST(SUM(d0 * d0) AS BIGINT) AS c0,\n               CAST(SUM(d0 * d1) AS BIGINT) AS c1,\n               CAST(SUM(d0 * d2) AS BIGINT) AS c2,\n               CAST(SUM(d0 * d3) AS BIGINT) AS c3,\n               CAST(SUM(d0 * d4) AS BIGINT) AS c4,\n               CAST(SUM(d0 * d5) AS BIGINT) AS c5,\n               CAST(SUM(d0 * d6) AS BIGINT) AS c6,\n               CAST(SUM(d0 * d7) AS BIGINT) AS c7,\n               CAST(SUM(d0 * d8) AS BIGINT) AS c8,\n               CAST(SUM(d0 * d9) AS BIGINT) AS c9,\n               CAST(SUM(d0 * d10) AS BIGINT) AS c10,\n               CAST(SUM(d0 * d11) AS BIGINT) AS c11,\n               CAST(SUM(d0 * d12) AS BIGINT) AS c12\n        FROM lagged GROUP BY g\n    ),\n    scored AS (\n        SELECT g, n, span, c0,\n           CASE WHEN c0 > 0 THEN (10000 * c1) // c0 ELSE 0 END AS r1,\n           CASE WHEN c0 > 0 THEN (10000 * c2) // c0 ELSE 0 END AS r2,\n           CASE WHEN c0 > 0 THEN (10000 * c3) // c0 ELSE 0 END AS r3,\n           CASE WHEN c0 > 0 THEN (10000 * c4) // c0 ELSE 0 END AS r4,\n           CASE WHEN c0 > 0 THEN (10000 * c5) // c0 ELSE 0 END AS r5,\n           CASE WHEN c0 > 0 THEN (10000 * c6) // c0 ELSE 0 END AS r6,\n           CASE WHEN c0 > 0 THEN (10000 * c7) // c0 ELSE 0 END AS r7,\n           CASE WHEN c0 > 0 THEN (10000 * c8) // c0 ELSE 0 END AS r8,\n           CASE WHEN c0 > 0 THEN (10000 * c9) // c0 ELSE 0 END AS r9,\n           CASE WHEN c0 > 0 THEN (10000 * c10) // c0 ELSE 0 END AS r10,\n           CASE WHEN c0 > 0 THEN (10000 * c11) // c0 ELSE 0 END AS r11,\n           CASE WHEN c0 > 0 THEN (10000 * c12) // c0 ELSE 0 END AS r12\n        FROM sums\n    )\n    SELECT g AS group_key, n, c0,\n           CASE WHEN n > 12 AND span = n - 1 THEN\n                CAST((n * (n + 2) * r1 * r1) // ((n - 1) * 100) + (n * (n + 2) * r2 * r2) // ((n - 2) * 100) + (n * (n + 2) * r3 * r3) // ((n - 3) * 100) + (n * (n + 2) * r4 * r4) // ((n - 4) * 100) + (n * (n + 2) * r5 * r5) // ((n - 5) * 100) + (n * (n + 2) * r6 * r6) // ((n - 6) * 100) + (n * (n + 2) * r7 * r7) // ((n - 7) * 100) + (n * (n + 2) * r8 * r8) // ((n - 8) * 100) + (n * (n + 2) * r9 * r9) // ((n - 9) * 100) + (n * (n + 2) * r10 * r10) // ((n - 10) * 100) + (n * (n + 2) * r11 * r11) // ((n - 11) * 100) + (n * (n + 2) * r12 * r12) // ((n - 12) * 100) AS BIGINT) END AS q_ppm\n    FROM scored\n    ',
    doc=(
        "Ljung-Box portmanteau (12 lags) over each nation's monthly "
        "revenue in 1000-dollar units (keeping the n^2-scaled centered "
        "covariances in int64 through sf10): the is-it-white-noise "
        "diagnostic in this repo's documented floored-integer layout — "
        "exact integer c_k, per-lag autocorrelation floored once at "
        "pp10k, per-lag Q term floored once (<1e-3 relative vs the "
        "real statistic; the layout IS the statistic, bit-reproducible "
        "both engines). Gapless-series gate (span = n-1) per the "
        "contiguity rule. tests/test_r14_fresh_batch3.py."
    ),
    tags=("stats", "timeseries", "diagnostics", "exact-integer"),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import ljung_box

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    base = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("g"),
            F.expr(
                "CAST((year(o_orderdate) - 1992) * 12"
                " + month(o_orderdate) - 1 AS BIGINT)"
            ).alias("t"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " div 100000 AS BIGINT)"
            ).alias("x")
        )
    )
    return ljung_box(base, "g", "t", "x", max_lag=12)


@register(
    "q_aqe_skew_join",
    oracle="""
    WITH l AS (
        SELECT CASE WHEN i % 10 < 9 THEN 7 ELSE i END AS k
        FROM (SELECT unnest(range(0, 200000)) AS i)
    ),
    r AS (
        SELECT CASE WHEN i % 10 < 9 THEN 7 ELSE i END AS k
        FROM (SELECT unnest(range(0, 50000)) AS i)
    ),
    lc AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM l GROUP BY k),
    rc AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY k)
    SELECT CAST(SUM(lc.c * rc.c) AS BIGINT) AS n_pairs,
           TRUE AS skew_split_fired
    FROM lc JOIN rc ON rc.k = lc.k
    """,
    doc=(
        "AQE skew-join splitting, query-backed (graduating "
        "tests/test_scale_features.py:"
        "test_aqe_splits_skewed_join_partition): a sort-merge join "
        "whose left side collapses 90% of keys onto one hot value "
        "must show skew=true on the SMJ node of the FINAL adaptive "
        "plan — Spark re-planned the oversized partition into "
        "parallel splits instead of letting one task straggle, the "
        "runtime half of the skew story (q_salted_hot_key_agg is the "
        "manual half). The compared DATA is the exact join "
        "cardinality (the oracle computes it analytically as "
        "sum of per-key count products — a split that drops or "
        "duplicates rows at a partition boundary goes red); "
        "skew_split_fired pins the mechanism. Round 16 re-sized the "
        "synthetic to 200k x 50k with 16KB/8KB thresholds: the "
        "original 20k x 5k / 2KB recipe stopped crossing the "
        "detection bar (runtime shuffle byte sizes drifted under it "
        "— caught by the round-16 full-registry parity sweep, the "
        "flag came back false while the cardinality still matched); "
        "the larger synthetic fires skew=true deterministically "
        "(3/3 fresh sessions, ~10s) and the cost keeps it out of "
        "the bench set. Confs and shuffle-partition count restored."
    ),
    bench=False,  # fixed synthetic; ~10s; mechanism doesn't scale with SF
    tags=("scale", "aqe", "skew", "engine-surface"),
)
def q_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "16",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("w"),
        )
        j = left.join(right.hint("merge"), "k").groupBy().count()
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        fired = "skew=true" in plan
        return spark.createDataFrame(
            [(row["count"], fired)],
            "n_pairs BIGINT, skew_split_fired BOOLEAN",
        ).localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


@register(
    "q_bucket_pruning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS bucket_pruned
    FROM orders
    WHERE o_custkey = 7
    """,
    doc=(
        "Bucket pruning, query-backed (graduating "
        "tests/test_scale_features.py:"
        "test_bucket_pruning_selects_single_bucket): orders written "
        "bucketBy(8, o_custkey), an equality filter on the bucketing "
        "column scans ONE bucket's files (SelectedBucketsCount: 1 "
        "out of 8, pinned as a column — requires "
        "autoBucketedScan=false, the engine gotcha) and the "
        "aggregate over the PRUNED scan must hash-match the oracle "
        "from the unbucketed table: pruning that touches the wrong "
        "bucket or hashes the key differently at write vs read goes "
        "red on data. The bucket-layout complement of partition "
        "pruning at 100 TB. Conf and catalog restored; temp dir "
        "removed after an eager localCheckpoint."
    ),
    tags=("scale", "bucketing", "pruning", "engine-surface"),
)
def q_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_bp_")
    tbl = "t_ksa_bucket_prune_r14"
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf, "true")
    try:
        spark.conf.set(conf, "false")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, "orders", sf_dir)
            .select("o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .option("path", f"{work}/t")
            .saveAsTable(tbl)
        )
        df = spark.table(tbl).filter(F.col("o_custkey") == 7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pruned = "SelectedBucketsCount: 1 out of 8" in plan
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_cents"),
        ).withColumn("bucket_pruned", F.lit(pruned))
        return agg.localCheckpoint(eager=True)
    finally:
        spark.conf.set(conf, prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_watermark_late_drop",
    oracle="""
    WITH ev AS (
        SELECT * FROM (VALUES
            (TIMESTAMP '2024-01-01 12:00:00', 'a', 1),
            (TIMESTAMP '2024-01-01 12:01:00', 'a', 1),
            (TIMESTAMP '2024-01-01 12:30:00', 'b', 2),
            (TIMESTAMP '2024-01-01 12:29:00', 'c', 3),
            (TIMESTAMP '2024-01-01 12:02:00', 'late', 4)
        ) AS t(ts, k, batch)
    ),
    per_batch AS (
        SELECT batch, MAX(ts) AS mx FROM ev GROUP BY batch
    ),
    wm AS (
        SELECT batch,
               MAX(mx) OVER (ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - INTERVAL 10 MINUTE AS w
        FROM per_batch
    ),
    kept AS (
        SELECT ev.* FROM ev JOIN wm USING (batch)
        WHERE wm.w IS NULL OR ev.ts >= wm.w
    ),
    dropped AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
        FROM ev JOIN wm USING (batch)
        WHERE wm.w IS NOT NULL AND ev.ts < wm.w
    ),
    final_wm AS (
        SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ev
    ),
    agg AS (
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE
                   AS window_end,
               k, CAST(COUNT(*) AS BIGINT) AS n
        FROM kept GROUP BY 1, 2
    )
    SELECT window_end, k, n, n_dropped AS n_dropped_by_watermark
    FROM agg, final_wm, dropped
    WHERE window_end > final_wm.w
    """,
    doc=(
        "Watermark late-drop accounting, query-backed (graduating "
        "tests/test_streaming.py:"
        "test_watermark_drop_metric_counts_late_rows): the four-file "
        "maxFilesPerTrigger=1 staging the round-9 rule prescribes "
        "(establish, raise event time, let the raised watermark "
        "become the active filter, straggle) — the commit ENDING "
        "batch N computes the watermark batch N+1 filters with. The "
        "compared DATA is the FINAL state-store content (windows the "
        "last watermark left open: 'a''s closed window is rightly "
        "evicted, the straggler never entered) — the oracle spells "
        "the lagged-watermark semantics analytically over the same "
        "planted VALUES — plus numRowsDroppedByWatermark summed from "
        "the progress feed as a column (exactly 1). Silent late-data "
        "loss is the failure mode this audits at 100 TB. Conf "
        "restored; temp dirs removed after an eager localCheckpoint."
    ),
    bench=False,  # fixed synthetic staging; mechanism doesn't scale with SF
    tags=("streaming", "watermark", "engine-surface"),
)
def q_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    def batch(values_sql):
        # JVM-side SQL VALUES: a Python-rows frame re-runs the Python
        # runner on every write action (~5.5 s per tiny file).
        return spark.sql(f"SELECT * FROM (VALUES {values_sql}) AS t(ts, k)")

    def t(m):
        return f"TIMESTAMP'2024-01-01 12:{m:02d}:00'"

    with drain_workdir(spark) as work:
        ckpt = f"{work}/ckpt"
        src = stage_files(
            work,
            [
                batch(f"({t(0)}, 'a'), ({t(1)}, 'a')"),
                batch(f"({t(30)}, 'b')"),  # raises max event time to 12:30
                batch(f"({t(29)}, 'c')"),  # filtered by the 11:51 watermark
                batch(f"({t(2)}, 'late')"),  # below 12:20 -> dropped
            ],
        )
        q = (
            spark.readStream.schema("ts TIMESTAMP, k STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, 300)
        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        state = spark.read.format("statestore").load(ckpt)
        return (
            state.select(
                F.col("key.window.end").alias("window_end"),
                F.col("key.k").alias("k"),
                F.col("value.count").cast("bigint").alias("n"),
            )
            .withColumn(
                "n_dropped_by_watermark",
                F.lit(int(dropped)).cast("bigint"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Same-round graduation of the late-staged r15 pair (the r13 precedent:
# staged queues graduate as soon as their oracles are pre-validated;
# a fresh r15 queue is staged in their place). tests/test_r15_stage.py
# --------------------------------------------------------------------------

_GLOBAL_MONTHLY_SQL = """
    base AS (
        SELECT CAST(0 AS BIGINT) AS g,
               CAST((year(o_orderdate) - 1992) * 12
                    + month(o_orderdate) - 1 AS BIGINT) AS t,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                    // 100000 AS BIGINT) AS y
        FROM orders
        GROUP BY 2
    )
"""


def _global_monthly(spark: SparkSession, sf_dir: str, v_name: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .groupBy(
            F.expr(
                "CAST((year(o_orderdate) - 1992) * 12"
                " + month(o_orderdate) - 1 AS BIGINT)"
            ).alias("t")
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))"
                " div 100000 AS BIGINT)"
            ).alias(v_name)
        )
        .select(F.lit(0).cast("bigint").alias("g"), "t", v_name)
    )


@register(
    "q_durbin_watson",
    oracle=(
        "    WITH "
        + _GLOBAL_MONTHLY_SQL
        + """,
    mom AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(t AS HUGEINT) * t) AS stt,
               SUM(CAST(t AS HUGEINT) * y) AS sty,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span
        FROM base GROUP BY g
    ),
    resid AS (
        SELECT b.g, n, span, t,
               (CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st)
               * (CAST(n AS HUGEINT) * y - sy)
               - (CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy)
               * (CAST(n AS HUGEINT) * t - st) AS e
        FROM base b JOIN mom ON mom.g = b.g
    ),
    diffed AS (
        SELECT g, n, span, e,
               e - lag(e) OVER (PARTITION BY g ORDER BY t) AS de
        FROM resid
    ),
    agg AS (
        SELECT g, MAX(n) AS n, MAX(span) AS span,
               SUM(e * e) AS see, SUM(de * de) AS sdd
        FROM diffed GROUP BY g
    )
    SELECT g AS group_key, n,
           CASE WHEN n >= 3 AND span = n - 1 AND see > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * sdd) // see AS BIGINT)
           END AS dw_ppm
    FROM agg
"""
    ),
    doc=(
        "Durbin-Watson over the global monthly revenue series "
        "(1000-dollar units — the round-14 unit-scaling rule keeps "
        "the n^2-scaled residual squares inside DECIMAL(38,0)): "
        "first-order serial correlation of the OLS-detrended series "
        "as ONE exact integer rational — the model denominator "
        "D = n*Stt - St^2 makes residuals integer and DW's scale "
        "invariance cancels it. Gapless gate; NULL on perfect fit. "
        "tests/test_r15_stage.py."
    ),
    tags=("stats", "timeseries", "diagnostics", "exact-integer"),
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import durbin_watson

    return durbin_watson(_global_monthly(spark, sf_dir, "y"), "g", "t", "y")


@register(
    "q_bartels_rvn",
    oracle=(
        "    WITH "
        + _GLOBAL_MONTHLY_SQL.replace(" AS y", " AS v")
        + """,
    cells AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY g, v
    ),
    ranked AS (
        SELECT g, v,
               CAST(2 * (SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT) AS r2
        FROM cells
    ),
    nrow AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span
        FROM base GROUP BY g
    ),
    seq AS (
        SELECT b.g, n, span, t, r2,
               r2 - lead(r2) OVER (PARTITION BY b.g ORDER BY t) AS dr
        FROM base b
        JOIN ranked r ON r.g = b.g AND r.v = b.v
        JOIN nrow nr ON nr.g = b.g
    ),
    agg AS (
        SELECT g, MAX(n) AS n, MAX(span) AS span,
               CAST(SUM(dr * dr) AS BIGINT) AS num2,
               CAST(SUM((r2 - (n + 1)) * (r2 - (n + 1))) AS BIGINT)
                   AS den2
        FROM seq GROUP BY g
    )
    SELECT g AS group_key, n, num2, den2,
           CASE WHEN n >= 3 AND span = n - 1 AND den2 > 0 THEN
                CAST((1000000 * num2) // den2 AS BIGINT) END AS rvn_ppm
    FROM agg
"""
    ),
    doc=(
        "Bartels rank von Neumann ratio over the global monthly "
        "revenue series — the rank-based randomness companion of "
        "q_durbin_watson: doubled midranks (rbar2 = n+1 exactly even "
        "under ties), num2/den2 exact int64, rvn_ppm near 2e6 = "
        "exchangeable / 0 = trending / 4e6 = oscillating. Gapless "
        "gate. tests/test_r15_stage.py."
    ),
    tags=("stats", "nonparametric", "randomness", "exact-integer"),
)
def q_bartels_rvn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        bartels_rank_test,
    )

    return bartels_rank_test(
        _global_monthly(spark, sf_dir, "v"), "g", "t", "v"
    )
