"""Round-16 registrations: the staged batch-2 queue (Kuiper
two-sample, exact 1-D Wasserstein) graduating to driver-verified
queries, plus this round's fresh registrations as they land.

Every query wraps an operator that staged with unit tests and a
pre-validated cross-engine oracle text (tests/test_r16_stage2.py and
the fresh tests/test_r16_*.py files); oracle SQL is single-sourced
here (view-based — the parity tests import these constants and CREATE
the driver's view names over the sf0.001 parquet, the r15 pattern).

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

# Shared per-nation monthly-revenue epoch split (cents) — the
# q_fligner_policello / q_cucconi input: X = even-numbered years,
# Y = odd. Cents are fine for both staged statistics: Kuiper is
# count-only and Wasserstein is LINEAR in the value (no n-scaled
# squares — the round-14 unit rule does not bite; w1 budget
# documented in operators/stats.py:wasserstein_1d).
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
    ),
    cells AS (
        SELECT g, v,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS cx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS cy
        FROM base GROUP BY g, v
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


def _monthly_epoch_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _monthly_revenue(spark, sf_dir).select(
        "g", "t", "v", F.expr("(t div 12) % 2 = 0").alias("in_x")
    )


# --------------------------------------------------------------------------
# Staged batch 2: distribution-shift pair (operators/stats.py;
# tests/test_r16_stage2.py — hand pins + sf0.001 parity pre-validated)
# --------------------------------------------------------------------------

KUIPER_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    cum AS (
        SELECT g,
               CAST(SUM(cx) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS i,
               CAST(SUM(cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS j,
               CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS m,
               CAST(SUM(cy) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM cells
    ),
    agg AS (
        SELECT g, CAST(MAX(m) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(n * i - m * j) AS BIGINT) AS dp,
               CAST(MAX(m * j - n * i) AS BIGINT) AS dm
        FROM cum GROUP BY g
    )
    SELECT g AS group_key, m, n,
           CAST(greatest(dp, 0) AS BIGINT) AS dplus_num,
           CAST(greatest(dm, 0) AS BIGINT) AS dminus_num,
           CASE WHEN m > 0 AND n > 0 THEN
                CAST((1000000 * (greatest(dp, 0) + greatest(dm, 0)))
                     // (m * n) AS BIGINT) END AS v_ppm
    FROM agg
"""
)


@register(
    "q_kuiper",
    oracle=KUIPER_ORACLE,
    doc=(
        "Kuiper two-sample test per nation on the even/odd-year "
        "monthly-revenue split: V = D+ + D- on cross-multiplied "
        "merged-cell ECDFs — catches the symmetric tail swap KS "
        "halves (X={1,4}/Y={2,3} has KS D = 1/2 but V = 1 exactly). "
        "One groupBy to cells, one cumulative window, one aggregate; "
        "all exact integers. tests/test_r16_stage2.py (staged r16 "
        "batch 2, graduated same-round per the r14 precedent)."
    ),
    tags=("stats", "nonparametric", "distribution-shift", "exact-integer"),
)
def q_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        kuiper_two_sample,
    )

    return kuiper_two_sample(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


WASSERSTEIN_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    cum AS (
        SELECT g, v,
               CAST(SUM(cx) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS i,
               CAST(SUM(cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS j,
               lead(v) OVER (PARTITION BY g ORDER BY v) AS vn,
               CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS m,
               CAST(SUM(cy) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM cells
    ),
    agg AS (
        SELECT g, CAST(MAX(m) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n,
               SUM(CASE WHEN vn IS NOT NULL THEN
                   (vn - v) * CAST(abs(n * i - m * j) AS HUGEINT)
                   ELSE 0 END) AS w1
        FROM cum GROUP BY g
    )
    SELECT g AS group_key, m, n,
           CAST(w1 AS BIGINT) AS w1_scaled,
           CASE WHEN m > 0 AND n > 0 THEN
                CAST((1000 * w1) // (CAST(m AS HUGEINT) * n) AS BIGINT)
           END AS w1_milli
    FROM agg
"""
)


@register(
    "q_wasserstein_drift",
    oracle=WASSERSTEIN_ORACLE,
    doc=(
        "Exact 1-D Wasserstein-1 distance per nation on the same "
        "epoch split — the drift MAGNITUDE in cents the ks/kuiper/TVD "
        "tests can't give: w1_scaled = sum over support gaps of "
        "(v_next - v)*|n*i - m*j| = W1*m*n, exact integers under the "
        "bounded-group budget (a pure shift by 5 gives W1 = 5 "
        "exactly). tests/test_r16_stage2.py (staged r16 batch 2, "
        "graduated same-round)."
    ),
    tags=("stats", "distribution-shift", "drift", "exact-integer"),
)
def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import wasserstein_1d

    return wasserstein_1d(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


# --------------------------------------------------------------------------
# Wave 2: the three r15-verdict LLM-data directions — semantic dedup
# (SemDeDup-style, embedding side), cross-source NEAR-dup (minhash over
# the source-pair rollup), 13-gram decontamination (published practice).
# tests/test_r16_fresh_llm.py.
# --------------------------------------------------------------------------


def _semantic_dedup_oracle(
    n_planes: int = 4, dim: int = 64, seed: int = 42, threshold: float = 0.3
) -> str:
    """DuckDB twin of ``semantic_dedup``: seeded hyperplanes embedded
    as literals (exact repr round-trip), the same sign-code bucket
    assignment, the same single-sqrt sequential-fold cosine, the same
    keep-lowest-id drop rule — cell-exact end to end (the
    _ann_lsh_oracle trick pointed at a rollup)."""
    from kafka_streams_aggregate_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(n_planes, dim, seed)
    code = " + ".join(
        "(CASE WHEN list_inner_product(v, ["
        + ", ".join(repr(x) for x in p)
        + f"]::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH base AS (
        SELECT CAST(vec_id AS BIGINT) AS id, label,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    coded AS (SELECT id, label, v, {code} AS code FROM base),
    dropped AS (
        SELECT DISTINCT b.id
        FROM coded a JOIN coded b ON a.code = b.code AND a.id < b.id
        WHERE list_inner_product(a.v, b.v)
              / sqrt(list_inner_product(a.v, a.v)
                     * list_inner_product(b.v, b.v)) >= {threshold!r}
    ),
    agg AS (
        SELECT c.label, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped
        FROM coded c LEFT JOIN dropped d ON d.id = c.id
        GROUP BY c.label
    )
    SELECT label, n_docs, n_dropped,
           CAST(n_docs - n_dropped AS BIGINT) AS n_kept,
           CAST((1000000 * n_dropped) // n_docs AS BIGINT) AS drop_ppm
    FROM agg
    """


@register(
    "q_dedup_semantic",
    oracle=_semantic_dedup_oracle(),
    doc=(
        "SemDeDup-style semantic dedup rollup over the embeddings "
        "table (the r15 verdict's embedding-side direction): seeded-"
        "hyperplane LSH cells (the published recipe's k-means cells, "
        "re-expressed as the repo's codegen'd sign codes), bit-exact "
        "sequential-fold cosine within cells, keep-lowest-id one-shot "
        "pruning, per-label drop counts. Sublinear: pair volume is "
        "sum(cell^2), n_planes the knob. tests/test_r16_fresh_llm.py."
    ),
    tags=("llm-data", "dedup", "embedding", "semantic"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.similarity import (
        semantic_dedup,
    )

    return semantic_dedup(load_table(spark, "embeddings", sf_dir))


def _xsrc_neardup_oracle() -> str:
    """Wrap the proven minhash-md5 pair oracle in a source-pair
    rollup: the nested-WITH subquery reuses the registration-proven
    q_dedup_minhash_lsh_md5 text verbatim, so the pair semantics
    cannot drift between the two queries."""
    from kafka_streams_aggregate_spark.queries.llm_data import (
        _minhash_md5_oracle,
    )

    return f"""
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.jaccard >= 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_pairs,
           MAX(p.jaccard) AS max_jaccard
    FROM ({_minhash_md5_oracle()}) p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    WHERE da.source <> db.source
    GROUP BY 1, 2
    """


@register(
    "q_cross_source_neardup",
    oracle=_xsrc_neardup_oracle(),
    doc=(
        "Cross-source NEAR-duplicate matrix (the r15 verdict's "
        "direction beyond the lead-8 fingerprint): q_cross_source_dups "
        "finds syndicated ledes only; this runs the full MinHash+LSH "
        "pipeline (md5 hash family — cell-exact oracle, the "
        "q_dedup_minhash_lsh_md5 twin trick) and rolls verified pairs "
        "up per unordered source pair with exact-dup counts and the "
        "parity-safe max jaccard. Pair volume stays duplicate-cluster-"
        "sized (band equi-join). tests/test_r16_fresh_llm.py."
    ),
    tags=("llm-data", "dedup", "minhash", "cross-source", "md5-family"),
)
def q_cross_source_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        cross_source_neardup_matrix,
    )

    return cross_source_neardup_matrix(
        load_table(spark, "documents", sf_dir),
        "doc_id",
        "text",
        "source",
        n=3,
        k=32,
        bands=8,
        threshold=0.02,
        hash_family="md5",
    )


def _eval_decontam_13g_oracle() -> str:
    from kafka_streams_aggregate_spark.queries.round15 import (
        _eval_prep_oracle,
    )

    return _eval_prep_oracle(contam_n=13)


@register(
    "q_eval_decontam_13g",
    oracle=_eval_decontam_13g_oracle(),
    doc=(
        "13-gram variant of the eval-prep capstone — the published-"
        "practice n-gram length (GPT-3's decontamination used "
        "13-grams): the identical pool -> quality -> decontam -> "
        "stratified funnel with membership digests, differing from "
        "q_eval_prep_pipeline ONLY in the shingle length, so the two "
        "rows bracket the saturation argument documented in "
        "operators/llm_prep.py (3-grams saturate, 8-grams isolate "
        "planted near-dups, 13-grams match published practice). "
        "tests/test_r16_fresh_llm.py."
    ),
    tags=("llm-data", "capstone", "eval", "decontamination", "md5-family"),
)
def q_eval_decontam_13g(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.llm_prep import (
        eval_prep_pipeline,
    )

    return eval_prep_pipeline(
        load_table(spark, "documents", sf_dir), contam_n=13
    )


# --------------------------------------------------------------------------
# Wave 3: fresh stats batch — effect size, quadrant association,
# inequality, quantile shape, variance ratio, records test
# (operators/stats.py) + the spatial pair (operators/spatial.py).
# tests/test_r16_fresh_stats.py / test_r16_fresh_spatial.py.
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

BLOMQVIST_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    ranked AS (
        SELECT g, t AS x, v AS y,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY g ORDER BY t) AS rx,
               row_number() OVER (PARTITION BY g ORDER BY v) AS ry
        FROM base
    ),
    med AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN rx = (n + 1) // 2 THEN x END) AS mx,
               MAX(CASE WHEN ry = (n + 1) // 2 THEN y END) AS my
        FROM ranked GROUP BY g
    ),
    agg AS (
        SELECT b.g, CAST(MAX(m.n) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN b.t = m.mx OR b.v = m.my
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_on,
               CAST(SUM(CASE WHEN (b.t > m.mx AND b.v > m.my)
                         OR (b.t < m.mx AND b.v < m.my)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_diag,
               CAST(SUM(CASE WHEN (b.t > m.mx AND b.v < m.my)
                         OR (b.t < m.mx AND b.v > m.my)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_off
        FROM base b JOIN med m ON m.g = b.g
        GROUP BY b.g
    )
    SELECT g AS group_key, n, n_on, n_diag, n_off,
           CASE WHEN n_diag + n_off > 0 THEN
                CAST((1000000 * (n_diag - n_off)) // (n_diag + n_off)
                     AS BIGINT) END AS beta_ppm
    FROM agg
"""
)


@register(
    "q_blomqvist_beta",
    oracle=BLOMQVIST_ORACLE,
    doc=(
        "Blomqvist's beta (medial correlation) between month index and "
        "revenue per nation — the quadrant sign test of trend: split "
        "at the exact lower medians of both coordinates, drop on-line "
        "points, compare diagonal vs off-diagonal mass. All exact "
        "order statistics + counts. tests/test_r16_fresh_stats.py."
    ),
    tags=("stats", "nonparametric", "association", "exact-integer"),
)
def q_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import blomqvist_beta

    return blomqvist_beta(_monthly_revenue(spark, sf_dir), "g", "t", "v")


HOOVER_ORACLE = """
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
    ),
    mom AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS total
        FROM base GROUP BY g
    ),
    z AS (
        SELECT b.g, CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(total) AS BIGINT) AS total,
               SUM(abs(CAST(n AS HUGEINT) * v - total)) AS sad
        FROM base b JOIN mom USING (g) GROUP BY b.g
    )
    SELECT g AS group_key, n, total,
           CASE WHEN total > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * sad)
                     // (2 * CAST(n AS HUGEINT) * total) AS BIGINT) END
               AS hoover_ppm
    FROM z
"""


@register(
    "q_hoover_index",
    oracle=HOOVER_ORACLE,
    doc=(
        "Hoover (Robin Hood) inequality index of order value per "
        "priority stratum — the share of revenue that would have to "
        "move between orders to equalize them; the sort-free "
        "inequality companion of q_gini_lorenz (one mean, one "
        "absolute-deviation sum, exact n-scaled integers). "
        "tests/test_r16_fresh_stats.py."
    ),
    tags=("stats", "inequality", "exact-integer"),
)
def q_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import hoover_index

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("g"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    return hoover_index(orders, "g", "v")


QSHAPE_ORACLE = """
    WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
    ),
    ranked AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v) AS r,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM base
    ),
    agg AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n,
               MAX(CASE WHEN r = (1 * n + 3) // 4 THEN v END) AS q1,
               MAX(CASE WHEN r = (2 * n + 3) // 4 THEN v END) AS q2,
               MAX(CASE WHEN r = (3 * n + 3) // 4 THEN v END) AS q3,
               MAX(CASE WHEN r = (1 * n + 7) // 8 THEN v END) AS e1,
               MAX(CASE WHEN r = (3 * n + 7) // 8 THEN v END) AS e3,
               MAX(CASE WHEN r = (5 * n + 7) // 8 THEN v END) AS e5,
               MAX(CASE WHEN r = (6 * n + 7) // 8 THEN v END) AS e6,
               MAX(CASE WHEN r = (2 * n + 7) // 8 THEN v END) AS e2,
               MAX(CASE WHEN r = (7 * n + 7) // 8 THEN v END) AS e7
        FROM ranked GROUP BY g
    )
    SELECT g AS group_key, n,
           CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2,
           CAST(q3 AS BIGINT) AS q3,
           CASE WHEN q3 - q1 > 0 THEN
                CAST((1000000 * (q3 + q1 - 2 * q2)) // (q3 - q1)
                     AS BIGINT) END AS bowley_ppm,
           CASE WHEN e6 - e2 > 0 THEN
                CAST((1000000 * ((e7 - e5) + (e3 - e1))) // (e6 - e2)
                     AS BIGINT) END AS moors_ppm,
           CASE WHEN q3 + q1 > 0 THEN
                CAST((1000000 * (q3 - q1)) // (q3 + q1) AS BIGINT) END
               AS qcd_ppm
    FROM agg
"""


@register(
    "q_quantile_shape",
    oracle=QSHAPE_ORACLE,
    doc=(
        "Quantile-based distribution shape of order value per priority "
        "stratum — Bowley skewness, Moors (octile) kurtosis and the "
        "quartile coefficient of dispersion from exact ceil-rank order "
        "statistics: the 100 TB-safe shape formulation (moment-based "
        "skew/kurt rationals overflow DECIMAL(38,0) on any realistic "
        "unit scale — quantile shape has NO powers at all). "
        "tests/test_r16_fresh_stats.py."
    ),
    tags=("stats", "shape", "quantile", "exact-order-statistic"),
)
def q_quantile_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import quantile_shape

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("g"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("v"),
    )
    return quantile_shape(orders, "g", "v")


VR_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    d AS (
        SELECT g,
               CASE WHEN t - lag(t, 1) OVER w = 1
                    THEN v - lag(v, 1) OVER w END AS r1,
               CASE WHEN t - lag(t, 2) OVER w = 2
                    THEN v - lag(v, 2) OVER w END AS r2,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n_points
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t)
    ),
    agg AS (
        SELECT g, CAST(MAX(n_points) AS BIGINT) AS n_points,
               CAST(COUNT(r1) AS BIGINT) AS n1,
               CAST(COUNT(r2) AS BIGINT) AS n2,
               SUM(CAST(r1 AS HUGEINT)) AS s1,
               SUM(CAST(r1 AS HUGEINT) * r1) AS q1,
               SUM(CAST(r2 AS HUGEINT)) AS s2,
               SUM(CAST(r2 AS HUGEINT) * r2) AS q2
        FROM d GROUP BY g
    )
    SELECT g AS group_key, n_points, n1, n2,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND n1 * q1 - s1 * s1 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * (n2 * q2 - s2 * s2)
                      * n1 * n1)
                     // (2 * (n1 * q1 - s1 * s1) * n2 * n2) AS BIGINT) END
               AS vr_ppm
    FROM agg
"""
)


@register(
    "q_variance_ratio",
    oracle=VR_ORACLE,
    doc=(
        "Lo-MacKinlay variance-ratio test (q=2) on per-nation monthly "
        "revenue — the random-walk diagnostic: Var(2-period diff) vs "
        "2x Var(1-period diff) as ONE exact DECIMAL floor over n-scaled "
        "integer moments; lag contiguity enforced at the lag level "
        "(gapped months drop from their own moment only). "
        "tests/test_r16_fresh_stats.py."
    ),
    tags=("stats", "timeseries", "exact-integer"),
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import variance_ratio

    return variance_ratio(_monthly_revenue(spark, sf_dir), "g", "t", "v")


FOSTER_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    d AS (
        SELECT g,
               CASE WHEN max(v) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    < v THEN 1 ELSE 0 END AS up,
               CASE WHEN min(v) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    > v THEN 1 ELSE 0 END AS lo
        FROM base
    )
    SELECT g AS group_key, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(up) AS BIGINT) AS n_up_records,
           CAST(SUM(lo) AS BIGINT) AS n_low_records,
           CAST(SUM(up) - SUM(lo) AS BIGINT) AS d_stat,
           CAST(SUM(up) + SUM(lo) AS BIGINT) AS s_stat
    FROM d GROUP BY g
"""
)


@register(
    "q_foster_stuart",
    oracle=FOSTER_ORACLE,
    doc=(
        "Foster-Stuart records test on per-nation monthly revenue — "
        "trend by RECORD counting (new all-time highs vs lows): "
        "d_stat = #upper - #lower records, s_stat = total record "
        "activity; pure integer strict-max/min windows over the "
        "preceding frame. tests/test_r16_fresh_stats.py."
    ),
    tags=("stats", "timeseries", "records", "exact-integer"),
)
def q_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import foster_stuart

    return foster_stuart(_monthly_revenue(spark, sf_dir), "g", "t", "v")


# md5 16x16 cell grid over customers (the q_spatial_autocorr grid),
# v = customer count per cell (non-negative, as Getis-Ord requires).
_GRID_COUNT_SQL = """
    cells AS (
        SELECT ('0x' || substr(md5('mx|' || CAST(c_custkey AS VARCHAR)),
                    1, 15))::BIGINT % 16 AS gx,
               ('0x' || substr(md5('my|' || CAST(c_custkey AS VARCHAR)),
                    1, 15))::BIGINT % 16 AS gy,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM customer GROUP BY 1, 2
    )
"""

GETIS_ORACLE = (
    "    WITH "
    + _GRID_COUNT_SQL
    + """,
    pairs AS (
        SELECT a.v AS va, b.v AS vb
        FROM cells a JOIN cells b ON b.gx = a.gx + 1 AND b.gy = a.gy
        UNION ALL
        SELECT a.v AS va, b.v AS vb
        FROM cells a JOIN cells b ON b.gx = a.gx AND b.gy = a.gy + 1
    ),
    pagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(CAST(va AS HUGEINT) * vb) AS wp
        FROM pairs
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               SUM(CAST(v AS HUGEINT)) AS s,
               SUM(CAST(v AS HUGEINT) * v) AS q
        FROM cells
    )
    SELECT n_cells,
           CAST(n_pairs * 2 AS BIGINT) AS w_edges,
           CASE WHEN n_pairs > 0 AND s * s - q > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * 2 * wp)
                     // (s * s - q) AS BIGINT) END AS g_ppm,
           CASE WHEN n_cells > 1 THEN
                CAST((CAST(1000000 AS HUGEINT) * 2 * n_pairs)
                     // (CAST(n_cells AS HUGEINT) * (n_cells - 1))
                     AS BIGINT) END AS expected_g_ppm
    FROM tot, pagg
"""
)


def _grid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.groupBy(
        F.expr(
            "CAST(conv(substr(md5(concat('mx|', CAST(c_custkey AS"
            " STRING))), 1, 15), 16, 10) AS BIGINT) % 16"
        ).alias("gx"),
        F.expr(
            "CAST(conv(substr(md5(concat('my|', CAST(c_custkey AS"
            " STRING))), 1, 15), 16, 10) AS BIGINT) % 16"
        ).alias("gy"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("v"))


@register(
    "q_getis_ord_g",
    oracle=GETIS_ORACLE,
    doc=(
        "Global Getis-Ord G over customer counts on the 16x16 md5 cell "
        "grid (rook adjacency) — the hot-spot companion of "
        "q_spatial_autocorr: do HIGH counts cluster (raw positive "
        "mass), vs Moran's do-similar-values-cluster. One exact "
        "DECIMAL floor; adjacency = two equi-joins + union. "
        "tests/test_r16_fresh_spatial.py."
    ),
    tags=("spatial", "stats", "exact-integer", "md5-family"),
)
def q_getis_ord_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.spatial import getis_ord_g

    return getis_ord_g(_grid_counts(spark, sf_dir), "gx", "gy", "v")


JOINCOUNT_ORACLE = (
    "    WITH "
    + _GRID_COUNT_SQL
    + """,
    flagged AS (SELECT gx, gy, v % 2 = 0 AS b FROM cells),
    edges AS (
        SELECT a.b AS ba, c.b AS bb_
        FROM flagged a JOIN flagged c ON c.gx = a.gx + 1 AND c.gy = a.gy
        UNION ALL
        SELECT a.b AS ba, c.b AS bb_
        FROM flagged a JOIN flagged c ON c.gx = a.gx AND c.gy = a.gy + 1
    ),
    pagg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN ba AND bb_ THEN 1 ELSE 0 END)
                    AS BIGINT) AS bb,
               CAST(SUM(CASE WHEN NOT ba AND NOT bb_ THEN 1 ELSE 0 END)
                    AS BIGINT) AS ww,
               CAST(SUM(CASE WHEN ba <> bb_ THEN 1 ELSE 0 END)
                    AS BIGINT) AS bw
        FROM edges
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT) AS n_w
        FROM flagged
    )
    SELECT n_cells, n_b, n_w, n_edges, bb, ww, bw,
           CASE WHEN n_cells > 1 THEN
                CAST((CAST(1000 AS HUGEINT) * 2 * n_edges * n_b * n_w)
                     // (CAST(n_cells AS HUGEINT) * (n_cells - 1))
                     AS BIGINT) END AS e_bw_milli,
           CASE WHEN n_edges > 0 AND n_b > 0 AND n_w > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * bw
                      * CAST(n_cells AS HUGEINT) * (n_cells - 1))
                     // (CAST(2 AS HUGEINT) * n_edges * n_b * n_w)
                     AS BIGINT) END AS bw_ratio_ppm
    FROM tot, pagg
"""
)


@register(
    "q_join_counts",
    oracle=JOINCOUNT_ORACLE,
    doc=(
        "Join-count statistics on the 16x16 md5 grid with cells "
        "flagged by customer-count parity — spatial autocorrelation "
        "for CATEGORICAL data (the binary sibling of Moran/G): "
        "observed BB/WW/BW rook-edge counts vs the exact nonfree-"
        "sampling expectation. tests/test_r16_fresh_spatial.py."
    ),
    tags=("spatial", "stats", "categorical", "exact-integer", "md5-family"),
)
def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.spatial import join_counts

    flagged = _grid_counts(spark, sf_dir).select(
        "gx", "gy", F.expr("v % 2 = 0").alias("is_b")
    )
    return join_counts(flagged, "gx", "gy", "is_b")


# --------------------------------------------------------------------------
# Wave 4: robust scale (Rousseeuw-Croux), SPC control chart, AD-weighted
# distribution distance (operators/stats.py). tests/test_r16_wave4.py.
# --------------------------------------------------------------------------

ROBUST_SCALE_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    idx AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v) AS i
        FROM base
    ),
    pairs AS (
        SELECT a.g, a.i AS ia, b.i AS ib,
               CAST(abs(a.v - b.v) AS BIGINT) AS d
        FROM idx a JOIN idx b ON b.g = a.g AND a.i <> b.i
    ),
    him AS (
        SELECT g, ia, d AS dh, ni + 1 AS n0 FROM (
            SELECT g, ia, ib, d,
                   row_number() OVER (PARTITION BY g, ia
                       ORDER BY d, ib) AS r,
                   COUNT(*) OVER (PARTITION BY g, ia) AS ni
            FROM pairs
        ) WHERE r = (ni + 1) // 2 + 1
    ),
    sn AS (
        SELECT g, dh AS sn_raw FROM (
            SELECT g, ia, dh,
                   row_number() OVER (PARTITION BY g
                       ORDER BY dh, ia) AS r2,
                   MAX(n0) OVER (PARTITION BY g) AS n0
            FROM him
        ) WHERE r2 = (n0 + 1) // 2
    ),
    cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g),
    qn AS (
        SELECT p.g, c.n,
               CAST(((c.n // 2 + 1) * (c.n // 2)) // 2 AS BIGINT) AS k_qn,
               MAX(CASE WHEN rr =
                   ((c.n // 2 + 1) * (c.n // 2)) // 2 THEN d END)
                   AS qn_raw
        FROM (
            SELECT g, d,
                   row_number() OVER (PARTITION BY g
                       ORDER BY d, ia, ib) AS rr
            FROM pairs WHERE ia < ib
        ) p JOIN cnt c ON c.g = p.g
        GROUP BY p.g, c.n
    )
    SELECT qn.g AS group_key, qn.n, qn.k_qn,
           CAST(sn.sn_raw AS BIGINT) AS sn_raw,
           CAST(qn.qn_raw AS BIGINT) AS qn_raw
    FROM qn LEFT JOIN sn ON sn.g = qn.g
"""
)


@register(
    "q_robust_scale",
    oracle=ROBUST_SCALE_ORACLE,
    doc=(
        "Rousseeuw-Croux Sn and Qn robust scale cores of per-nation "
        "monthly revenue — the 50%-breakdown MAD replacements, emitted "
        "as raw exact order statistics of the pairwise |v_i - v_j| "
        "multiset (consistency constants are irrational -> consumer-"
        "side). One bounded-group pair join + ranked windows. "
        "tests/test_r16_wave4.py."
    ),
    tags=("stats", "robust", "scale", "exact-order-statistic"),
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        robust_scale_pairs,
    )

    return robust_scale_pairs(_monthly_revenue(spark, sf_dir), "g", "v")


XBAR_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    subs AS (
        SELECT g, t // 3 AS sub,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS span,
               CAST(SUM(v) AS BIGINT) AS sum_k,
               CAST(MAX(v) - MIN(v) AS BIGINT) AS r_k
        FROM base GROUP BY 1, 2
    ),
    ok AS (SELECT * FROM subs WHERE cnt = 3 AND span = 2),
    tot AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(sum_k) AS BIGINT) AS tt,
               CAST(SUM(r_k) AS BIGINT) AS sr
        FROM ok GROUP BY g
    ),
    agg AS (
        SELECT o.g,
               CAST(MAX(t.m) AS BIGINT) AS n_subgroups,
               CAST(MAX(CASE WHEN t.m > 0 THEN (1000 * t.sr) // t.m END)
                    AS BIGINT) AS rbar_milli,
               CAST(SUM(CASE WHEN CAST(1000 AS HUGEINT)
                        * (t.m * o.sum_k - t.tt)
                        > CAST(1023 AS HUGEINT) * t.sr * 3
                        THEN 1 ELSE 0 END) AS BIGINT) AS ooc_high,
               CAST(SUM(CASE WHEN CAST(1000 AS HUGEINT)
                        * (t.m * o.sum_k - t.tt)
                        < -(CAST(1023 AS HUGEINT) * t.sr * 3)
                        THEN 1 ELSE 0 END) AS BIGINT) AS ooc_low
        FROM ok o JOIN tot t ON t.g = o.g
        GROUP BY o.g
    ),
    grp AS (SELECT DISTINCT g FROM base)
    SELECT grp.g AS group_key,
           CAST(COALESCE(a.n_subgroups, 0) AS BIGINT) AS n_subgroups,
           a.rbar_milli, a.ooc_high, a.ooc_low
    FROM grp LEFT JOIN agg a ON a.g = grp.g
"""
)


@register(
    "q_xbar_r_chart",
    oracle=XBAR_ORACLE,
    doc=(
        "X-bar/R control chart on per-nation monthly revenue, quarter "
        "subgroups (size 3, A2 = 1023/1000 — the published SPC "
        "constant as a rational literal): out-of-control quarter "
        "counts against X-dbar +- A2*R-bar with the test cleared of "
        "divisions (exact int64/DECIMAL both sides); complete+gapless "
        "subgroups only. The control-side companion of "
        "q_process_capability. tests/test_r16_wave4.py."
    ),
    tags=("stats", "spc", "timeseries", "exact-integer"),
)
def q_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import xbar_r_chart

    return xbar_r_chart(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", subgroup=3
    )


AD2S_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    cum AS (
        SELECT g,
               CAST(SUM(cx) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mj,
               CAST(SUM(cx + cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bj,
               CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS m,
               CAST(SUM(cx + cy) OVER (PARTITION BY g) AS BIGINT) AS nn
        FROM cells
    ),
    agg AS (
        SELECT g, CAST(MAX(m) AS BIGINT) AS m,
               CAST(MAX(nn - m) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN bj < nn THEN
                    (1000000 * (mj * nn - m * bj) * (mj * nn - m * bj))
                    // (bj * (nn - bj)) ELSE 0 END) AS BIGINT)
                   AS ad_scaled
        FROM cum GROUP BY g
    )
    SELECT g AS group_key, m, n, ad_scaled,
           CASE WHEN m > 0 AND n > 0 THEN
                CAST(ad_scaled // (m * n) AS BIGINT) END AS ad_ppm
    FROM agg
"""
)


@register(
    "q_anderson_darling",
    oracle=AD2S_ORACLE,
    doc=(
        "Anderson-Darling-weighted two-sample distance per nation on "
        "the even/odd-year revenue split — the TAIL-sensitive member "
        "of the shift family (KS/Kuiper weight the middle; AD's "
        "1/(F(1-F)) makes tails count): cell-floor variant, one exact "
        "integer floor per merged value cell, order-independent sum. "
        "tests/test_r16_wave4.py."
    ),
    tags=("stats", "nonparametric", "distribution-shift", "exact-integer"),
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        anderson_darling_2s,
    )

    return anderson_darling_2s(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


# --------------------------------------------------------------------------
# Wave 5: streaming engine-surface graduation — dropDuplicatesWithinWatermark
# (tests/test_r16_wave5.py)
# --------------------------------------------------------------------------

# Measured semantics (probed on this engine, the r14 watermark lesson):
# a row is DROPPED iff its key's FIRST-occurrence state is still live
# at its batch; state inserted on acceptance with expiry ts + delay;
# eviction at each commit uses the watermark ACTIVE during that batch
# (computed at the END of the batch before), so state for a row
# accepted in batch A is live at batch N iff
#     ts_A + delay >= max_ts(batches 1..N-2) - delay.
# The plant keeps every key to <= 2 occurrences so first-occurrence
# blockers suffice (a dropped duplicate creates no state).
STREAM_DEDUP_WM_ORACLE = """
    WITH ev AS (
        SELECT * FROM (VALUES
            (TIMESTAMP '2024-01-01 12:00:00', 'x', 1, 1),
            (TIMESTAMP '2024-01-01 12:01:00', 'y', 2, 1),
            (TIMESTAMP '2024-01-01 12:02:00', 'x', 3, 2),
            (TIMESTAMP '2024-01-01 12:40:00', 'z', 4, 3),
            (TIMESTAMP '2024-01-01 12:41:00', 'w', 5, 4),
            (TIMESTAMP '2024-01-01 12:42:00', 'y', 6, 5)
        ) AS t(ts, k, pay, batch)
    ),
    bmax AS (SELECT batch, MAX(ts) AS mx FROM ev GROUP BY batch),
    wmact AS (
        -- watermark ACTIVE during batch N = max event time of batches
        -- 1..N-1 minus delay; eviction before batch N's dedup ran at
        -- the END of batch N-1 with ITS active watermark, i.e.
        -- max ts of batches 1..N-2 minus delay
        SELECT batch,
               MAX(mx) OVER (ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 10 MINUTE AS evict_wm
        FROM bmax
    ),
    fst AS (
        SELECT k, MIN(batch) AS b0 FROM ev GROUP BY k
    ),
    fst_ts AS (
        SELECT e.k, e.batch AS b0, e.ts AS ts0
        FROM ev e JOIN fst ON fst.k = e.k AND fst.b0 = e.batch
    ),
    emitted AS (
        SELECT e.* FROM ev e
        JOIN fst_ts f ON f.k = e.k
        JOIN wmact w ON w.batch = e.batch
        WHERE e.batch = f.b0
           OR NOT (w.evict_wm IS NULL
                   OR f.ts0 + INTERVAL 10 MINUTE >= w.evict_wm)
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_emitted,
           CAST(SUM(pay) AS BIGINT) AS sum_pay,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM emitted GROUP BY k
"""


@register(
    "q_stream_dedup_watermark",
    oracle=STREAM_DEDUP_WM_ORACLE,
    doc=(
        "dropDuplicatesWithinWatermark, query-backed (Spark 3.5+ "
        "bounded-state streaming dedup — the engine surface that makes "
        "exactly-once event dedup POSSIBLE at 100 TB: plain "
        "dropDuplicates state grows forever; within-watermark state "
        "is evicted at ts + delay): a 5-file maxFilesPerTrigger=1 "
        "staging plants an in-delay duplicate (dropped), a watermark-"
        "raising batch, a key whose evicted state re-admits its next "
        "occurrence, and a fresh key. The oracle spells the LAGGED "
        "eviction semantics analytically over the same VALUES (the "
        "r14 watermark rule: eviction before batch N's dedup uses max "
        "event time of batches 1..N-2 minus delay). Emitted rows come "
        "back through a real parquet append sink, localCheckpoint'd "
        "before the temp dir is removed. tests/test_r16_wave5.py."
    ),
    bench=False,  # fixed synthetic staging; mechanism doesn't scale with SF
    tags=("streaming", "dedup", "watermark", "engine-surface"),
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    def batch(values_sql):
        # JVM-side SQL VALUES with timestamp literals: a Python-rows
        # frame re-runs the Python runner on every write action (~5.5 s
        # per tiny file, measured: 40 s of a 46 s query).
        return spark.sql(
            f"SELECT * FROM (VALUES {values_sql}) AS t(ts, k, pay)"
        )

    def ts(m):
        return f"TIMESTAMP'2024-01-01 12:{m:02d}:00'"

    with drain_workdir(spark) as work:
        ckpt, out = f"{work}/ckpt", f"{work}/out"
        src = stage_files(
            work,
            [
                batch(f"({ts(0)}, 'x', 1L), ({ts(1)}, 'y', 2L)"),
                batch(f"({ts(2)}, 'x', 3L)"),  # in-delay dup
                batch(f"({ts(40)}, 'z', 4L)"),  # raises event time
                batch(f"({ts(41)}, 'w', 5L)"),  # x/y still live
                batch(f"({ts(42)}, 'y', 6L)"),  # y evicted/readmit
            ],
        )
        q = (
            spark.readStream.schema("ts TIMESTAMP, k STRING, pay LONG")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, 300)
        return (
            spark.read.parquet(out)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_emitted"),
                F.sum("pay").cast("bigint").alias("sum_pay"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
            .localCheckpoint(eager=True)
        )


def _minhash_calibration_oracle(
    k: int = 32, bands: int = 8, seed: int = 42
) -> str:
    """DuckDB twin of ``minhash_calibration(hash_family='md5')``: the
    registration-proven minhash-md5 pair pipeline (same affine
    constants, band keys, exact-Jaccard verify) extended with the
    per-pair signature-agreement count — 32 equality terms over the
    same sigs CTE — and the decile rollup."""
    from kafka_streams_aggregate_spark.operators.dedup import (
        _MERSENNE61,
        _affine_params,
    )
    from kafka_streams_aggregate_spark.queries.llm_data import _SHINGLE_IDX

    params = _affine_params(k, seed)
    rpb = k // bands
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE61}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, substr(md5("
        + " || ',' || ".join(
            f"s{bi * rpb + ri}::VARCHAR" for ri in range(rpb)
        )
        + "), 1, 16) AS bkey FROM sigs"
        for bi in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
    WITH idx AS ({_SHINGLE_IDX}),
    hs AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT
                   % 2147483648 AS h
        FROM idx
    ),
    sigs AS (
        SELECT doc_id,
           {mins}
        FROM hs GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS cnt
        FROM cand c
        JOIN idx a ON a.doc_id = c.id_a
        JOIN idx b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT id_a, id_b,
               CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE)
                   AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE)
              >= 0.02
    ),
    scored AS (
        SELECT ({agree}) AS agree,
               CAST(floor(1000000 * p.jaccard) AS BIGINT) AS exact_ppm
        FROM pairs p
        JOIN sigs x ON x.doc_id = p.id_a
        JOIN sigs y ON y.doc_id = p.id_b
    )
    SELECT CAST((10 * agree) // {k} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((1000000 * agree) // {k}) AS BIGINT) AS sum_est_ppm,
           CAST(SUM(exact_ppm) AS BIGINT) AS sum_exact_ppm,
           CAST(SUM(abs((1000000 * agree) // {k} - exact_ppm))
                AS BIGINT) AS sum_abs_err_ppm
    FROM scored GROUP BY 1
    """


@register(
    "q_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    doc=(
        "MinHash estimator calibration audit on the md5 hash family — "
        "for every LSH-verified near-dup pair, the signature-agreement "
        "estimate (agree/k, the textbook unbiased estimator) next to "
        "the exact Jaccard the verify stage computed, rolled up per "
        "estimated decile with absolute-error sums: the "
        "dedup-threshold calibration check a 100 TB corpus owner runs "
        "BEFORE tuning (k is the variance knob). Reuses the proven "
        "q_dedup_minhash_lsh_md5 pipeline end to end. "
        "tests/test_r16_wave5.py."
    ),
    tags=("llm-data", "dedup", "minhash", "audit", "md5-family"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        minhash_calibration,
    )

    return minhash_calibration(
        load_table(spark, "documents", sf_dir), hash_family="md5"
    )


# --------------------------------------------------------------------------
# Wave 6: rank autocorrelation, hapax profile, event-gap cadence
# (tests/test_r16_wave6.py)
# --------------------------------------------------------------------------

RANK_AUTOCORR_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    lagged AS (
        SELECT g, t,
               lag(v) OVER (PARTITION BY g ORDER BY t) AS x,
               v AS y,
               t - lag(t) OVER (PARTITION BY g ORDER BY t) AS dt
        FROM base
    ),
    pairs AS (SELECT g, t, x, y FROM lagged WHERE dt = 1),
    ranked AS (
        SELECT g,
               CAST(row_number() OVER (PARTITION BY g ORDER BY x, t)
                    AS BIGINT) AS rx,
               CAST(row_number() OVER (PARTITION BY g ORDER BY y, t)
                    AS BIGINT) AS ry
        FROM pairs
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
        FROM ranked GROUP BY g
    )
    SELECT g AS group_key, n, sum_d2,
           1.0 - CAST(sum_d2 * 6 AS DOUBLE)
                 / CAST(n * (n * n - 1) AS DOUBLE) AS spearman_rho
    FROM agg WHERE n >= 2
"""
)


@register(
    "q_rank_autocorr",
    oracle=RANK_AUTOCORR_ORACLE,
    doc=(
        "Spearman lag-1 serial correlation of per-nation monthly "
        "revenue — the ROBUST serial-dependence companion of "
        "q_pacf2/q_durbin_watson (moment autocorrelations chase "
        "outlier months; rank autocorrelation doesn't): gapless "
        "(t - lag(t) = 1) value pairs through the registration-proven "
        "spearman_rank_corr core (dense permutation ranks, exact "
        "sum_d2, one-divide rho). tests/test_r16_wave6.py."
    ),
    tags=("stats", "timeseries", "rank", "robust"),
)
def q_rank_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_streams_aggregate_spark.operators.stats import (
        spearman_rank_corr,
    )

    w = Window.partitionBy("g").orderBy("t")
    lagged = _monthly_revenue(spark, sf_dir).select(
        "g",
        "t",
        F.lag("v").over(w).alias("x"),
        F.col("v").alias("y"),
        (F.col("t") - F.lag("t").over(w)).alias("dt"),
    )
    pairs = lagged.where(F.col("dt") == 1).select("g", "t", "x", "y")
    return spearman_rank_corr(pairs, "g", "x", "y", "t")


HAPAX_ORACLE = """
    WITH occ AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM occ GROUP BY source, tok
    ),
    agg AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS tokens_total,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dis
        FROM counts GROUP BY source
    )
    SELECT source, tokens_total, vocab_size, n_hapax, n_dis,
           CASE WHEN vocab_size > 0 THEN
                CAST((1000000 * n_hapax) // vocab_size AS BIGINT) END
               AS hapax_ppm
    FROM agg
"""


@register(
    "q_hapax_ratio",
    oracle=HAPAX_ORACLE,
    doc=(
        "Hapax/dis-legomena vocabulary profile per source — the "
        "one-number vocabulary-health check next to q_zipf_rank_freq "
        "and q_heaps_law: high once-word share = noisy/productive "
        "text, abnormally low = boilerplate. Exact integer counts, "
        "word-count shape. tests/test_r16_wave6.py."
    ),
    tags=("llm-data", "text", "quality", "exact-integer"),
)
def q_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import hapax_ratio

    return hapax_ratio(load_table(spark, "documents", sf_dir))


EVENT_GAP_ORACLE = """
    WITH base AS (
        SELECT event_type AS g, epoch_ms(ts) AS ms, event_id AS id
        FROM events
    ),
    gaps AS (
        SELECT g,
               ms - lag(ms) OVER (PARTITION BY g ORDER BY ms, id) AS gap
        FROM base
    ),
    ranked AS (
        SELECT g, gap,
               CAST(row_number() OVER (PARTITION BY g ORDER BY gap)
                    AS BIGINT) AS r,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS ng
        FROM gaps WHERE gap IS NOT NULL
    ),
    agg AS (
        SELECT g, CAST(MAX(ng) AS BIGINT) AS n_gaps,
               CAST(MAX(CASE WHEN r = (50 * ng + 99) // 100
                    THEN gap END) AS BIGINT) AS p50_gap_ms,
               CAST(MAX(CASE WHEN r = (90 * ng + 99) // 100
                    THEN gap END) AS BIGINT) AS p90_gap_ms,
               CAST(MAX(gap) AS BIGINT) AS max_gap_ms
        FROM ranked GROUP BY g
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM base GROUP BY g
    )
    SELECT grp.g AS group_key, grp.n_events,
           CAST(COALESCE(a.n_gaps, 0) AS BIGINT) AS n_gaps,
           a.p50_gap_ms, a.p90_gap_ms, a.max_gap_ms
    FROM grp LEFT JOIN agg a ON a.g = grp.g
"""


@register(
    "q_event_gap_profile",
    oracle=EVENT_GAP_ORACLE,
    doc=(
        "Inter-arrival gap profile per event type — feed-liveness/SLA "
        "cadence: exact epoch-ms gaps under the (ts, id) total order "
        "with ceil-rank median/p90/max (events.ts is a true TIMESTAMP "
        "— unix_millis is safe there, the CLAUDE.md rule; the loader's "
        "ns->us truncation matches DuckDB's). "
        "tests/test_r16_wave6.py."
    ),
    tags=("stats", "events", "cadence", "exact-order-statistic"),
)
def q_event_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        event_gap_profile,
    )

    ev = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("g"),
        F.unix_millis("ts").alias("ms"),
        F.col("event_id").alias("id"),
    )
    return event_gap_profile(ev, "g", "ms", "id")


# --------------------------------------------------------------------------
# Wave 7: same-round graduation of the staged r17 pair (the r14/r15
# precedent) — Mann-Whitney U + Brunner-Munzel on the epoch split.
# Oracle texts single-sourced here; tests/test_r17_stage.py imports
# them. The staging queue is restocked (SURVEY §15).
# --------------------------------------------------------------------------

# (the staged texts carry their own base+cells CTE block)
_MONTHLY_X_STAGE = """
    base AS (
        SELECT g, t, v, (t // 12) % 2 = 0 AS in_x FROM (
            SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                   CAST((year(o.o_orderdate) - 1992) * 12
                        + month(o.o_orderdate) - 1 AS BIGINT) AS t,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        )
    ),
    cells AS (
        SELECT g, v,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS cx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS cy
        FROM base GROUP BY g, v
    )
"""

MWU_ORACLE = (
    "    WITH "
    + _MONTHLY_X_STAGE
    + """,
    cum AS (
        SELECT g, cx, cy,
               CAST(SUM(cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_y,
               CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS m,
               CAST(SUM(cy) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM cells
    ),
    agg AS (
        SELECT g, CAST(MAX(m) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(2 * cx * (cum_y - cy) + cx * cy) AS BIGINT)
                   AS u2,
               CAST(SUM((cx + cy) * (cx + cy) * (cx + cy) - (cx + cy))
                    AS BIGINT) AS tie_term
        FROM cum GROUP BY g
    )
    SELECT g AS group_key, m, n, u2, tie_term,
           CASE WHEN m > 0 AND n > 0 AND
                (m + n) * (m + n) * (m + n) - (m + n) - tie_term > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * 3
                      * (u2 - m * n) * (u2 - m * n)
                      * (m + n) * (m + n - 1))
                     // (CAST(m AS HUGEINT) * n
                         * ((m + n) * (m + n) * (m + n) - (m + n)
                            - tie_term)) AS BIGINT) END AS z2_ppm
    FROM agg
"""
)

BM_ORACLE = (
    "    WITH "
    + _MONTHLY_X_STAGE
    + """,
    placed AS (
        SELECT g, cx, cy,
               CAST(2 * (SUM(cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cy) + cy AS BIGINT)
                   AS dx,
               CAST(2 * (SUM(cx) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cx) + cx AS BIGINT)
                   AS dy,
               CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS m,
               CAST(SUM(cy) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM cells
    ),
    sums AS (
        SELECT g, CAST(MAX(m) AS BIGINT) AS m,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(cx * dx) AS BIGINT) AS a,
               CAST(SUM(cy * dy) AS BIGINT) AS b
        FROM placed GROUP BY g
    ),
    v12 AS (
        SELECT p.g,
               SUM(p.cx * (CAST(p.m AS HUGEINT) * p.dx - s.a)
                        * (CAST(p.m AS HUGEINT) * p.dx - s.a)) AS v1,
               SUM(p.cy * (CAST(p.n AS HUGEINT) * p.dy - s.b)
                        * (CAST(p.n AS HUGEINT) * p.dy - s.b)) AS v2
        FROM placed p JOIN sums s ON s.g = p.g
        GROUP BY p.g
    )
    SELECT s.g AS group_key, s.m, s.n,
           CAST(s.m * s.n * (s.n - s.m) + s.m * s.b - s.n * s.a
                AS BIGINT) AS num,
           CASE WHEN s.m >= 2 AND s.n >= 2
                AND v.v1 * (s.n - 1) + v.v2 * (s.m - 1) > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * (s.m * s.n * (s.n - s.m) + s.m * s.b
                         - s.n * s.a)
                      * (s.m * s.n * (s.n - s.m) + s.m * s.b
                         - s.n * s.a)
                      * (s.m - 1) * (s.n - 1))
                     // (CAST(s.m + s.n AS HUGEINT)
                         * (v.v1 * (s.n - 1) + v.v2 * (s.m - 1)))
                     AS BIGINT) END AS w2_ppm
    FROM sums s JOIN v12 v ON v.g = s.g
"""
)


@register(
    "q_mann_whitney",
    oracle=MWU_ORACLE,
    doc=(
        "Mann-Whitney U with tie-corrected z² per nation on the "
        "even/odd-year monthly-revenue split — the PLAIN rank-sum "
        "completing the family around fligner_policello (its "
        "Behrens-Fisher variant) and cucconi (location-scale): "
        "2U = 2*n_gt + n_ties from the merged value cells, the "
        "standard tie-corrected variance cleared into ONE "
        "DECIMAL(38,0) floor; all-tied -> NULL. "
        "tests/test_r17_stage.py (staged r17, graduated same-round "
        "per the r14 precedent)."
    ),
    tags=("stats", "nonparametric", "rank-sum", "exact-integer"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import mann_whitney_u

    return mann_whitney_u(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


@register(
    "q_brunner_munzel",
    oracle=BM_ORACLE,
    doc=(
        "Brunner-Munzel W² per nation on the same epoch split — the "
        "Behrens-Fisher rank test keeping BOTH sample variances "
        "(fligner_policello pools them): doubled placements from one "
        "cumulative window, n-scaled placement variance numerators, "
        "the published W² cleared into one exact DECIMAL rational "
        "(hand-pinned against the rank formulation); separation/"
        "all-tied -> NULL with the direction kept in num. "
        "tests/test_r17_stage.py (staged r17, graduated same-round)."
    ),
    tags=("stats", "nonparametric", "behrens-fisher", "exact-integer"),
)
def q_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import brunner_munzel

    return brunner_munzel(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


# --------------------------------------------------------------------------
# Wave 8: corpus-comparison text pair (operators/text.py;
# tests/test_r16_wave8.py)
# --------------------------------------------------------------------------

VOCAB_OVERLAP_ORACLE = """
    WITH occ AS (
        SELECT DISTINCT source,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
        FROM occ GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM occ a JOIN occ b
          ON b.tok = a.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
           i.n_common,
           CAST((1000000 * i.n_common) // (sa.sz + sb.sz - i.n_common)
                AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
"""


@register(
    "q_vocab_overlap",
    oracle=VOCAB_OVERLAP_ORACLE,
    doc=(
        "Pairwise vocabulary-overlap matrix between sources — exact "
        "Jaccard of distinct-token sets per unordered source pair, "
        "the corpus-comparison number a mixture designer reads before "
        "merging sources (near-disjoint = complementary, "
        "near-identical = redundancy). Intersection via the token "
        "equi-key self-join — vocabulary-sized, never corpus^2. "
        "tests/test_r16_wave8.py."
    ),
    tags=("llm-data", "text", "corpus-comparison", "exact-integer"),
)
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import (
        vocab_overlap_matrix,
    )

    return vocab_overlap_matrix(load_table(spark, "documents", sf_dir))


BURSTINESS_ORACLE = """
    WITH occ AS (
        SELECT source, doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    prof AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM occ GROUP BY source, tok
    ),
    agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(cf) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN cf > df THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bursty_types,
               CAST(SUM((1000 * cf) // df) AS BIGINT) AS bm
        FROM prof GROUP BY source
    )
    SELECT source, n_types, n_tokens, n_bursty_types,
           CASE WHEN n_types > 0 THEN
                CAST(bm // n_types AS BIGINT) END AS avg_burst_milli
    FROM agg
"""


@register(
    "q_token_burstiness",
    oracle=BURSTINESS_ORACLE,
    doc=(
        "Token burstiness per source (Church-Gale): per-type cf/df "
        "floored to milli (exact, order-independent sum), averaged "
        "over the vocabulary — content words clump, function words "
        "spread; ~1000 flags templated/function-word text next to "
        "q_hapax_ratio's once-word share. tests/test_r16_wave8.py."
    ),
    tags=("llm-data", "text", "quality", "exact-integer"),
)
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import (
        token_burstiness,
    )

    return token_burstiness(load_table(spark, "documents", sf_dir))


# --------------------------------------------------------------------------
# Wave 9: general categorical association + targeting report
# (tests/test_r16_wave9.py)
# --------------------------------------------------------------------------

CHI2_ORACLE = """
    WITH base AS (
        SELECT r.r_name AS g, n.n_name AS rr, o.o_orderpriority AS cc
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS (
        SELECT g, rr, cc, CAST(COUNT(*) AS BIGINT) AS o
        FROM base GROUP BY g, rr, cc
    ),
    marg AS (
        SELECT g, o,
               CAST(SUM(o) OVER (PARTITION BY g, rr) AS BIGINT) AS rm,
               CAST(SUM(o) OVER (PARTITION BY g, cc) AS BIGINT) AS cm,
               CAST(SUM(o) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT rr) OVER (PARTITION BY g) AS BIGINT)
                   AS rl,
               CAST(COUNT(DISTINCT cc) OVER (PARTITION BY g) AS BIGINT)
                   AS cl
        FROM cells
    ),
    agg AS (
        SELECT g, CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(rl) AS BIGINT) AS r_levels,
               CAST(MAX(cl) AS BIGINT) AS c_levels,
               SUM((CAST(1000 AS HUGEINT)
                    * (o * n - rm * cm) * (o * n - rm * cm))
                   // (CAST(rm AS HUGEINT) * cm)) AS t1,
               SUM(CAST(1000 AS HUGEINT) * rm * cm) AS t2
        FROM marg GROUP BY g
    )
    SELECT g AS group_key, n, r_levels, c_levels,
           CAST((t1 - t2 + CAST(1000 AS HUGEINT) * n * n) // n
                AS BIGINT) AS chi2_milli,
           CASE WHEN least(r_levels, c_levels) >= 2 THEN
                CAST((1000 * (t1 - t2 + CAST(1000 AS HUGEINT) * n * n))
                     // (CAST(n AS HUGEINT) * n
                         * (least(r_levels, c_levels) - 1)) AS BIGINT)
           END AS v2_ppm
    FROM agg
"""


@register(
    "q_chi2_contingency",
    oracle=CHI2_ORACLE,
    doc=(
        "Pearson chi-square + Cramér's V² of the nation x order-"
        "priority contingency table per region — the GENERAL RxC "
        "categorical association test next to q_assoc_2x2 (2x2) and "
        "q_cochran_armitage (ordered): per-cell exact integer floors "
        "(the AD cell-floor discipline), marginals by window, no "
        "joins after the rollup. tests/test_r16_wave9.py."
    ),
    tags=("stats", "categorical", "association", "exact-integer"),
)
def q_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        chi2_contingency,
    )

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    base = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(nation, nation.n_nationkey == cust.c_nationkey)
        .join(region, region.r_regionkey == nation.n_regionkey)
        .select(
            F.col("r_name").alias("g"),
            F.col("n_name").alias("rr"),
            F.col("o_orderpriority").alias("cc"),
        )
    )
    return chi2_contingency(base, "g", "rr", "cc")


# Synthetic model score from the md5 family (the seeded-constants
# discipline): 8 * is_urgent + md5 residue in 0..7 — a deterministic
# "model" whose top buckets genuinely front-load the positives, so
# lift > 1 up top and < 1 below (non-vacuous at every SF).
_LIFT_SCORE_SQL = """
        SELECT o_orderkey AS id,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS y,
               8 * (CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END)
               + ('0x' || substr(md5('lift|'
                     || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 8
                   AS score
        FROM orders
"""

LIFT_ORACLE = f"""
    WITH scored AS ({_LIFT_SCORE_SQL}),
    ranked AS (
        SELECT y,
               CAST(row_number() OVER (ORDER BY score DESC, id ASC)
                    AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM scored
    ),
    buck AS (
        SELECT y, n, ((r - 1) * 10) // n + 1 AS bucket FROM ranked
    ),
    agg AS (
        SELECT bucket, CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM buck GROUP BY bucket
    ),
    cum AS (
        SELECT bucket, n, n_rows, n_pos,
               CAST(SUM(n_pos) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
               CAST(SUM(n_pos) OVER () AS BIGINT) AS tot
        FROM agg
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_rows, n_pos,
           CASE WHEN tot > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * n_pos * n)
                     // (CAST(n_rows AS HUGEINT) * tot) AS BIGINT) END
               AS lift_ppm,
           CASE WHEN tot > 0 THEN
                CAST((1000000 * cum_pos) // tot AS BIGINT) END
               AS cum_gain_ppm
    FROM cum
"""


@register(
    "q_decile_lift",
    oracle=LIFT_ORACLE,
    doc=(
        "Decile lift + cumulative gains — the campaign-targeting "
        "report completing the ml_eval family (auc/pr-sweep/"
        "calibration): md5-derived deterministic model score that "
        "front-loads urgent orders, exact ceil-rank deciles under the "
        "(score desc, id) total order, lift and gains as exact "
        "integer rationals. Scale path documented on the operator "
        "(score-histogram bucket edges). tests/test_r16_wave9.py."
    ),
    tags=("ml-eval", "lift", "md5-family", "exact-integer"),
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import decile_lift

    scored = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("id"),
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("y"),
        F.expr(
            "8 * (CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0"
            " END) + CAST(conv(substr(md5(concat('lift|',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 8"
        ).alias("score"),
    )
    return decile_lift(scored, "score", "y", "id")


# --------------------------------------------------------------------------
# Wave 10: quantile-forecast eval pair (tests/test_r16_wave10.py)
# --------------------------------------------------------------------------

PINBALL_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    ev AS (
        SELECT g, v - lag(v, 12) OVER w AS e
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t)
        QUALIFY t - lag(t, 12) OVER w = 12
    )
    SELECT g AS group_key, CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(900 * greatest(e, 0) + 100 * greatest(-e, 0))
                AS BIGINT) AS loss1000_total,
           CAST(SUM(900 * greatest(e, 0) + 100 * greatest(-e, 0))
                // COUNT(*) AS BIGINT) AS mean_loss_milli
    FROM ev GROUP BY g
"""
)


@register(
    "q_pinball_loss",
    oracle=PINBALL_ORACLE,
    doc=(
        "Pinball (quantile, q = 0.9) loss of the seasonal-naive "
        "forecast on per-nation monthly revenue — the eval number for "
        "QUANTILE forecasts next to q_forecast_wape/q_mase_eval "
        "(service-level planning scores the 90th percentile, which "
        "penalizes under-forecasting 9x): exact 1000-scaled integer "
        "loss, lag-level contiguity gate. tests/test_r16_wave10.py."
    ),
    tags=("stats", "forecast-eval", "quantile", "exact-integer"),
)
def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        pinball_loss_eval,
    )

    return pinball_loss_eval(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12,
        q_milli=900,
    )


SMAPE_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    ev AS (
        SELECT g, v AS y, lag(v, 12) OVER w AS yh
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t)
        QUALIFY t - lag(t, 12) OVER w = 12
    ),
    agg AS (
        SELECT g,
               CAST(SUM(CASE WHEN y + yh <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_eval,
               CAST(SUM(CASE WHEN y + yh = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN y + yh <> 0 THEN
                    (2000 * abs(y - yh)) // (y + yh) ELSE 0 END)
                    AS BIGINT) AS pm
        FROM ev GROUP BY g
    )
    SELECT g AS group_key, n_eval, n_dropped,
           CASE WHEN n_eval > 0 THEN
                CAST(pm // n_eval AS BIGINT) END AS smape_milli
    FROM agg
"""
)


@register(
    "q_smape_eval",
    oracle=SMAPE_ORACLE,
    doc=(
        "Symmetric MAPE of the seasonal-naive forecast per nation — "
        "the per-point-normalized sibling of q_forecast_wape (every "
        "month one vote instead of volume-weighting): per-point "
        "2|e|/(y+yhat) floored to milli (exact order-independent "
        "sum), zero-denominator points dropped AND counted. "
        "tests/test_r16_wave10.py."
    ),
    tags=("stats", "forecast-eval", "exact-integer"),
)
def q_smape_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import smape_eval

    return smape_eval(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


# --------------------------------------------------------------------------
# Wave 11: same-round graduation of the staged r17 batch-2 pair (Mood,
# Conover squared-ranks — the r14/r15 precedent). Oracle texts
# single-sourced here; tests/test_r17_stage2.py imports them. The
# staging queue is restocked with Lepage (SURVEY §15).
# --------------------------------------------------------------------------

_MONTHLY_X_SCALE = """
    base AS (
        SELECT g, t, v, (t // 12) % 2 = 0 AS in_x FROM (
            SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                   CAST((year(o.o_orderdate) - 1992) * 12
                        + month(o.o_orderdate) - 1 AS BIGINT) AS t,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        )
    )
"""

# shared SRS-moment tail: z2 = (N*T - m*S1)^2 (N-1) / (mn (N*S2 - S1^2))
_CORE_TAIL = """
    agg AS (
        SELECT g, CAST(SUM(cx) AS BIGINT) AS m,
               CAST(SUM(cy) AS BIGINT) AS n,
               SUM(cx * CAST(s AS HUGEINT)) AS t,
               SUM((cx + cy) * CAST(s AS HUGEINT)) AS s1,
               SUM((cx + cy) * CAST(s AS HUGEINT) * s) AS s2
        FROM scored GROUP BY g
    )
    SELECT g AS group_key, m, n, CAST(t AS BIGINT) AS t_stat,
           CASE WHEN m > 0 AND n > 0
                AND (m + n) * s2 - s1 * s1 > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * ((m + n) * t - m * s1) * ((m + n) * t - m * s1)
                      * (m + n - 1))
                     // (CAST(m AS HUGEINT) * n
                         * ((m + n) * s2 - s1 * s1)) AS BIGINT) END
               AS z2_ppm
    FROM agg
"""

MOODSCALE_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SCALE
    + """,
    cells AS (
        SELECT g, v,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS cx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS cy
        FROM base GROUP BY g, v
    ),
    ranked AS (
        SELECT g, cx, cy,
               CAST(2 * (SUM(cx + cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cx - cy)
                    + cx + cy + 1 AS BIGINT) AS r2,
               CAST(SUM(cx + cy) OVER (PARTITION BY g) AS BIGINT) AS nn
        FROM cells
    ),
    scored AS (
        SELECT g, cx, cy,
               CAST((r2 - (nn + 1)) * (r2 - (nn + 1)) AS BIGINT) AS s
        FROM ranked
    ),
"""
    + _CORE_TAIL
)

CONOVER_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SCALE
    + """,
    moms AS (
        SELECT g,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS m_,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_,
               CAST(SUM(CASE WHEN in_x THEN v ELSE 0 END) AS BIGINT)
                   AS sx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE v END) AS BIGINT)
                   AS sy
        FROM base GROUP BY g
    ),
    dev AS (
        SELECT b.g, b.in_x,
               CAST(CASE WHEN b.in_x THEN mo.n_ * abs(mo.m_ * b.v - mo.sx)
                    ELSE mo.m_ * abs(mo.n_ * b.v - mo.sy) END AS BIGINT)
                   AS v
        FROM base b JOIN moms mo ON mo.g = b.g
    ),
    cells AS (
        SELECT g, v,
               CAST(SUM(CASE WHEN in_x THEN 1 ELSE 0 END) AS BIGINT)
                   AS cx,
               CAST(SUM(CASE WHEN in_x THEN 0 ELSE 1 END) AS BIGINT)
                   AS cy
        FROM dev GROUP BY g, v
    ),
    ranked AS (
        SELECT g, cx, cy,
               CAST(2 * (SUM(cx + cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cx - cy)
                    + cx + cy + 1 AS BIGINT) AS r2,
               CAST(SUM(cx + cy) OVER (PARTITION BY g) AS BIGINT) AS nn
        FROM cells
    ),
    scored AS (
        SELECT g, cx, cy, CAST(r2 * r2 AS BIGINT) AS s FROM ranked
    ),
"""
    + _CORE_TAIL
)


@register(
    "q_mood_scale",
    oracle=MOODSCALE_ORACLE,
    doc=(
        "Mood two-sample scale test per nation on the even/odd-year "
        "monthly-revenue split — M = sum over X of (R-(N+1)/2)^2 in "
        "doubled-midrank space (every score integer under ties), z2 "
        "from the EXACT finite-population SRS moments of the score "
        "sum (no no-tie approximation). "
        "tests/test_r17_stage2.py (staged r17 batch 2, graduated "
        "same-round per the r14 precedent)."
    ),
    tags=("stats", "nonparametric", "scale", "exact-integer"),
)
def q_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        mood_scale_test,
    )

    return mood_scale_test(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


@register(
    "q_conover_scale",
    oracle=CONOVER_ORACLE,
    doc=(
        "Conover squared-ranks scale test per nation on the same "
        "epoch split — the scale test that stays valid when locations "
        "differ (ansari/mood rank raw values, so a shift masquerades "
        "as spread): integer common-scale absolute deviations "
        "mn|v - mean| per sample, doubled pooled midranks, scores "
        "R2^2, exact SRS z2. NULL under a pure location shift with "
        "equal spread (all deviations tie) — the location-invariance "
        "pin. tests/test_r17_stage2.py (staged r17 batch 2, graduated "
        "same-round)."
    ),
    tags=("stats", "nonparametric", "scale", "exact-integer"),
)
def q_conover_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        conover_squared_ranks,
    )

    return conover_squared_ranks(
        _monthly_epoch_split(spark, sf_dir), "g", "in_x", "v"
    )


# --------------------------------------------------------------------------
# Wave 12: streaming-telemetry engine-row graduation — the progress
# feed itself as verified data (tests/test_r16_wave12.py)
# --------------------------------------------------------------------------

# The same planted batches, spelled analytically: numInputRows = rows
# per file, numRowsUpdated = distinct keys touched per batch,
# numRowsTotal = cumulative distinct keys (watermark-free agg: state
# never evicts).
STREAM_TELEMETRY_ORACLE = """
    WITH ev AS (
        SELECT * FROM (VALUES
            ('a', 0), ('b', 0), ('a', 0),
            ('b', 1),
            ('c', 2), ('d', 2)
        ) AS t(k, batch)
    ),
    per AS (
        SELECT batch,
               CAST(COUNT(*) AS BIGINT) AS num_input_rows,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS rows_updated
        FROM ev GROUP BY batch
    ),
    cum AS (
        SELECT p.batch, p.num_input_rows, p.rows_updated,
               (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM ev
                WHERE ev.batch <= p.batch) AS state_rows_total
        FROM per p
    )
    SELECT CAST(batch AS BIGINT) AS batch_id, num_input_rows,
           rows_updated, state_rows_total
    FROM cum
"""


@register(
    "q_stream_telemetry",
    oracle=STREAM_TELEMETRY_ORACLE,
    doc=(
        "Streaming telemetry, query-backed (graduating the LAST "
        "non-environment-gated engine row — the progress feed was "
        "previously listener-test-pinned only): a 3-file "
        "maxFilesPerTrigger=1 drain over planted JVM-literal batches, "
        "with the per-batch PROGRESS METRICS themselves as the "
        "compared data — numInputRows, stateOperator numRowsUpdated "
        "and numRowsTotal — oracled ANALYTICALLY over the same "
        "planted VALUES (rows per file / distinct keys touched / "
        "cumulative distinct keys; watermark-free agg so state never "
        "evicts). Telemetry that silently under- or over-counts is "
        "how 100 TB pipelines lose data without noticing; this pins "
        "it to the data it describes. tests/test_r16_wave12.py."
    ),
    bench=False,  # fixed synthetic staging; mechanism doesn't scale with SF
    tags=("streaming", "telemetry", "engine-surface"),
)
def q_stream_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    def batch(values_sql):
        return spark.sql(f"SELECT * FROM (VALUES {values_sql}) AS t(k, pay)")

    with drain_workdir(spark) as work:
        ckpt = f"{work}/ckpt"
        src = stage_files(
            work,
            [
                batch("('a', 1L), ('b', 2L), ('a', 3L)"),
                batch("('b', 4L)"),
                batch("('c', 5L), ('d', 6L)"),
            ],
        )
        q = (
            spark.readStream.schema("k STRING, pay LONG")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, 120)
        rows = []
        for p in q.recentProgress:
            if p["numInputRows"] <= 0 or not p["stateOperators"]:
                continue
            so = p["stateOperators"][0]
            rows.append(
                (
                    int(p["batchId"]),
                    int(p["numInputRows"]),
                    int(so["numRowsUpdated"]),
                    int(so["numRowsTotal"]),
                )
            )
        return spark.createDataFrame(
            rows,
            "batch_id bigint, num_input_rows bigint,"
            " rows_updated bigint, state_rows_total bigint",
        )


# --------------------------------------------------------------------------
# Wave 13: graduation of the staged r17 batch-3 operator (the
# r14/r15/r16 same-round precedent) — Lepage joint location-scale.
# Oracle single-sourced here; tests/test_r17_stage3.py imports it.
# --------------------------------------------------------------------------

LEPAGE_ORACLE = (
    "    WITH "
    + _MONTHLY_X_SQL
    + """,
    ranked AS (
        SELECT g, cx, cy,
               CAST(2 * (SUM(cx + cy) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) - cx - cy)
                    + cx + cy + 1 AS BIGINT) AS r2,
               CAST(SUM(cx + cy) OVER (PARTITION BY g) AS BIGINT) AS nn
        FROM cells
    ),
    scored AS (
        SELECT g, cx, cy, r2 AS sw,
               CAST(least(r2, 2 * (nn + 1) - r2) AS BIGINT) AS sa
        FROM ranked
    ),
    agg AS (
        SELECT g, CAST(SUM(cx) AS BIGINT) AS m,
               CAST(SUM(cy) AS BIGINT) AS n,
               SUM(cx * CAST(sw AS HUGEINT)) AS tw,
               SUM((cx + cy) * CAST(sw AS HUGEINT)) AS s1w,
               SUM((cx + cy) * CAST(sw AS HUGEINT) * sw) AS s2w,
               SUM(cx * CAST(sa AS HUGEINT)) AS ta,
               SUM((cx + cy) * CAST(sa AS HUGEINT)) AS s1a,
               SUM((cx + cy) * CAST(sa AS HUGEINT) * sa) AS s2a
        FROM scored GROUP BY g
    ),
    z AS (
        SELECT g, m, n,
               CASE WHEN m > 0 AND n > 0
                    AND (m + n) * s2w - s1w * s1w > 0 THEN
                    CAST((CAST(1000000 AS HUGEINT)
                          * ((m + n) * tw - m * s1w)
                          * ((m + n) * tw - m * s1w) * (m + n - 1))
                         // (CAST(m AS HUGEINT) * n
                             * ((m + n) * s2w - s1w * s1w)) AS BIGINT)
               END AS z2w_ppm,
               CASE WHEN m > 0 AND n > 0
                    AND (m + n) * s2a - s1a * s1a > 0 THEN
                    CAST((CAST(1000000 AS HUGEINT)
                          * ((m + n) * ta - m * s1a)
                          * ((m + n) * ta - m * s1a) * (m + n - 1))
                         // (CAST(m AS HUGEINT) * n
                             * ((m + n) * s2a - s1a * s1a)) AS BIGINT)
               END AS z2ab_ppm
        FROM agg
    )
    SELECT g AS group_key, m, n, z2w_ppm, z2ab_ppm,
           CASE WHEN z2w_ppm IS NOT NULL AND z2ab_ppm IS NOT NULL THEN
                CAST((z2w_ppm + z2ab_ppm) // 1000 AS BIGINT) END
               AS lepage_milli
    FROM z
"""
)


@register(
    "q_lepage",
    oracle=LEPAGE_ORACLE,
    doc=(
        "Lepage joint location-scale omnibus per nation on the "
        "even/odd-year monthly-revenue split: squared standardized "
        "Wilcoxon rank-sum + squared standardized Ansari-Bradley, "
        "both with exact finite-population SRS moments on doubled "
        "pooled midranks (the _rank_score_scale_core discipline); "
        "lepage_milli = (z2w_ppm + z2ab_ppm) div 1000. Completes the "
        "location-scale family around cucconi (quadratic-rank) and "
        "mood/conover (scale-only). One groupBy to value cells, one "
        "cumulative window, one aggregate — all exact integers. "
        "tests/test_r17_stage3.py (staged r17 batch 3, graduated "
        "same-round per the r14 precedent)."
    ),
    tags=("stats", "nonparametric", "location-scale", "exact-integer"),
)
def q_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import lepage_test

    return lepage_test(_monthly_epoch_split(spark, sf_dir), "g", "in_x", "v")


# --------------------------------------------------------------------------
# Wave 14: forecast-comparison, variance-homogeneity and EWMA control
# chart (operators/stats.py), Murphy Brier decomposition
# (operators/ml_eval.py), MATTR lexical diversity (operators/text.py),
# and corpus pair-overlap density (operators/dedup.py).
# tests/test_r16_wave14.py.
# --------------------------------------------------------------------------

DM_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    ev AS (
        SELECT g, abs(v - lag(v, 1) OVER w)
                  - abs(v - lag(v, 12) OVER w) AS d
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t)
        QUALIFY t - lag(t, 1) OVER w = 1
            AND t - lag(t, 12) OVER w = 12
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_eval,
               SUM(CAST(d AS HUGEINT)) AS s,
               SUM(CAST(d AS HUGEINT) * d) AS q
        FROM ev GROUP BY g
    )
    SELECT g AS group_key, n_eval, CAST(s AS BIGINT) AS d_sum,
           CASE WHEN n_eval >= 2 AND n_eval * q - s * s > 0 THEN
                CAST((CAST(1000000 AS HUGEINT) * s * s * (n_eval - 1))
                     // (n_eval * q - s * s) AS BIGINT) END AS dm2_ppm
    FROM agg
"""
)


@register(
    "q_diebold_mariano",
    oracle=DM_ORACLE,
    doc=(
        "Diebold-Mariano forecast-comparison test per nation between "
        "the naive (lag-1) and seasonal-naive (lag-12) forecasters on "
        "monthly revenue, absolute-error loss — the missing PAIRWISE "
        "eval next to q_mase_eval/q_forecast_wape (those score one "
        "model; DM says whether the seasonal model's edge is "
        "significant): DM^2 = S^2(n-1)/(nQ - S^2) on the integer loss "
        "differentials, cancellation in exact DECIMAL space (round-13 "
        "wide-int rule), both lags contiguity-gated. d_sum > 0 means "
        "the seasonal forecaster wins. tests/test_r16_wave14.py."
    ),
    tags=("stats", "forecast-eval", "hypothesis-test", "exact-integer"),
)
def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import diebold_mariano

    return diebold_mariano(
        _monthly_revenue(spark, sf_dir), "g", "t", "v", period=12
    )


VARHOM_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + """,
    per AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v // 100000 AS HUGEINT)) AS s,
               SUM(CAST(v // 100000 AS HUGEINT) * (v // 100000)) AS q
        FROM base GROUP BY g
    ),
    vn AS (
        SELECT g, n, n * q - s * s AS var_num,
               MAX(n) OVER () AS n_obs
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n = n_obs THEN 1 ELSE 0 END) AS BIGINT)
               AS n_balanced,
           CAST(MAX(n_obs) AS BIGINT) AS n_obs,
           CASE WHEN SUM(CASE WHEN n = n_obs THEN var_num
                         ELSE 0 END) > 0 THEN
                CAST((1000000 * MAX(CASE WHEN n = n_obs
                                    THEN var_num END))
                     // SUM(CASE WHEN n = n_obs THEN var_num
                            ELSE 0 END) AS BIGINT) END AS c_ppm,
           CASE WHEN MIN(CASE WHEN n = n_obs THEN var_num END) > 0 THEN
                CAST((1000 * MAX(CASE WHEN n = n_obs THEN var_num END))
                     // MIN(CASE WHEN n = n_obs THEN var_num END)
                     AS BIGINT) END AS fmax_milli
    FROM vn
"""
)


@register(
    "q_variance_homogeneity",
    oracle=VARHOM_ORACLE,
    doc=(
        "Cochran's C + Hartley's F_max variance-homogeneity screens "
        "across the per-nation monthly-revenue panels (1000-dollar "
        "units per the round-14 rule) — the ANOVA-precondition audit "
        "that pairs with the location tests (kruskal_wallis/friedman "
        "assume comparable spreads): balanced design enforced by "
        "keeping only max-n panels (excluded panels counted, the "
        "drop-reporting convention); with equal n the variance ratios "
        "reduce to exact integer ratios of var_num = nQ - S^2. ONE "
        "row. tests/test_r16_wave14.py."
    ),
    tags=("stats", "variance", "exact-integer"),
)
def q_variance_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import (
        variance_homogeneity,
    )

    base = _monthly_revenue(spark, sf_dir).select(
        "g", F.expr("v div 100000").alias("v")
    )
    return variance_homogeneity(base, "g", "v")


EWMA_W_CASE = "CASE j WHEN 0 THEN 531441 WHEN 1 THEN 177147 WHEN 2 THEN 236196 WHEN 3 THEN 314928 WHEN 4 THEN 419904 WHEN 5 THEN 559872 WHEN 6 THEN 746496 WHEN 7 THEN 995328 WHEN 8 THEN 1327104 WHEN 9 THEN 1769472 WHEN 10 THEN 2359296 WHEN 11 THEN 3145728 WHEN 12 THEN 4194304 END"

EWMA_ORACLE = (
    "    WITH "
    + _MONTHLY_SQL
    + f""",
    kd AS (SELECT g, t, v // 100000 AS v FROM base),
    win AS (
        SELECT g, v,
               t - (MAX(t) OVER (PARTITION BY g) - 12) AS j,
               CASE WHEN t - lag(t, 1) OVER
                        (PARTITION BY g ORDER BY t) = 1
                    THEN abs(v - lag(v, 1) OVER
                        (PARTITION BY g ORDER BY t)) ELSE 0 END AS mr
        FROM kd
    ),
    f AS (SELECT * FROM win WHERE j >= 0),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_win,
               SUM(CAST(({EWMA_W_CASE}) AS HUGEINT) * v) AS z,
               SUM(CAST(v AS HUGEINT)) AS s,
               SUM(CASE WHEN j >= 1 THEN CAST(mr AS HUGEINT)
                   ELSE 0 END) AS mrs
        FROM f GROUP BY g
    )
    SELECT g AS group_key, n_win,
           CASE WHEN n_win = 13 THEN
                CAST((1000 * s) // 13 AS BIGINT) END AS mu_milli,
           CASE WHEN n_win = 13 THEN
                CAST((1000 * z) // 16777216 AS BIGINT) END AS ewma_milli,
           CASE WHEN n_win = 13 THEN CAST(mrs AS BIGINT) END AS mr_sum,
           CASE WHEN n_win = 13 THEN
                ((13 * z - 16777216 * s)
                 * (13 * z - 16777216 * s)) * 1282563072
                > 9000000 * (mrs * mrs) * 281192547174175 * 169 END AS ooc
    FROM agg
"""
)


@register(
    "q_ewma_chart",
    oracle=EWMA_ORACLE,
    doc=(
        "EWMA control chart (lambda = 1/4, 3-sigma) per nation over "
        "the last 13 contiguous months of revenue (1000-dollar units) "
        "— completes the control-chart trio with q_xbar_r_chart "
        "(Shewhart) and the CUSUM family: the EWMA catches small "
        "sustained shifts. Exact throughout via the scaled recursion "
        "Z = 4^12 z (ewma_weights' integer weights embedded as SQL "
        "literals, the seeded-constants trick) and a fully cleared "
        "integer out-of-control inequality on MR-bar/d2 sigma "
        "(d2 = 1128/1000). Underpopulated windows -> NULL stats with "
        "n_win reported. tests/test_r16_wave14.py."
    ),
    tags=("stats", "control-chart", "exact-integer"),
)
def q_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import ewma_chart

    base = _monthly_revenue(spark, sf_dir).select(
        "g", "t", F.expr("v div 100000").alias("v")
    )
    return ewma_chart(base, "g", "t", "v", span=13)


_SCORED_SQL = """
    s AS (
        SELECT source AS g,
               (1000000 * (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 4))::BIGINT)) // 65536 AS sp,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          5, 4))::BIGINT
                       < ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 4))::BIGINT
                    THEN 1 ELSE 0 END AS y
        FROM documents
    )
"""

BRIER_ORACLE = (
    "    WITH "
    + _SCORED_SQL
    + """,
    binned AS (
        SELECT g, least((sp * 10) // 1000000, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(y) AS BIGINT) AS pos,
               SUM(CAST(sp AS HUGEINT)) AS ssum,
               SUM(CAST(sp - 1000000 * y AS HUGEINT)
                   * (sp - 1000000 * y)) AS bsum
        FROM s GROUP BY g, bin
    ),
    tot AS (
        SELECT *, CAST(SUM(nk) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(SUM(pos) OVER (PARTITION BY g) AS BIGINT) AS p
        FROM binned
    ),
    agg AS (
        SELECT g, MAX(n) AS n, MAX(p) AS n_pos,
               CAST(COUNT(*) AS BIGINT) AS n_bins_used,
               SUM(bsum) AS b,
               SUM((CAST(1000000000 AS HUGEINT)
                    * (ssum - 1000000 * pos) * (ssum - 1000000 * pos))
                   // (CAST(1000000 AS HUGEINT) * 1000000 * nk)) AS rel,
               SUM((CAST(1000000000 AS HUGEINT)
                    * (n * pos - p * nk) * (n * pos - p * nk))
                   // (CAST(n AS HUGEINT) * n * nk)) AS res
        FROM tot GROUP BY g
    )
    SELECT g AS group_key, n, n_pos, n_bins_used,
           CAST((CAST(1000000000 AS HUGEINT) * b)
                // (CAST(1000000 AS HUGEINT) * 1000000 * n) AS BIGINT)
               AS brier_ppb,
           CAST(rel // n AS BIGINT) AS rel_ppb,
           CAST(res // n AS BIGINT) AS res_ppb,
           CAST((CAST(1000000000 AS HUGEINT) * n_pos * (n - n_pos))
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_ppb
    FROM agg
"""
)


@register(
    "q_brier_decomposition",
    oracle=BRIER_ORACLE,
    doc=(
        "Murphy decomposition of the Brier score per source on the "
        "md5-synthesized calibrated scorer (the q_calibration_bins "
        "construct): Brier = REL - RES + UNC, one row per group in "
        "exact ppb with documented per-bin integer floors — the "
        "summary statistic the per-bin reliability diagram cannot "
        "give (is the model's skill in calibration or resolution?). "
        "Squares cleared in DECIMAL(38,0)/HUGEINT. "
        "tests/test_r16_wave14.py."
    ),
    tags=("ml-eval", "calibration", "exact-integer"),
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.ml_eval import (
        brier_decomposition,
    )
    from kafka_streams_aggregate_spark.queries.round12 import _scored

    s = _scored(spark, sf_dir).select(
        "g",
        F.expr("CAST((1000000 * score) div 65536 AS BIGINT)").alias("sp"),
        "label",
    )
    return brier_decomposition(s, "g", "sp", "label", n_bins=10)


MATTR_ORACLE = """
    WITH tk AS (
        SELECT source AS g, doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS l
        FROM documents
    ),
    ex AS (
        SELECT g, doc_id, l,
               unnest(list_transform(range(1, l + 1),
                      i -> struct_pack(pos := i - 1,
                           tok := list_extract(toks, CAST(i AS INT)))))
                   AS pt
        FROM tk WHERE l >= 25
    ),
    lagged AS (
        SELECT g,
               greatest(0, least(pt.pos, l - 25)
                 - greatest(0, pt.pos - 24,
                     coalesce(lag(pt.pos) OVER
                         (PARTITION BY doc_id, pt.tok ORDER BY pt.pos),
                       -1) + 1) + 1) AS c
        FROM ex
    ),
    contrib AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS total FROM lagged GROUP BY g
    ),
    docs AS (
        SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN len(string_split(text, ' ')) < 25
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
               CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= 25
                        THEN len(string_split(text, ' ')) - 24
                        ELSE 0 END) AS BIGINT) AS n_windows
        FROM documents GROUP BY source
    )
    SELECT d.g AS group_key, d.n_docs, d.n_short, d.n_windows,
           CASE WHEN d.n_windows > 0 THEN
                CAST((1000000 * coalesce(c.total, 0))
                     // (d.n_windows * 25) AS BIGINT) END AS mattr_ppm
    FROM docs d LEFT JOIN contrib c ON c.g = d.g
"""


@register(
    "q_mattr",
    oracle=MATTR_ORACLE,
    doc=(
        "Moving-average type-token ratio (MATTR, window 25) per "
        "source — the length-robust lexical-diversity score (plain "
        "TTR shrinks with doc length, so cross-source TTR comparisons "
        "are confounded; MATTR is the published fix): computed "
        "CLOSED-FORM — each token position's distinct-in-window "
        "contribution is an interval length from one lag window over "
        "(doc, token), so no per-window rescan exists in the plan "
        "(the same trick class as the CUSUM prefix-min closed form). "
        "Short docs dropped AND counted. tests/test_r16_wave14.py."
    ),
    tags=("text", "llm-data", "lexical-diversity", "exact-integer"),
)
def q_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.text import mattr

    docs = load_table(spark, "documents", sf_dir)
    return mattr(docs, "doc_id", "text", "source", window=25)


PAIR_OVERLAP_ORACLE = """
    WITH idx AS (
        SELECT DISTINCT source AS g, doc_id, shingle
        FROM (SELECT source, doc_id,
                     unnest(list_transform(
                         range(1, greatest(len(string_split(text, ' '))
                                           - 2, 1) + 1),
                         i -> array_to_string(list_slice(
                             string_split(text, ' '),
                             CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))
                         AS shingle
              FROM documents)
    ),
    per AS (
        SELECT g, shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM idx GROUP BY g, shingle
    ),
    ov AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_shingle_types,
               SUM((CAST(df AS HUGEINT) * (df - 1)) // 2) AS pairs
        FROM per GROUP BY g
    ),
    docs AS (
        SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    )
    SELECT d.g AS group_key, d.n_docs,
           CAST(coalesce(o.n_shingle_types, 0) AS BIGINT)
               AS n_shingle_types,
           CAST(coalesce(o.pairs, 0) AS BIGINT) AS pair_overlap_sum,
           CASE WHEN d.n_docs >= 2 THEN
                CAST((2000 * coalesce(o.pairs, 0))
                     // (CAST(d.n_docs AS HUGEINT) * (d.n_docs - 1))
                     AS BIGINT) END AS density_milli
    FROM docs d LEFT JOIN ov o ON o.g = d.g
"""


@register(
    "q_pair_overlap_density",
    oracle=PAIR_OVERLAP_ORACLE,
    doc=(
        "Corpus pair-overlap density per source: the expected shared "
        "3-shingle count for a random doc pair, via the C(df,2) "
        "decomposition over the shingle index — the dedup-worthiness "
        "pre-audit (is there enough near-duplication to justify the "
        "LSH pass?) that stays LINEAR at 100 TB: one distinct + one "
        "groupBy, never documents x documents; each shingle with doc "
        "frequency df contributes exactly C(df,2) co-occurring "
        "pairs. tests/test_r16_wave14.py."
    ),
    tags=("llm-data", "dedup", "audit", "exact-integer"),
)
def q_pair_overlap_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        pair_overlap_density,
    )

    docs = load_table(spark, "documents", sf_dir)
    return pair_overlap_density(docs, "doc_id", "text", "source", n=3)


# --------------------------------------------------------------------------
# Wave 15: same-round graduation of three staged r17 operators (the
# r14/r15/r16 precedent): SNHT change-point (batch 4; Buishand stays
# staged as the r17 opener) and the chunk-dup / winnowing dedup pair
# (batch 5). Oracle texts single-sourced here; tests/test_r17_stage4.py
# and tests/test_r17_stage5.py import them.
# --------------------------------------------------------------------------

_MONTHLY_K_SQL = """
    base AS (
        SELECT g, t, v // 100000 AS v FROM (
            SELECT CAST(c.c_nationkey AS BIGINT) AS g,
                   CAST((year(o.o_orderdate) - 1992) * 12
                        + month(o.o_orderdate) - 1 AS BIGINT) AS t,
                   CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        )
    ),
    pre AS (
        SELECT g,
               CAST(row_number() OVER w AS BIGINT) AS k,
               CAST(SUM(v) OVER w AS BIGINT) AS pk,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY g) AS s,
               SUM(CAST(v AS HUGEINT) * v) OVER (PARTITION BY g) AS q
        FROM base
        WINDOW w AS (PARTITION BY g ORDER BY t
                     ROWS UNBOUNDED PRECEDING)
    )
"""

SNHT_ORACLE = (
    "    WITH "
    + _MONTHLY_K_SQL
    + """,
    tk AS (
        SELECT g, k, n,
               CASE WHEN n * q - s * s > 0 THEN
                    CAST((CAST(1000000 AS HUGEINT)
                          * (n * pk - k * s) * (n * pk - k * s)
                          * (n - 1))
                         // (k * (n - k) * (n * q - s * s))
                         AS BIGINT) END AS t_ppm
        FROM pre WHERE k < n
    ),
    ranked AS (
        SELECT g, n, t_ppm, k,
               row_number() OVER (PARTITION BY g
                   ORDER BY t_ppm DESC, k ASC) AS rn
        FROM tk
    )
    SELECT g AS group_key, n,
           t_ppm AS t_max_ppm,
           CASE WHEN t_ppm IS NOT NULL THEN k END AS k_at_max
    FROM ranked WHERE rn = 1
"""
)


@register(
    "q_snht",
    oracle=SNHT_ORACLE,
    doc=(
        "Alexandersson SNHT change-point test per nation on monthly "
        "revenue (1000-dollar units) — the parametric twin of "
        "q_pettitt_test (that one ranks, this one standardizes): "
        "sum z = 0 collapses the two standardized means, so "
        "T_k clears into exact integers via D_k = n*P_k - k*S; "
        "max + argmax (ties -> smallest k, identical floors both "
        "engines) from one cumulative window. Exact shift/scale "
        "invariance property-tested. tests/test_r17_stage4.py "
        "(staged r17 batch 4, graduated same-round per the r14 "
        "precedent; Buishand range stays staged as the r17 opener)."
    ),
    tags=("stats", "change-point", "exact-integer"),
)
def q_snht(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.stats import snht_test

    base = _monthly_revenue(spark, sf_dir).select(
        "g", "t", F.expr("v div 100000").alias("v")
    )
    return snht_test(base, "g", "t", "v")


CHUNK_DUP_ORACLE = """
    WITH base AS (
        SELECT source AS g, doc_id,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) // 20 AS nc
        FROM documents
    ),
    ex AS (
        SELECT g, doc_id,
               md5(array_to_string(list_slice(toks,
                   CAST((i - 1) * 20 + 1 AS INT),
                   CAST(i * 20 AS INT)), ' ')) AS h
        FROM (SELECT g, doc_id, toks, unnest(range(1, nc + 1)) AS i
              FROM base)
    ),
    per_hash AS (
        SELECT g, h, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM ex GROUP BY g, h
    ),
    prof AS (
        SELECT g, CAST(SUM(cnt) AS BIGINT) AS total_chunks,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                    AS BIGINT) AS dup_chunks,
               CAST(SUM(CASE WHEN nd > 1 THEN cnt ELSE 0 END)
                    AS BIGINT) AS crossdoc_dup_chunks,
               CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_clusters,
               CAST(MAX(cnt) AS BIGINT) AS max_cluster
        FROM per_hash GROUP BY g
    ),
    docs AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_short_docs
        FROM base GROUP BY g
    )
    SELECT d.g AS group_key, d.n_docs, d.n_short_docs,
           coalesce(p.total_chunks, 0) AS total_chunks,
           coalesce(p.dup_chunks, 0) AS dup_chunks,
           coalesce(p.crossdoc_dup_chunks, 0) AS crossdoc_dup_chunks,
           coalesce(p.n_dup_clusters, 0) AS n_dup_clusters,
           coalesce(p.max_cluster, 0) AS max_cluster,
           CASE WHEN coalesce(p.total_chunks, 0) > 0 THEN
                CAST((1000000 * p.dup_chunks) // p.total_chunks
                     AS BIGINT) END AS dup_ppm
    FROM docs d LEFT JOIN prof p ON p.g = d.g
"""


@register(
    "q_chunk_dup_profile",
    oracle=CHUNK_DUP_ORACLE,
    doc=(
        "Chunk-granular EXACT duplicate profile per source (20-token "
        "non-overlapping chunks, md5 groupBy) — the scalable form of "
        "Lee-et-al exact-substring dedup and the signal doc-level "
        "exact_dedup misses (partial copies): dup_ppm + the cross-doc "
        "split + cluster profile, all exact integers, md5 native on "
        "both engines. Linear at 100 TB: one explode + one groupBy. "
        "tests/test_r17_stage5.py (staged r17 batch 5, graduated "
        "same-round per the r14 precedent)."
    ),
    tags=("llm-data", "dedup", "exact-integer"),
)
def q_chunk_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        chunk_dup_profile,
    )

    docs = load_table(spark, "documents", sf_dir)
    return chunk_dup_profile(docs, "doc_id", "text", "source",
                             chunk_tokens=20)


WINNOW_ORACLE = """
    WITH tk AS (
        SELECT source AS g, doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS l
        FROM documents
    ),
    gr AS (
        SELECT g, doc_id, l - 2 AS p_total,
               unnest(list_transform(range(1, l - 2 + 1),
                   p -> struct_pack(pos := p - 1,
                        gram := array_to_string(list_slice(toks,
                            CAST(p AS INT), CAST(p + 2 AS INT)), ' '))))
                   AS pg
        FROM tk WHERE l >= 3
    ),
    keys AS (
        SELECT g, doc_id, p_total, pg.pos AS pos,
               (('0x' || substr(md5(pg.gram), 1, 8))::BIGINT
                 % 2147483648) * 2147483648
                 + (2147483647 - pg.pos) AS key
        FROM gr
    ),
    wins AS (
        SELECT g, doc_id, pos, p_total,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
        FROM keys
    ),
    anch AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS total_anchors FROM (
            SELECT DISTINCT g, doc_id,
                   2147483647 - (mk % 2147483648) AS apos
            FROM wins WHERE pos <= p_total - 4
        ) GROUP BY g
    ),
    docs AS (
        SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN greatest(
                        len(string_split(text, ' ')) - 2, 0) < 4
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs,
               CAST(SUM(greatest(len(string_split(text, ' ')) - 2, 0))
                    AS BIGINT) AS total_grams,
               CAST(SUM(CASE WHEN len(string_split(text, ' ')) - 2 >= 4
                        THEN len(string_split(text, ' ')) - 2 - 3
                        ELSE 0 END) AS BIGINT) AS total_windows
        FROM documents GROUP BY source
    )
    SELECT d.g AS group_key, d.n_docs, d.n_short_docs, d.total_grams,
           d.total_windows,
           coalesce(a.total_anchors, 0) AS total_anchors,
           CASE WHEN d.total_grams > 0 THEN
                CAST((1000000 * coalesce(a.total_anchors, 0))
                     // d.total_grams AS BIGINT) END AS density_ppm
    FROM docs d LEFT JOIN anch a ON a.g = d.g
"""


@register(
    "q_winnowing",
    oracle=WINNOW_ORACLE,
    doc=(
        "MOSS winnowing fingerprint profile per source (k=3, w=4) — "
        "the Schleimer-Wilkerson-Aiken anchor-selection scheme whose "
        "window GUARANTEE (every >= w+k-1-token match shares an "
        "anchor, property-tested) minhash lacks. Rightmost-min argmin "
        "made tie-safe with ONE BIGINT window min via the packed key "
        "h*2^31 + (2^31-1-pos) (no arg_min with unspecified ties); "
        "md5 hash family keeps the fingerprint cross-engine exact; "
        "density_ppm audits the published 2/(w+1) expectation. "
        "tests/test_r17_stage5.py (staged r17 batch 5, graduated "
        "same-round per the r14 precedent)."
    ),
    tags=("llm-data", "dedup", "fingerprint", "exact-integer"),
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.operators.dedup import (
        winnowing_profile,
    )

    docs = load_table(spark, "documents", sf_dir)
    return winnowing_profile(docs, "doc_id", "text", "source", k=3, w=4)
