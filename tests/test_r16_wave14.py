"""Round-16 wave 14 — Diebold-Mariano, variance homogeneity
(Cochran C / Hartley F_max), EWMA control chart, Murphy Brier
decomposition, MATTR lexical diversity, corpus pair-overlap density.
Oracle texts single-sourced from queries/round16.py.
"""

from __future__ import annotations

import duckdb
import pandas as pd

SF = "/root/testdata/sf0.001"

from kafka_streams_aggregate_spark.queries.round16 import (  # noqa: E402
    BRIER_ORACLE,
    DM_ORACLE,
    EWMA_ORACLE,
    MATTR_ORACLE,
    PAIR_OVERLAP_ORACLE,
    VARHOM_ORACLE,
    q_brier_decomposition,
    q_diebold_mariano,
    q_ewma_chart,
    q_mattr,
    q_pair_overlap_density,
    q_variance_homogeneity,
)


def _cmp(got, exp, keys):
    if keys:
        got = got.sort_values(keys).reset_index(drop=True)
        exp = exp.sort_values(keys).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    # Spark returns NULL in object columns as None, DuckDB as NaN: spell
    # both as None so the frames compare null for null.
    for df in (got, exp):
        for c in df.columns[df.dtypes == object]:
            df[c] = df[c].where(df[c].notna(), None)
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], exp[sorted(exp.columns)], check_dtype=False
    )


def _duck(sql):
    con = duckdb.connect()
    try:
        for t in ("orders", "customer", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT *"
                f" FROM read_parquet('{SF}/{t}.parquet')"
            )
        return con.sql(sql).df()
    finally:
        con.close()


def test_diebold_mariano_hand(spark):
    from kafka_streams_aggregate_spark.operators.stats import (
        diebold_mariano,
    )

    # period 2, v = [0, 10, 3, 7, 4]:
    #  t2: |3-10| - |3-0|  = 4
    #  t3: |7-3|  - |7-10| = 1
    #  t4: |4-7|  - |4-3|  = 2
    # d = [4,1,2]: n=3, S=7, Q=21, nQ-S^2 = 14
    # dm2 = 1e6 * 49 * 2 div 14 = 7_000_000
    rows = [("g", 0, 0), ("g", 1, 10), ("g", 2, 3), ("g", 3, 7),
            ("g", 4, 4)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    [r] = diebold_mariano(df, "g", "t", "v", period=2).collect()
    assert (r["n_eval"], r["d_sum"]) == (3, 7)
    assert r["dm2_ppm"] == 7_000_000

    # identical losses (symmetric series): d = 0 everywhere -> NULL
    rows = [("z", 0, 5), ("z", 1, 5), ("z", 2, 5), ("z", 3, 5)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    [r] = diebold_mariano(df, "g", "t", "v", period=2).collect()
    assert r["d_sum"] == 0 and r["dm2_ppm"] is None

    # a gap kills only the points whose lags cross it
    rows = [("h", 0, 0), ("h", 1, 10), ("h", 2, 3), ("h", 4, 7)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    [r] = diebold_mariano(df, "g", "t", "v", period=2).collect()
    assert r["n_eval"] == 1


def test_diebold_mariano_parity(spark):
    got = q_diebold_mariano(spark, SF).toPandas()
    _cmp(got, _duck(DM_ORACLE), ["group_key"])


def test_variance_homogeneity_hand(spark):
    from kafka_streams_aggregate_spark.operators.stats import (
        variance_homogeneity,
    )

    # a: [0,2] var_num = 2*4-4 = 4; b: [0,4] var_num = 2*16-16 = 16;
    # c: [5] n=1 excluded. C = 16/20, Fmax = 16/4
    rows = [("a", 0), ("a", 2), ("b", 0), ("b", 4), ("c", 5)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = variance_homogeneity(df, "g", "v").collect()
    assert (r["n_groups"], r["n_balanced"], r["n_obs"]) == (3, 2, 2)
    assert r["c_ppm"] == 800_000
    assert r["fmax_milli"] == 4_000

    # all balanced groups constant -> both NULL
    rows = [("a", 1), ("a", 1), ("b", 2), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = variance_homogeneity(df, "g", "v").collect()
    assert r["c_ppm"] is None and r["fmax_milli"] is None


def test_variance_homogeneity_parity(spark):
    got = q_variance_homogeneity(spark, SF).toPandas()
    _cmp(got, _duck(VARHOM_ORACLE), [])


def test_ewma_weights():
    from kafka_streams_aggregate_spark.operators.stats import ewma_weights

    for span in (3, 13):
        ws = ewma_weights(span)
        assert len(ws) == span
        assert sum(ws) == 4 ** (span - 1)  # true weighted mean
    # recursion check: z = (x_last + 3 z_prev)/4 on x = [0, 0, 16]
    # z0=0, z1=0, z2=4 -> Z = 16*4 = 64 = 9*0 + 3*0 + 4*16
    w = ewma_weights(3)
    assert w[0] * 0 + w[1] * 0 + w[2] * 16 == 64


def test_ewma_chart_hand(spark):
    from kafka_streams_aggregate_spark.operators.stats import ewma_chart

    # span 3, x = [0, 0, 16]: Z = 64, S = 16, MR = 16
    rows = [("g", 0, 0), ("g", 1, 0), ("g", 2, 16)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    [r] = ewma_chart(df, "g", "t", "v", span=3).collect()
    assert r["n_win"] == 3
    assert r["ewma_milli"] == 1000 * 64 // 16
    assert r["mu_milli"] == 1000 * 16 // 3
    assert r["mr_sum"] == 16
    # lhs = (3*64 - 16*16)^2 * (4*1128^2*7) = 4096 * 35626752
    # rhs = 9e6 * 256 * (256-81=175) * 9 -> lhs < rhs: in control
    assert r["ooc"] is False

    # underpopulated window -> NULL stats, n_win reported
    rows = [("s", 0, 1), ("s", 2, 5)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    [r] = ewma_chart(df, "g", "t", "v", span=3).collect()
    assert r["n_win"] == 2 and r["ewma_milli"] is None and r["ooc"] is None


def test_ewma_chart_parity(spark):
    got = q_ewma_chart(spark, SF).toPandas()
    _cmp(got, _duck(EWMA_ORACLE), ["group_key"])


def test_brier_decomposition_hand(spark):
    from kafka_streams_aggregate_spark.operators.ml_eval import (
        brier_decomposition,
    )

    # scale 100, 2 bins: (s,y) = (10,0),(90,1),(90,0),(10,0)
    # brier = mean(0.01, 0.01, 0.81, 0.01) = 0.21
    # rel = (2*(0.1)^2 + 2*(0.4)^2)/4 = 0.085
    # res = (2*(0.25)^2 + 2*(0.25)^2)/4 = 0.0625
    # unc = 0.25*0.75 = 0.1875;  identity: 0.085-0.0625+0.1875 = 0.21
    rows = [("g", 10, 0), ("g", 90, 1), ("g", 90, 0), ("g", 10, 0)]
    df = spark.createDataFrame(rows, "g string, sp long, y long")
    [r] = brier_decomposition(
        df, "g", "sp", "y", n_bins=2, scale=100
    ).collect()
    assert (r["n"], r["n_pos"], r["n_bins_used"]) == (4, 1, 2)
    assert r["brier_ppb"] == 210_000_000
    assert r["rel_ppb"] == 85_000_000
    assert r["res_ppb"] == 62_500_000
    assert r["unc_ppb"] == 187_500_000
    assert r["brier_ppb"] == r["rel_ppb"] - r["res_ppb"] + r["unc_ppb"]


def test_brier_decomposition_parity(spark):
    got = q_brier_decomposition(spark, SF).toPandas()
    _cmp(got, _duck(BRIER_ORACLE), ["group_key"])


def test_mattr_hand(spark):
    from kafka_streams_aggregate_spark.operators.text import mattr

    # "a b a b a", W=3: windows [aba],[bab],[aba] -> 2 distinct each,
    # total 6 over 3 windows of 3 -> mattr = 6/9
    rows = [("g", 1, "a b a b a"), ("g", 2, "x y")]
    df = spark.createDataFrame(rows, "src string, doc_id long, text string")
    [r] = mattr(df, "doc_id", "text", "src", window=3).collect()
    assert (r["n_docs"], r["n_short"], r["n_windows"]) == (2, 1, 3)
    assert r["mattr_ppm"] == 666_666

    # all-distinct doc scores exactly 1e6
    rows = [("h", 1, "a b c d")]
    df = spark.createDataFrame(rows, "src string, doc_id long, text string")
    [r] = mattr(df, "doc_id", "text", "src", window=3).collect()
    assert r["mattr_ppm"] == 1_000_000


def test_mattr_parity(spark):
    got = q_mattr(spark, SF).toPandas()
    _cmp(got, _duck(MATTR_ORACLE), ["group_key"])


def test_pair_overlap_density_hand(spark):
    from kafka_streams_aggregate_spark.operators.dedup import (
        pair_overlap_density,
    )

    # shingles: d1 {abc, bcd}, d2 {abc, bce}, d3 {zzz} (repeated run
    # dedupes within doc). Only "a b c" has df=2 -> sum C(df,2) = 1;
    # C(3,2) = 3 pairs -> density = 1/3
    rows = [
        ("g", 1, "a b c d"),
        ("g", 2, "a b c e"),
        ("g", 3, "z z z z"),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, text string")
    [r] = pair_overlap_density(df, "doc_id", "text", "src", n=3).collect()
    assert (r["n_docs"], r["n_shingle_types"]) == (3, 4)
    assert r["pair_overlap_sum"] == 1
    assert r["density_milli"] == 333

    # single doc: no pairs -> NULL density
    rows = [("s", 1, "a b c")]
    df = spark.createDataFrame(rows, "src string, doc_id long, text string")
    [r] = pair_overlap_density(df, "doc_id", "text", "src", n=3).collect()
    assert r["density_milli"] is None and r["pair_overlap_sum"] == 0


def test_pair_overlap_density_parity(spark):
    got = q_pair_overlap_density(spark, SF).toPandas()
    _cmp(got, _duck(PAIR_OVERLAP_ORACLE), ["group_key"])
