"""Sketches, lakehouse metadata, and pipeline-operations queries — the
100 TB toolbox. Every row has a CELL-EXACT DuckDB oracle:

- ``q_approx_distinct_hll``   — HyperLogLog, integer-exact registers
- ``q_heavy_hitters_cms``     — count-min sketch + exact verification
- ``q_bloom_filter_probe``    — Bloom runtime-filter build/probe audit
- ``q_compaction_planner``    — small-file bin packing over a manifest
- ``q_zone_map_pruning``      — min/max data-skipping effectiveness
- ``q_incremental_view_agg``  — IVM: base ⊕ delta == full recompute
- ``q_fk_integrity_audit``    — FK orphans / childless parents
- ``q_column_profile``        — one-pass schema-drift baseline
- ``q_ols_trend_by_group``    — closed-form OLS from BIGINT power sums
- ``q_schema_evolution_read`` — mergeSchema add-column contract
- ``q_event_transition_matrix`` — Markov user-journey model
- ``q_data_contract_checks``  — dbt-test-style constraint gate

The sketches get exact oracles via the md5 hash-family + integer-space
tricks (see operators/sketches.py; hash pair owned by
functions/hashing.py); the lakehouse ops are relational metadata
queries. The reference app (317-line Kafka Streams topology) has none
of these; they are part of the mandated beyond-reference build-out
(SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.operators import sketches as sk
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
# HyperLogLog distinct users per order priority.
# --------------------------------------------------------------------------


@register(
    "q_approx_distinct_hll",
    oracle=f"""
    WITH {sk.hll_oracle_cte("o_custkey", "o_orderpriority", "orders")},
    exact AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY o_orderpriority
    )
    SELECT h.grp AS o_orderpriority,
           h.n_registers_hit,
           h.register_checksum,
           h.scaled_sum,
           h.est_distinct,
           e.exact_distinct
    FROM hll_est h JOIN exact e ON h.grp = e.grp
    """,
    doc=(
        "HyperLogLog (p=6, 64 registers) distinct-customer estimate per "
        "order priority with a CELL-EXACT oracle — normally impossible "
        "for HLL because register layouts are engine-private and the "
        "harmonic mean is a float fold. Here the layout is OURS (md5 "
        "low bits pick the register, '55 - length(bin(suffix))' is the "
        "rho — bin() strips leading zeros identically in Spark and "
        "DuckDB), and the harmonic mean is summed as scaled BIGINTs "
        "(2^(30-rho)), so the only float op is one literal/int64 "
        "division. Scale shape: register build is one map-side-"
        "combinable shuffle to ≤ m rows per group; registers from "
        "disjoint data splits merge by MAX — the property that lets "
        "100 TB be sketched in one pass and unioned across days. "
        "exact_distinct joins in only as the audit column."
    ),
    tags=("sketch", "approx", "distinct"),
)
def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # local testdata parquet is single-file => the md5 register build
    # would run as ONE task without the explicit split (CLAUDE.md rule)
    orders = with_scan_parallelism(load_table(spark, "orders", sf_dir))
    regs = sk.hll_registers(
        orders, key=F.col("o_custkey"), group=F.col("o_orderpriority")
    )
    est = sk.hll_summarize(regs)
    exact = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    return (
        est.join(F.broadcast(exact), "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_registers_hit",
            "register_checksum",
            "scaled_sum",
            "est_distinct",
            "exact_distinct",
        )
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters.
# --------------------------------------------------------------------------

_CMS_TOPK = 20


@register(
    "q_heavy_hitters_cms",
    oracle=f"""
    WITH counters AS (
        SELECT j, col, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({sk.cms_cols_sql_rows("o_custkey", "orders")})
        GROUP BY j, col
    ),
    exact AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM orders GROUP BY o_custkey
    ),
    cand AS (
        SELECT o_custkey, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, o_custkey LIMIT {_CMS_TOPK}
    ),
    cand_cells AS (
        {sk.cms_cols_sql_rows("o_custkey", "cand",
                              extra_cols="o_custkey, exact_cnt")}
    ),
    est AS (
        SELECT cc.o_custkey, cc.exact_cnt, MIN(ct.cnt) AS cms_est
        FROM cand_cells cc
        JOIN counters ct ON cc.j = ct.j AND cc.col = ct.col
        GROUP BY cc.o_custkey, cc.exact_cnt
    )
    SELECT o_custkey, exact_cnt, cms_est,
           cms_est - exact_cnt AS overcount
    FROM est
    """,
    doc=(
        "Count-min sketch (d=4, w=256) frequency estimates for the "
        "top-20 customers by order count, with the exact counts joined "
        "in as the audit. The CMS guarantee (est >= exact, never "
        "under) is visible in the overcount column being >= 0 on every "
        "row. Scale shape: the counter grid is a fixed d*w cells "
        "built by one map-side-combinable shuffle (the posexplode "
        "fan-out collapses before the exchange), then broadcast to "
        "estimate any candidate set; grids from disjoint splits merge "
        "by cell-wise SUM. Cross-engine exactness comes from salted "
        "md5 column hashing and all-integer counters."
    ),
    tags=("sketch", "approx", "topk"),
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    # 4 salted md5 hashes per row before the map-side combine: split the
    # single-file scan so the hash CPU uses more than one core
    counters = sk.cms_counters(
        with_scan_parallelism(orders), key=F.col("o_custkey")
    )
    exact = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    cand = exact.orderBy(F.desc("exact_cnt"), F.asc("o_custkey")).limit(
        _CMS_TOPK
    )
    cells = cand.select(
        "o_custkey",
        "exact_cnt",
        F.posexplode(sk.cms_cols(F.col("o_custkey"))).alias("j", "col"),
    )
    est = (
        cells.join(F.broadcast(counters), ["j", "col"])
        .groupBy("o_custkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "o_custkey",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


# --------------------------------------------------------------------------
# Bloom-filter runtime-filter audit.
# --------------------------------------------------------------------------

_BLOOM_PRICE_MIN = 490000.0


@register(
    "q_bloom_filter_probe",
    oracle=f"""
    WITH build_keys AS (
        SELECT DISTINCT o_custkey AS bkey FROM orders
        WHERE o_totalprice > {_BLOOM_PRICE_MIN!r}
    ),
    words AS (
        SELECT word, CAST(bit_or(mask) AS BIGINT) AS bloom_word
        FROM ({sk.bloom_positions_sql_rows("bkey", "build_keys")})
        GROUP BY word
    ),
    probe_cells AS (
        {sk.bloom_positions_sql_rows("c_custkey", "customer",
                                     extra_cols="c_custkey, c_mktsegment")}
    ),
    probe_hits AS (
        SELECT pc.c_custkey, pc.c_mktsegment,
               CAST(SUM(CASE WHEN w.bloom_word IS NOT NULL
                             AND (w.bloom_word & pc.mask) = pc.mask
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM probe_cells pc LEFT JOIN words w ON pc.word = w.word
        GROUP BY pc.c_custkey, pc.c_mktsegment
    ),
    flagged AS (
        SELECT h.c_custkey, h.c_mktsegment,
               h.n_hits = {sk.BLOOM_K} AS bloom_pass,
               b.bkey IS NOT NULL AS is_member
        FROM probe_hits h LEFT JOIN build_keys b ON h.c_custkey = b.bkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_pass
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
    FROM flagged
    GROUP BY c_mktsegment
    """,
    doc=(
        "Explicit Bloom runtime filter: build a 512-word/3-hash filter "
        "over the distinct high-value-order customers, probe every "
        "customer through it, then audit against exact membership per "
        "market segment. n_false_negatives is a correctness "
        "certificate (a Bloom filter must never miss a member — the "
        "column is provably 0), n_false_positives measures the prune "
        "quality the optimizer would get. Scale shape: this is the "
        "manual, auditable version of Spark's injected runtime filter "
        "— the build side collapses to ≤512 words via map-side bit_or, "
        "broadcasts everywhere, and the probe is a shuffle-free "
        "broadcast lookup, exactly how a 100 TB fact scan is pruned "
        "before an expensive join. All bit positions are salted-md5 "
        "integers, so every word matches DuckDB bit-for-bit "
        "(shifts capped at 62: 1<<63 overflows signed int64 and "
        "DuckDB raises where the JVM wraps)."
    ),
    tags=("sketch", "join", "runtime-filter"),
)
def q_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    build_keys = (
        orders.filter(F.col("o_totalprice") > _BLOOM_PRICE_MIN)
        .select(F.col("o_custkey").alias("bkey"))
        .distinct()
    )
    words = sk.bloom_build(build_keys, "bkey")
    probe = customer.select("c_custkey", "c_mktsegment")
    passed = sk.bloom_probe(probe, "c_custkey", words)
    flagged = passed.join(
        F.broadcast(build_keys),
        passed["c_custkey"] == build_keys["bkey"],
        "left",
    ).select(
        "c_mktsegment",
        "bloom_pass",
        F.col("bkey").isNotNull().alias("is_member"),
    )
    as_int = lambda c: F.col(c).cast("int")  # noqa: E731
    return flagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(as_int("bloom_pass")).cast("bigint").alias("n_bloom_pass"),
        F.sum(as_int("is_member")).cast("bigint").alias("n_members"),
        F.sum((F.col("bloom_pass") & ~F.col("is_member")).cast("int"))
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum((F.col("is_member") & ~F.col("bloom_pass")).cast("int"))
        .cast("bigint")
        .alias("n_false_negatives"),
    )


# --------------------------------------------------------------------------
# Small-file compaction planner.
# --------------------------------------------------------------------------

_COMPACT_CAP = 4000  # target rows per compacted output file


@register(
    "q_compaction_planner",
    oracle=f"""
    WITH files AS (
        SELECT date_trunc('month', l_shipdate) AS file_month,
               l_returnflag AS file_flag,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1, 2
    ),
    planned AS (
        SELECT file_month, file_flag, n_rows,
               (CAST(SUM(n_rows) OVER (
                    ORDER BY file_month, file_flag
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_rows)
                   // {_COMPACT_CAP} AS bin_id
        FROM files
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           MIN(file_month) AS min_month,
           MAX(file_month) AS max_month
    FROM planned GROUP BY bin_id
    """,
    doc=(
        "Lakehouse small-file compaction planner (OPTIMIZE-style): "
        "treat each (ship-month, returnflag) partition of lineitem as "
        "a data file with its row count as size, then assign files to "
        "compaction bins by sorted next-fit — bin = exclusive-prefix-"
        "cumsum DIV capacity — over the canonical (month, flag) "
        "manifest order. Deterministic, so cell-exact against the SQL "
        "window twin. Scale shape: a planner consumes the table "
        "MANIFEST (file-level metadata, ~1e6 rows for a 100 TB table), "
        "not the data, so the global-order window runs on metadata "
        "that fits one partition by construction; the expensive part — "
        "actually rewriting each bin — parallelizes per bin "
        "downstream. The unique (month, flag) key is the total order "
        "every deterministic LIMIT/window needs."
    ),
    tags=("lakehouse", "window", "metadata"),
)
def q_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, "lineitem", sf_dir)
    files = lineitem.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("file_month"),
        F.col("l_returnflag").alias("file_flag"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    w = (
        Window.orderBy("file_month", "file_flag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = (
        files.withColumn("prefix_rows", F.sum("n_rows").over(w))
        .withColumn(
            "bin_id",
            F.expr(f"(prefix_rows - n_rows) div {_COMPACT_CAP}"),
        )
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("file_month").alias("min_month"),
        F.max("file_month").alias("max_month"),
    )


# --------------------------------------------------------------------------
# Zone-map (min/max) data-skipping audit.
# --------------------------------------------------------------------------

_ZM_FILE_ROWS = 256  # orderkeys per simulated file
_ZM_DATE_LO = "1997-01-01 00:00:00"
_ZM_DATE_HI = "1997-07-01 00:00:00"
_ZM_PRICE_LO = 20000.0
_ZM_PRICE_HI = 30000.0


@register(
    "q_zone_map_pruning",
    oracle=f"""
    WITH zones AS (
        SELECT l_orderkey // {_ZM_FILE_ROWS} AS file_id,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    ),
    flagged AS (
        SELECT *,
               NOT (max_ship <  TIMESTAMP '{_ZM_DATE_LO}'
                 OR min_ship >= TIMESTAMP '{_ZM_DATE_HI}'
                 OR max_price < {_ZM_PRICE_LO!r}
                 OR min_price > {_ZM_PRICE_HI!r}) AS candidate
        FROM zones
    ),
    summary AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_candidate_files,
               CAST(SUM(CASE WHEN candidate THEN n_rows ELSE 0 END)
                    AS BIGINT) AS candidate_rows,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows
        FROM flagged
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_ZM_DATE_LO}'
          AND l_shipdate <  TIMESTAMP '{_ZM_DATE_HI}'
          AND l_extendedprice BETWEEN {_ZM_PRICE_LO!r} AND {_ZM_PRICE_HI!r}
    )
    SELECT s.n_files, s.n_candidate_files, s.candidate_rows,
           s.total_rows, e.exact_rows
    FROM summary s, exact e
    """,
    doc=(
        "Zone-map (per-file min/max) data-skipping effectiveness "
        "audit: simulate files as l_orderkey DIV 256 ranges (insert-"
        "order clustering, the realistic default), build min/max zone "
        "maps for l_shipdate and l_extendedprice, and evaluate which "
        "files a conjunctive range predicate could prune. Output "
        "contrasts candidate_rows (what a zone-map-aware scan reads) "
        "with total_rows and exact_rows. Scale shape: zone maps ARE "
        "parquet footer stats — this query is the offline version of "
        "the skipping the reader does per row group; on 100 TB the "
        "audit itself runs over file-level metadata (one row per "
        "file after the first fold) and tells you whether the current "
        "layout supports the workload or needs the Z-order rewrite "
        "(q_zorder_layout is the companion write path). The predicate "
        "columns correlate differently with insert order — shipdate "
        "weakly (prunes most files), price barely (prunes none) — "
        "which is exactly the signal a layout advisor needs."
    ),
    tags=("lakehouse", "pruning", "metadata"),
)
def q_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, "lineitem", sf_dir)
    d_lo = F.lit(_ZM_DATE_LO).cast("timestamp")
    d_hi = F.lit(_ZM_DATE_HI).cast("timestamp")
    zones = lineitem.groupBy(
        F.expr(f"l_orderkey div {_ZM_FILE_ROWS}").alias("file_id")
    ).agg(
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    candidate = ~(
        (F.col("max_ship") < d_lo)
        | (F.col("min_ship") >= d_hi)
        | (F.col("max_price") < _ZM_PRICE_LO)
        | (F.col("min_price") > _ZM_PRICE_HI)
    )
    summary = zones.withColumn("candidate", candidate).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.col("candidate").cast("int"))
        .cast("bigint")
        .alias("n_candidate_files"),
        F.sum(F.when(F.col("candidate"), F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("candidate_rows"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
    )
    exact = lineitem.filter(
        (F.col("l_shipdate") >= d_lo)
        & (F.col("l_shipdate") < d_hi)
        & F.col("l_extendedprice").between(_ZM_PRICE_LO, _ZM_PRICE_HI)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("exact_rows"))
    return summary.crossJoin(F.broadcast(exact))


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance (aggregate state + delta).
# --------------------------------------------------------------------------

# sf-independent base/delta split: "the first 80% of the log is already
# folded into the stored view; maintain it with the remaining 20%".
_IVM_BASE_PRED = "event_id % 10 < 8"
_IVM_DELTA_PRED = "event_id % 10 >= 8"


@register(
    "q_incremental_view_agg",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    GROUP BY user_id
    """,
    doc=(
        "Incremental materialized-view maintenance: the per-user "
        "(count, sum) view is first built from the base 80% of the "
        "event log, then MAINTAINED by folding in only the 20% delta "
        "— a full-outer merge of two pre-aggregated states with "
        "coalesce-to-zero — rather than recomputed. The oracle "
        "recomputes from scratch over the whole log, so the hash match "
        "IS the proof that base ⊕ delta == full recompute (count and "
        "SUM are self-maintainable aggregates; MIN/MAX under deletes "
        "are not — that distinction is the IVM design line). Scale "
        "shape: at 100 TB the base state is a stored table you never "
        "re-scan; each refresh shuffles only the delta partition and "
        "joins it against state hash-partitioned on the same key, the "
        "core trick behind every streaming-warehouse refresh. Sums "
        "use the integer-cents surrogate (floor(value*100)) so the "
        "compared column is exact-integer, immune to float fold "
        "order."
    ),
    tags=("incremental", "aggregation", "maintenance"),
)
def q_incremental_view_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    cents = F.floor(F.col("value") * 100.0).cast("bigint")

    def agg_state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
        )

    base = agg_state(events.filter(F.expr(_IVM_BASE_PRED)))
    delta = agg_state(events.filter(F.expr(_IVM_DELTA_PRED)))
    zero = F.lit(0).cast("bigint")
    merged = base.alias("b").join(
        delta.alias("d"), F.col("b.user_id") == F.col("d.user_id"), "full_outer"
    )
    return merged.select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("b.n_events"), zero)
            + F.coalesce(F.col("d.n_events"), zero)
        ).alias("n_events"),
        (
            F.coalesce(F.col("b.sum_cents"), zero)
            + F.coalesce(F.col("d.sum_cents"), zero)
        ).alias("sum_cents"),
    )


# --------------------------------------------------------------------------
# Referential-integrity audit (FK orphans + childless parents).
# --------------------------------------------------------------------------


def _fk_edge_sql(edge: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{edge}' AS fk_edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
            WHERE NOT EXISTS (
                SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})
           ) AS n_orphans,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent} p
            WHERE NOT EXISTS (
                SELECT 1 FROM {child} c WHERE c.{ck} = p.{pk})
           ) AS n_childless_parents"""


_FK_EDGES = (
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


@register(
    "q_fk_integrity_audit",
    oracle=" UNION ALL ".join(_fk_edge_sql(*e) for e in _FK_EDGES),
    doc=(
        "Referential-integrity audit over the four FK edges of the "
        "schema: per edge, child rows, orphaned children (FK with no "
        "parent — anti join) and childless parents (PK never "
        "referenced — anti join the other way). On clean TPC-H-ish "
        "data orphans are provably 0, making the column a standing "
        "data-contract certificate for ingest pipelines; childless "
        "parents are the business-signal side. Scale shape: both "
        "sides pre-aggregate to (key, count) map-side, then ONE "
        "full-outer join per edge answers all three counts — each "
        "table is scanned once (the naive two-anti-join form scans "
        "both twice); the lineitem→orders edge shuffles pre-reduced "
        "keys, not rows. The four audits union into one "
        "metadata-sized result."
    ),
    tags=("quality", "join", "audit"),
)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per edge: pre-aggregate each side to (key, row_count), then ONE
    # full-outer join answers all three counts — child rows (sum of
    # child counts), orphans (child count where parent side is null),
    # childless parents (parent key with null child side). Each table
    # is scanned once; the two-anti-join formulation scans both tables
    # twice and runs two join stages per edge.
    out: DataFrame | None = None
    for edge, child, ck, parent, pk in _FK_EDGES:
        c = (
            load_table(spark, child, sf_dir)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c_cnt"))
        )
        p = (
            load_table(spark, parent, sf_dir)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("p_seen", F.lit(1))
        )
        merged = c.join(p, "k", "full_outer")
        row = merged.agg(
            F.sum(F.coalesce(F.col("c_cnt"), F.lit(0)))
            .cast("bigint")
            .alias("n_child_rows"),
            F.sum(
                F.when(F.col("p_seen").isNull(), F.col("c_cnt")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_orphans"),
            F.sum(
                F.when(
                    F.col("p_seen").isNotNull() & F.col("c_cnt").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_childless_parents"),
        ).select(
            F.lit(edge).alias("fk_edge"),
            "n_child_rows",
            "n_orphans",
            "n_childless_parents",
        )
        out = row if out is None else out.unionAll(row)
    assert out is not None
    return out


# --------------------------------------------------------------------------
# Column profiler (schema-drift / data-quality baseline).
# --------------------------------------------------------------------------

_PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_NUM_COLS:
        parts.append(f"""
        SELECT '{c}' AS column_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_num,
               CAST(MAX({c}) AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM orders""")
    for c in _PROFILE_STR_COLS:
        parts.append(f"""
        SELECT '{c}' AS column_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_num,
               CAST(NULL AS DOUBLE) AS max_num,
               MIN({c}) AS min_str,
               MAX({c}) AS max_str
        FROM orders""")
    return " UNION ALL ".join(parts)


@register(
    "q_column_profile",
    oracle=_profile_sql(),
    doc=(
        "Column profiler over orders — the baseline a schema-drift "
        "monitor diffs against: per column, row/null/distinct counts "
        "and min/max, with numeric and string extrema kept in "
        "separately-typed columns (casting doubles to VARCHAR is a "
        "cross-engine trap: Java renders 1e7 as '1.0E7', DuckDB as "
        "'10000000.0'). Scale shape: ONE pass over the table computes "
        "every per-column aggregate in a single codegen'd projection "
        "(no per-column scans); exact n_distinct is the honest-but-"
        "shuffling choice here, and the HLL sketch "
        "(q_approx_distinct_hll) is the documented swap-in when a "
        "100 TB profile can't afford count-distinct per column. The "
        "wide-agg-then-unpivot shape keeps the result one metadata "
        "row per column."
    ),
    tags=("quality", "profile", "metadata"),
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in _PROFILE_NUM_COLS + _PROFILE_STR_COLS:
        aggs.extend(
            [
                F.sum(F.col(c).isNull().cast("int"))
                .cast("bigint")
                .alias(f"{c}__nulls"),
                F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            ]
        )
    for c in _PROFILE_NUM_COLS:
        aggs.extend(
            [
                F.min(c).cast("double").alias(f"{c}__min"),
                F.max(c).cast("double").alias(f"{c}__max"),
            ]
        )
    for c in _PROFILE_STR_COLS:
        aggs.extend(
            [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
        )
    wide = orders.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in _PROFILE_NUM_COLS:
        rows.append(
            (c, f"{c}__nulls", f"{c}__distinct",
             F.col(f"{c}__min"), F.col(f"{c}__max"), null_s, null_s)
        )
    for c in _PROFILE_STR_COLS:
        rows.append(
            (c, f"{c}__nulls", f"{c}__distinct",
             null_d, null_d, F.col(f"{c}__min"), F.col(f"{c}__max"))
        )
    out: DataFrame | None = None
    for name, nulls, dist, mn, mx, ms, xs in rows:
        row = wide.select(
            F.lit(name).alias("column_name"),
            F.col("n_rows"),
            F.col(nulls).alias("n_nulls"),
            F.col(dist).alias("n_distinct"),
            mn.cast("double").alias("min_num"),
            mx.cast("double").alias("max_num"),
            ms.cast("string").alias("min_str"),
            xs.cast("string").alias("max_str"),
        )
        out = row if out is None else out.unionAll(row)
    assert out is not None
    return out


# --------------------------------------------------------------------------
# Closed-form OLS trend per group (exact power sums, one rational divide).
# --------------------------------------------------------------------------


@register(
    "q_ols_trend_by_group",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000
                    - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                      // 86400000000 AS BIGINT) AS x,
               CAST(floor(value * 100.0) AS BIGINT) AS y
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           -- NULLIF: a group whose x values are all equal has den = 0
           -- (undefined slope); Spark's ANSI mode would otherwise THROW
           -- on the division while DuckDB returns NULL
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
               AS slope_cents_per_day
    FROM sums
    """,
    doc=(
        "Per-group OLS trend (cents/day of event value per event "
        "type) via the closed form slope = (n·Σxy − Σx·Σy) / "
        "(n·Σxx − Σx²), computed over INTEGER surrogates — day index "
        "since a fixed epoch for x, floor-cents for y — so all four "
        "power sums are exact BIGINTs immune to partial-aggregation "
        "order (the reason built-in covar_pop/regr_slope drift "
        "cross-engine: float sums reassociate). The only float op is "
        "the final num/den division; num and den are also emitted as "
        "the exact-integer certificate. Scale shape: one map-side-"
        "combinable hash aggregate over the fact scan — regression "
        "over 100 TB is the same one-pass shuffle as a SUM, the "
        "pattern behind every 'fit a trend per key' monitoring job "
        "(q_exact_moments is the same machinery for var/covar/corr)."
    ),
    tags=("statistics", "aggregation", "regression"),
)
def q_ols_trend_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    epoch_day = F.expr(
        "unix_micros(TIMESTAMP '2024-01-01 00:00:00') div 86400000000"
    )
    x = (F.expr("unix_micros(ts) div 86400000000") - epoch_day).cast(
        "bigint"
    )
    y = F.floor(F.col("value") * 100.0).cast("bigint")
    pts = events.select(
        "event_type", x.alias("x"), y.alias("y")
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "event_type",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        # try_divide: den = 0 when a group's x values are all equal
        # (undefined slope) — ANSI mode would throw on plain division
        F.try_divide(num.cast("double"), den.cast("double")).alias(
            "slope_cents_per_day"
        ),
    )


# --------------------------------------------------------------------------
# Schema evolution read (mergeSchema + absent-column-as-NULL semantics).
# --------------------------------------------------------------------------


@register(
    "q_schema_evolution_read",
    oracle="""
    WITH v1 AS (
        SELECT user_id, value, CAST(NULL AS VARCHAR) AS country
        FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
        SELECT user_id, value,
               CONCAT('C', CAST(user_id % 5 AS VARCHAR)) AS country
        FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT country,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM unioned GROUP BY country
    """,
    doc=(
        "Schema evolution read: two parquet writes into one table dir "
        "— the first BEFORE a `country` column existed, the second "
        "after — read back with mergeSchema=true, so old files "
        "surface the new column as NULL (the add-column contract "
        "every lakehouse table format promises). The aggregate groups "
        "by the evolved column with the NULL group carrying the "
        "pre-evolution rows. Scale shape: schema merge happens at "
        "planning from file footers (cheap), NOT by rewriting "
        "history — which is the whole point: a 100 TB table gains a "
        "column for free; the alternative (backfill rewrite) is the "
        "compaction planner's job to schedule incrementally. The "
        "oracle derives both file generations from the same events "
        "arithmetic."
    ),
    tags=("lakehouse", "schema", "evolution"),
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    events = load_table(spark, "events", sf_dir)
    work = tempfile.mkdtemp(prefix="ksa_schemaevo_")
    try:
        (
            events.filter(F.col("event_id") % 2 == 0)
            .select("user_id", "value")
            .write.parquet(f"{work}/t", mode="append")
        )
        (
            events.filter(F.col("event_id") % 2 == 1)
            .select(
                "user_id",
                "value",
                F.concat(F.lit("C"), (F.col("user_id") % 5).cast("string"))
                .alias("country"),
            )
            .write.parquet(f"{work}/t", mode="append")
        )
        merged = spark.read.option("mergeSchema", "true").parquet(f"{work}/t")
        out = (
            merged.groupBy("country")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100.0).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .localCheckpoint(eager=True)  # survives the rmtree below
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# Markov transition matrix over user event sequences.
# --------------------------------------------------------------------------


@register(
    "q_event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    cnt AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
               AS from_total,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
               AS p_transition
    FROM cnt
    """,
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences (the user-journey model behind funnels and "
        "next-action prediction): lag() pairs each event with its "
        "predecessor in (ts, event_id) order, counts land per "
        "(prev, next) cell, and the row-normalized transition "
        "probability is one int/int division (deterministic). Scale "
        "shape: one exchange for the per-user window, then the "
        "(prev, next) aggregate collapses map-side to at most "
        "|types|^2 cells — the classic big-data shape where the "
        "result is model-sized no matter how large the input; the "
        "normalizing window runs over those few cells, not the data."
    ),
    tags=("analytics", "window", "markov"),
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wp = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(wp).cast("bigint").alias("from_total"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(wp).cast("double")
        ).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Declarative data-contract validation (dbt-test / expectations style).
# --------------------------------------------------------------------------


@register(
    "q_data_contract_checks",
    oracle="""
    SELECT 'orders.o_orderkey.unique' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
            FROM orders) AS n_violations
    UNION ALL
    SELECT 'orders.o_custkey.not_null',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
            FROM orders)
    UNION ALL
    SELECT 'orders.o_orderstatus.accepted_values',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) FILTER (
                WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
            FROM orders)
    UNION ALL
    SELECT 'lineitem.l_discount.range_0_to_0.1',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) FILTER (
                WHERE l_discount < 0.0 OR l_discount > 0.1) AS BIGINT)
            FROM lineitem)
    UNION ALL
    SELECT 'lineitem.l_quantity.positive',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) FILTER (WHERE l_quantity <= 0.0) AS BIGINT)
            FROM lineitem)
    UNION ALL
    SELECT 'events.freshness.max_ts_after_2024_01_25',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
           (SELECT CAST(CASE WHEN MAX(ts)
                     >= TIMESTAMP '2024-01-25 00:00:00'
                THEN 0 ELSE 1 END AS BIGINT) FROM events)
    """,
    doc=(
        "Declarative data-contract validation (the dbt-test / "
        "expectations shape): uniqueness, not-null, accepted-values, "
        "numeric-range, positivity, and freshness checks emitted as "
        "one row per constraint with its violation count — the "
        "standing gate an ingest pipeline evaluates before publishing "
        "a partition. All-zero violations on clean data make the "
        "result a certificate; the FK edges live in the companion "
        "q_fk_integrity_audit. Scale shape: every check is a single "
        "aggregate over one table — Spark runs the per-table checks "
        "in one scan each (the uniqueness check is the only one "
        "needing a shuffle, count distinct on the key), and the "
        "result is constraint-count-sized. Freshness compares MAX(ts) "
        "against a fixed timestamp literal, naive on both engines."
    ),
    tags=("quality", "contract", "audit"),
)
def q_data_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    events = load_table(spark, "events", sf_dir)
    zero = F.lit(0)

    def check(name: str, df: DataFrame, violation) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            violation.cast("bigint").alias("n_violations"),
        ).select(
            F.lit(name).alias("check_name"), "n_rows", "n_violations"
        )

    checks = [
        check(
            "orders.o_orderkey.unique",
            orders,
            F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
        ),
        check(
            "orders.o_custkey.not_null",
            orders,
            F.sum(F.col("o_custkey").isNull().cast("int")),
        ),
        check(
            "orders.o_orderstatus.accepted_values",
            orders,
            F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("int")),
        ),
        check(
            "lineitem.l_discount.range_0_to_0.1",
            lineitem,
            F.sum(
                (
                    (F.col("l_discount") < 0.0)
                    | (F.col("l_discount") > 0.1)
                ).cast("int")
            ),
        ),
        check(
            "lineitem.l_quantity.positive",
            lineitem,
            F.sum((F.col("l_quantity") <= 0.0).cast("int")),
        ),
        check(
            "events.freshness.max_ts_after_2024_01_25",
            events,
            F.when(
                F.max("ts")
                >= F.lit("2024-01-25 00:00:00").cast("timestamp"),
                zero,
            ).otherwise(F.lit(1)),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# --------------------------------------------------------------------------
# Mergeable fixed-bin quantile sketch (round 7).
# --------------------------------------------------------------------------

_QSK_WIDTH = 500
_QSK_NBINS = 1024  # covers o_totalprice in [0, 512000); observed max ~500k


@register(
    "q_quantile_sketch_hist",
    oracle=sk.hist_quantile_oracle(
        "o_totalprice",
        "o_orderpriority",
        "orders",
        width=_QSK_WIDTH,
        nbins=_QSK_NBINS,
        group_alias="o_orderpriority",
    ),
    doc=(
        "Approximate per-group percentiles from a mergeable fixed-bin "
        "histogram sketch (the HDR-histogram family): order totals "
        "bucket into 1024 width-500 bins, the sketch is the per-group "
        "bin-count vector (mergeable by vector add — exactly what the "
        "map-side partial aggregate performs), and p50/p90/p99 answer "
        "with the upper edge of the first bin reaching the integer "
        "ceil-rank (100*cum >= p*n form). Error <= one bin width by "
        "construction, reported as err_bound. Contrast with "
        "q_latency_percentiles (exact, full per-group sort): this is "
        "the 100 TB shape — O(nbins) state per group regardless of "
        "row count, the first exchange collapses to <= groups*nbins "
        "rows via partial aggregation, the second exchange (the "
        "cumulative window + final fold) sees only that tiny frame, "
        "and sketches from different partitions/days/streams merge "
        "losslessly. Cell-exact because bins are floor-divisions, "
        "ranks integer, and estimates BIGINT bin edges."
    ),
    tags=("sketch", "percentile", "aggregation"),
)
def q_quantile_sketch_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return sk.hist_quantile_sketch(
        orders,
        "o_orderpriority",
        "o_totalprice",
        width=_QSK_WIDTH,
        nbins=_QSK_NBINS,
    )


# --------------------------------------------------------------------------
# Streaming HLL: register max-merge across micro-batches (round 7).
# --------------------------------------------------------------------------


@register(
    "q_stream_hll_distinct",
    oracle=f"""
    WITH {sk.hll_oracle_cte("user_id", "event_type", "events")}
    SELECT grp AS event_type, n_registers_hit, register_checksum,
           scaled_sum, est_distinct
    FROM hll_est
    """,
    doc=(
        "STREAMING HyperLogLog — the mergeability the sketch exists "
        "for, demonstrated live: events arrive in two time-split "
        "micro-batches, each row projects to its (group, register, "
        "rho) term, and Spark's built-in stateful max aggregates the "
        "registers in UPDATE mode (HLL registers form a max-merge "
        "monoid, so the streaming fold is exactly sketch merge). The "
        "update changelog drains through the manifest sink; read-back "
        "applies latest-batch-wins per register and the shared "
        "summarize fold (scaled-integer harmonic mean). The oracle is "
        "the BATCH HLL SQL over the same events — hash-equality "
        "proves streaming merge == one-pass build, i.e. the sketch is "
        "order/partition/batch agnostic. Scale shape: state is "
        "m=64 registers per group forever, each micro-batch shuffles "
        "at most groups*m updated registers after partial "
        "aggregation, driver touches manifest file names only."
    ),
    tags=("sketch", "streaming", "stateful"),
)
def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    with drain_workdir(spark) as work:
        base = load_table(spark, "events", sf_dir).select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts)").alias("ts_us"),
        )
        raw = staged_two_batch(
            spark, base, "ts_us", 1705363200000000,  # 2024-01-16 UTC
            "user_id long, event_type string, ts_us long", work,
        )
        regs_stream = (
            sk.hll_row_terms(raw, F.col("user_id"), F.col("event_type"))
            .groupBy("grp", "idx")
            .agg(F.max("r").alias("r"))
        )
        committed = run_stream_committed(
            regs_stream, work, "update", "grp string, idx int, r int"
        )
        final_regs = latest_per_key(
            committed, ["grp", "idx"], "_batch", ["r"]
        )
        return (
            sk.hll_summarize(final_regs)
            .select(
                F.col("grp").alias("event_type"),
                "n_registers_hit",
                "register_checksum",
                "scaled_sum",
                "est_distinct",
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Approximate query processing: deterministic-sample estimates with an
# exact-arithmetic confidence interval (round 7).
# --------------------------------------------------------------------------

from kafka_streams_aggregate_spark.functions.hashing import (  # noqa: E402
    hash60,
    hash60_sql,
)

_AQP_MOD = 10  # 1-in-10 deterministic sample
_AQP_RESIDUE = 7


@register(
    "q_aqp_sampled_mean",
    oracle=f"""
    WITH sampled AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
        WHERE {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % {_AQP_MOD}
              = {_AQP_RESIDUE}
    ),
    sums AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_sample,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(CAST(cents * cents AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS s2
        FROM sampled
        GROUP BY o_orderpriority
        HAVING COUNT(*) >= 2
    )
    SELECT o_orderpriority, n_sample,
           CAST(s1 AS DOUBLE) / CAST(n_sample AS DOUBLE) / 100.0
               AS est_mean_price,
           0.0196 * sqrt(
               ((CAST(n_sample AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n_sample AS DOUBLE)
                   * (CAST(n_sample AS DOUBLE) - 1.0)))
               / CAST(n_sample AS DOUBLE)
           ) AS ci95_half
    FROM sums
    """,
    doc=(
        "Approximate query processing: per-priority mean order price "
        "estimated from a DETERMINISTIC 1-in-10 sample (md5-residue "
        "membership — no RNG state, repartition/engine agnostic, the "
        "same rows forever) with a 95% confidence half-width from the "
        "sample variance. The 100 TB story: the sampled scan reads "
        "10% of the data (at scale, a sample TABLE maintained by the "
        "same predicate turns this into a 10x-100x cheaper scan with "
        "quantified error), and the estimate pipeline is one "
        "map-side-combinable aggregate over exact integer cents power "
        "sums (DECIMAL(38,0) for the squares — BIGINT would overflow "
        "past ~sf1). The only floats are the final divisions and one "
        "IEEE-exact sqrt, expression-tree-identical on both engines, "
        "so even the CI is hash-verified cell-exact. n>=2 guard "
        "(variance df); the accuracy of the interval itself is pinned "
        "against the full-scan truth in tests."
    ),
    tags=("sampling", "aqp", "aggregation"),
)
def q_aqp_sampled_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cents = (
        F.col("o_totalprice").cast("decimal(12,2)") * 100
    ).cast("bigint")
    sampled = orders.filter(
        hash60(F.col("o_orderkey").cast("string")) % _AQP_MOD
        == _AQP_RESIDUE
    ).select("o_orderpriority", cents.alias("cents"))
    sums = (
        sampled.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sample"),
            F.sum("cents").cast("bigint").alias("s1"),
            F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .filter(F.col("n_sample") >= 2)
    )
    n_d = F.col("n_sample").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    var = (n_d * s2_d - s1_d * s1_d) / (n_d * (n_d - F.lit(1.0)))
    return sums.select(
        "o_orderpriority",
        "n_sample",
        (s1_d / n_d / F.lit(100.0)).alias("est_mean_price"),
        (F.lit(0.0196) * F.sqrt(var / n_d)).alias("ci95_half"),
    )


# --------------------------------------------------------------------------
# One-pass multi-column NDV profile: stacked HLL sketches (round 7).
# --------------------------------------------------------------------------

_NDV_COLS = ("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")


@register(
    "q_column_ndv_profile_hll",
    oracle=f"""
    WITH stacked AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS cname, CAST({c} AS VARCHAR) AS key"
            f" FROM orders WHERE {c} IS NOT NULL"
            for c in _NDV_COLS
        )}
    ),
    {sk.hll_oracle_cte("key", "cname", "stacked")}
    SELECT grp AS column_name, n_registers_hit, register_checksum,
           scaled_sum, est_distinct
    FROM hll_est
    """,
    doc=(
        "Cardinality profiling for ALL columns in ONE scan: each input "
        "row stacks into (column_name, value) pairs inside the scan "
        "stage (a generator, no shuffle, no second read), and the "
        "per-column HyperLogLog registers aggregate through one "
        "map-side-combinable exchange carrying at most "
        "n_columns * 64 register rows per input partition. This is "
        "the 100 TB answer to per-column COUNT(DISTINCT) profiling, "
        "which would otherwise be either N full scans or one "
        "expand-based multi-distinct aggregate shuffling every raw "
        "value; the register table is also mergeable across "
        "partitions/days for incremental profile maintenance. "
        "Cell-exact via the shared md5 register layout and "
        "scaled-integer harmonic mean; estimate accuracy vs exact "
        "NDV is pinned in tests (HLL m=64 gives ~13% standard error "
        "in the NDV >> m regime; below it raw HLL reads high because "
        "the ln-based linear-counting correction is deliberately "
        "omitted for cross-engine exactness — n_registers_hit "
        "exposes V so consumers can apply it). Complements "
        "q_column_profile (exact min/max/null stats) as the "
        "sketch-based tier."
    ),
    tags=("sketch", "profiling", "aggregation"),
)
def q_column_ndv_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _NDV_COLS
    )
    stacked = orders.select(
        F.expr(
            f"stack({len(_NDV_COLS)}, {stack_args}) AS (cname, key)"
        )
    ).filter(F.col("key").isNotNull())
    regs = sk.hll_registers(stacked, F.col("key"), F.col("cname"))
    return sk.hll_summarize(regs).select(
        F.col("grp").alias("column_name"),
        "n_registers_hit",
        "register_checksum",
        "scaled_sum",
        "est_distinct",
    )


# --------------------------------------------------------------------------
# HLL set-overlap estimation across datasets (round 7).
# --------------------------------------------------------------------------


@register(
    "q_hll_set_overlap",
    oracle=f"""
    WITH stacked AS (
        SELECT 'events_users' AS src, CAST(user_id AS VARCHAR) AS key
        FROM events WHERE user_id IS NOT NULL
        UNION ALL
        SELECT 'customers' AS src, CAST(c_custkey AS VARCHAR) AS key
        FROM customer WHERE c_custkey IS NOT NULL
    ),
    {sk.hll_oracle_cte("key", "src", "stacked")},
    reg_union AS (
        SELECT idx, MAX(r) AS r FROM reg_max GROUP BY idx
    ),
    union_est AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS union_registers_hit,
               CAST(SUM((idx + 1)::BIGINT * r) AS BIGINT)
                   AS union_register_checksum,
               {sk.HLL_EST_NUM!r} / CAST(
                   SUM(1::BIGINT << ({sk.HLL_RHO_CAP} - r))
                   + ({sk.HLL_M} - COUNT(*))
                     * {1 << sk.HLL_RHO_CAP}::BIGINT AS DOUBLE)
                   AS est_union
        FROM reg_union
    ),
    per_src AS (
        SELECT MAX(CASE WHEN grp = 'events_users' THEN est_distinct END)
                   AS est_events_users,
               MAX(CASE WHEN grp = 'customers' THEN est_distinct END)
                   AS est_customers
        FROM hll_est
    )
    SELECT p.est_events_users, p.est_customers, u.est_union,
           u.union_registers_hit, u.union_register_checksum,
           greatest(0.0, p.est_events_users + p.est_customers
                         - u.est_union) AS est_overlap
    FROM per_src p, union_est u
    """,
    doc=(
        "Cross-dataset key-overlap estimation WITHOUT shuffling raw "
        "keys: HLL registers for events.user_id and customer.c_custkey "
        "build independently (each its own map-side-combinable "
        "exchange over <= 64 register rows), the union sketch is the "
        "register-wise MAX of the two (sketch merge — no data "
        "movement), and the overlap estimate is inclusion-exclusion "
        "est_a + est_b - est_union clamped at 0. This is the 100 TB "
        "primitive for join-size planning and cross-corpus "
        "contamination triage: comparing two petabyte datasets' key "
        "spaces costs two register tables of 64 rows each, and "
        "register tables computed by different clusters/days merge "
        "after the fact. All register arithmetic integer-exact (md5 "
        "layout, scaled harmonic mean); the final "
        "inclusion-exclusion is three deterministic double ops — the "
        "whole row hash-verifies cell-exact. Accuracy vs the exact "
        "overlap (150 of 1500 at sf0.01) is pinned in tests."
    ),
    tags=("sketch", "join", "profiling"),
)
def q_hll_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    terms = sk.hll_row_terms(
        events.filter(F.col("user_id").isNotNull()),
        F.col("user_id"),
        F.lit("events_users"),
    ).unionAll(
        sk.hll_row_terms(
            customer.filter(F.col("c_custkey").isNotNull()),
            F.col("c_custkey"),
            F.lit("customers"),
        )
    )
    reg_max = terms.groupBy("grp", "idx").agg(F.max("r").alias("r"))
    per_src = (
        sk.hll_summarize(reg_max)
        .groupBy()
        .agg(
            F.max(
                F.when(
                    F.col("grp") == "events_users", F.col("est_distinct")
                )
            ).alias("est_events_users"),
            F.max(
                F.when(F.col("grp") == "customers", F.col("est_distinct"))
            ).alias("est_customers"),
        )
    )
    union_regs = (
        reg_max.groupBy("idx")
        .agg(F.max("r").alias("r"))
        .withColumn("grp", F.lit("union"))
    )
    union_est = sk.hll_summarize(union_regs).select(
        F.col("n_registers_hit").alias("union_registers_hit"),
        F.col("register_checksum").alias("union_register_checksum"),
        F.col("est_distinct").alias("est_union"),
    )
    return per_src.crossJoin(F.broadcast(union_est)).select(
        "est_events_users",
        "est_customers",
        "est_union",
        "union_registers_hit",
        "union_register_checksum",
        F.greatest(
            F.lit(0.0),
            F.col("est_events_users")
            + F.col("est_customers")
            - F.col("est_union"),
        ).alias("est_overlap"),
    )


# --------------------------------------------------------------------------
# Hot-key skew profiler (round 7): the planning input for salting.
# --------------------------------------------------------------------------


@register(
    "q_skew_profiler",
    oracle="""
    WITH stacked AS (
        SELECT 'user_id' AS cname, CAST(user_id AS VARCHAR) AS key
        FROM events WHERE user_id IS NOT NULL
        UNION ALL
        SELECT 'event_type' AS cname, event_type AS key
        FROM events WHERE event_type IS NOT NULL
    ),
    counts AS (
        SELECT cname, key, CAST(COUNT(*) AS BIGINT) AS kn
        FROM stacked GROUP BY cname, key
    ),
    ranked AS (
        SELECT cname, kn,
               row_number() OVER (
                   PARTITION BY cname ORDER BY kn, key) AS rn,
               COUNT(*) OVER (PARTITION BY cname) AS nk,
               SUM(kn) OVER (PARTITION BY cname) AS tot
        FROM counts
    )
    SELECT cname AS column_name,
           CAST(MAX(tot) AS BIGINT) AS n_rows,
           CAST(MAX(nk) AS BIGINT) AS n_keys,
           CAST(MAX(kn) AS BIGINT) AS max_key_rows,
           (CAST(MAX(kn) AS BIGINT) * 1000000)
               // CAST(MAX(tot) AS BIGINT) AS top1_share_ppm,
           (CAST(MAX(kn) AS BIGINT) * CAST(MAX(nk) AS BIGINT) * 1000000)
               // CAST(MAX(tot) AS BIGINT) AS skew_ratio_ppm,
           CAST(MAX(CASE WHEN rn = (99 * nk + 99) // 100 THEN kn END)
                AS BIGINT) AS p99_key_rows
    FROM ranked GROUP BY cname
    """,
    doc=(
        "Join/aggregation hot-key skew profiler — the measurement that "
        "DECIDES whether the salted two-phase path "
        "(q_skew_salted_agg) or AQE skew-join handling is needed "
        "before a 100 TB shuffle is attempted. Profiles two candidate "
        "key columns in ONE scan (stack generator): per column, total "
        "rows, distinct keys, the heaviest key's row count, its share "
        "in exact integer ppm, the skew ratio (max/avg, ppm — 1e6 "
        "means perfectly uniform), and the p99 key size via integer "
        "ceil-rank. Shape: one groupBy per (column, key) with partial "
        "aggregation, then windows + final fold over the per-key "
        "count table only (n_keys rows, not n_rows). All compared "
        "columns are integer-exact (ppm via integer div, never float "
        "shares). At scale the per-key count table is exactly what a "
        "shuffle planner samples; keys with kn over ~maxPartitionBytes "
        "worth of rows are the salting candidates."
    ),
    tags=("profiling", "skew", "aggregation"),
)
def q_skew_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    stacked = events.select(
        F.expr(
            "stack(2, 'user_id', CAST(user_id AS STRING), "
            "'event_type', event_type) AS (cname, key)"
        )
    ).filter(F.col("key").isNotNull())
    counts = stacked.groupBy("cname", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("kn")
    )
    wrank = Window.partitionBy("cname").orderBy("kn", "key")
    wall = Window.partitionBy("cname")
    ranked = counts.select(
        "cname",
        "kn",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nk"),
        F.sum("kn").over(wall).alias("tot"),
    )
    return ranked.groupBy("cname").agg(
        F.max("tot").cast("bigint").alias("n_rows"),
        F.max("nk").cast("bigint").alias("n_keys"),
        F.max("kn").cast("bigint").alias("max_key_rows"),
        F.expr("(MAX(kn) * 1000000) div MAX(tot)").alias("top1_share_ppm"),
        F.expr(
            "(MAX(kn) * MAX(nk) * 1000000) div MAX(tot)"
        ).alias("skew_ratio_ppm"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(99 * nk + 99) div 100"), F.col("kn")
            )
        )
        .cast("bigint")
        .alias("p99_key_rows"),
    ).withColumnRenamed("cname", "column_name")


# --------------------------------------------------------------------------
# Streaming quantile sketch: bin-count sum-merge across batches (r7).
# --------------------------------------------------------------------------

_SQSK_WIDTH = 1
_SQSK_NBINS = 1024  # events.value observed in [0, ~560]


@register(
    "q_stream_quantile_sketch",
    oracle=sk.hist_quantile_oracle(
        "value",
        "event_type",
        "events",
        width=_SQSK_WIDTH,
        nbins=_SQSK_NBINS,
        group_alias="event_type",
    ),
    doc=(
        "STREAMING histogram quantile sketch — the SUM-merge monoid "
        "complement to the max-merge streaming HLL: events arrive in "
        "two time-split micro-batches, per-(group, bin) COUNTS "
        "aggregate through Spark's built-in stateful count in UPDATE "
        "mode (bin counts vector-add, so the streaming fold IS sketch "
        "merge), the changelog drains through the manifest sink with "
        "latest-batch-wins read-back, and the shared recovery fold "
        "answers p50/p90/p99 by integer ceil-rank over the final "
        "vector. Oracle is the BATCH histogram SQL over the same "
        "events — hash equality proves two-batch streaming build == "
        "one-pass build. Scale shape: state is <= nbins counters per "
        "group forever; each micro-batch shuffles at most "
        "groups*nbins updated bins after partial aggregation."
    ),
    tags=("sketch", "percentile", "streaming", "stateful"),
)
def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    with drain_workdir(spark) as work:
        base = load_table(spark, "events", sf_dir).select(
            "event_type",
            "value",
            F.expr("unix_micros(ts)").alias("ts_us"),
        )
        raw = staged_two_batch(
            spark, base, "ts_us", 1705363200000000,  # 2024-01-16 UTC
            "event_type string, value double, ts_us long", work,
        )
        bin_col = F.least(
            F.floor(F.col("value") / F.lit(float(_SQSK_WIDTH))).cast(
                "bigint"
            ),
            F.lit(_SQSK_NBINS - 1),
        )
        binned_stream = (
            raw.select(
                "event_type", F.greatest(bin_col, F.lit(0)).alias("bin")
            )
            .groupBy("event_type", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        committed = run_stream_committed(
            binned_stream, work, "update",
            "event_type string, bin bigint, c bigint",
        )
        final_bins = latest_per_key(
            committed, ["event_type", "bin"], "_batch", ["c"]
        )
        return (
            sk.hist_quantile_recover(final_bins, "event_type", _SQSK_WIDTH)
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Dynamic partition pruning over a partitioned layout (round 7).
# --------------------------------------------------------------------------

from kafka_streams_aggregate_spark.functions.money import (  # noqa: E402
    dec,
    money_sum,
    money_sum_sql,
)


@register(
    "q_dynamic_partition_pruning",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {money_sum_sql("CAST(o_totalprice AS DECIMAL(12,2))")} AS revenue
    FROM orders
    WHERE year(o_orderdate) % 3 = 0
    GROUP BY year(o_orderdate)
    """,
    doc=(
        "Dynamic partition pruning over a year-partitioned fact "
        "layout — the scan-elision mechanism that makes star-schema "
        "joins survive 100 TB: orders are written "
        "partitionBy(o_year), the dimension side (the distinct years "
        "passing a selective predicate) broadcasts, and Catalyst "
        "injects the dim keys as a runtime partition filter into the "
        "fact scan, so only 3 of 7 year directories are READ — not "
        "filtered post-scan, never opened. The plan-shape test pins "
        "'dynamicpruning' in the fact scan's PartitionFilters. The "
        "build writes the partitioned layout to a temp dir "
        "(executes-at-build, like the CDC table services); the oracle "
        "is the equivalent predicate over the raw table. At real "
        "scale the layout write is the ingest job and only the "
        "pruned read recurs."
    ),
    tags=("lakehouse", "pruning", "join"),
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_dpp_")
    try:
        orders = load_table(spark, "orders", sf_dir)
        fact_path = f"{work}/orders_by_year"
        (
            orders.withColumn(
                "o_year", F.year("o_orderdate").cast("int")
            )
            .write.partitionBy("o_year")
            .parquet(fact_path)
        )
        fact = spark.read.parquet(fact_path)
        dim = (
            fact.select("o_year")
            .distinct()
            .filter(F.col("o_year") % 3 == 0)
        )
        joined = fact.join(F.broadcast(dim), "o_year")
        return (
            joined.groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                money_sum(dec("o_totalprice")).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_bucketed_join_agg",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc=(
        "Bucketed co-located join (round 8) — THE Spark mechanism for "
        "killing the shuffle on a repeated big-big join: both orders "
        "and customer are written ``bucketBy(8, custkey).sortBy`` as "
        "external tables, so each side's files arrive pre-hash-"
        "partitioned AND pre-sorted on the join key; the sort-merge "
        "join then needs NO Exchange on either side — the only "
        "exchange in the plan is the final per-segment aggregate "
        "(plan-pinned in tests/test_plans.py). The per-file sortBy "
        "order additionally elides the join-side Sort under "
        "spark.sql.legacy.bucketedTableScan.outputOrdering (off by "
        "default since Spark 3.0; the default plan keeps a cheap "
        "in-partition no-shuffle sort — also pinned). At 100 TB this "
        "is the difference between shuffling both fact tables on "
        "every join and shuffling them once at write time: bucket "
        "layout amortizes the exchange across every downstream join "
        "on the same key (Hive/Iceberg bucket transforms, Delta "
        "liquid clustering make the same trade). Revenue summed in "
        "exact DECIMAL then rounded (functions/money.py rule). The "
        "bucket count (8) is deliberately "
        "decoupled from spark.sql.shuffle.partitions — the join "
        "inherits the table's 8-way distribution, which the "
        "partitioning-independence suite verifies."
    ),
    tags=("join", "bucketing", "lakehouse", "scale"),
)
def q_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    work = tempfile.mkdtemp(prefix="ksa_bucketed_")
    suffix = uuid.uuid4().hex[:8]
    t_orders = f"ksa_bkt_orders_{suffix}"
    t_cust = f"ksa_bkt_customer_{suffix}"
    try:
        joined = build_bucketed_join(
            spark, sf_dir, work, t_orders, t_cust
        )
        return joined.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")
        shutil.rmtree(work, ignore_errors=True)


def build_bucketed_join(
    spark: SparkSession, sf_dir: str, work: str, t_orders: str, t_cust: str
) -> DataFrame:
    """Write both join sides bucketed, return the (lazy) joined
    aggregate — split out so tests/test_plans.py can pin the
    exchange-free/sort-free SMJ plan while the tables are still
    registered (the query checkpoints and drops them)."""
    # repartition(8, key) before bucketBy(8, key): writer hash ==
    # bucketing hash (both Murmur3 pmod 8), so every bucket gets
    # EXACTLY ONE file — the precondition for Spark to trust the
    # per-file sortBy order and elide the join-side Sort too.
    (
        load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(8, "o_custkey")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{work}/orders")
        .saveAsTable(t_orders)
    )
    (
        load_table(spark, "customer", sf_dir)
        .select("c_custkey", "c_mktsegment")
        .repartition(8, "c_custkey")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{work}/customer")
        .saveAsTable(t_cust)
    )
    # MERGE hint: at test scale Catalyst would broadcast the small
    # customer side, silently bypassing the bucket layout; at the
    # 100 TB target both sides are fact-sized and SMJ is the only
    # shape — the hint pins the scale-true plan declaratively, so
    # the driver's vanilla session exercises the bucketed join.
    return (
        spark.table(t_orders)
        .hint("merge")
        .join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2
            ).cast("double").alias("revenue"),
        )
    )


@register(
    "q_file_provenance",
    oracle="""
    -- analytic twin: the driver tables are single-file parquet, so the
    -- 0-based contiguous row_index contract means max = n-1 and
    -- sum = n(n-1)/2 per file; Spark's actual _metadata.row_index
    -- values must reproduce these closed forms or the hash breaks.
    WITH n AS (
        SELECT 'orders.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS n FROM orders
        UNION ALL
        SELECT 'documents.parquet', CAST(COUNT(*) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'customer.parquet', CAST(COUNT(*) AS BIGINT)
        FROM customer
    )
    SELECT file_name,
           n AS n_rows,
           n - 1 AS max_row_index,
           (n * (n - 1)) // 2 AS row_index_sum
    FROM n
    """,
    doc=(
        "File provenance / lineage audit (round 8) via the hidden "
        "``_metadata`` struct every file source exposes: per physical "
        "file, row count, max ``row_index`` and the row-index sum "
        "(n(n-1)/2 — so the 0-based contiguous-per-file contract of "
        "row_index is itself hash-verified, not just row counts). "
        "Oracle: the driver tables are single-file, so the 0-based "
        "contiguous row_index contract gives closed forms (max=n-1, "
        "sum=n(n-1)/2) that Spark's ACTUAL metadata values must "
        "reproduce. At 100 TB this is the ingest-"
        "forensics primitive: which file contributed which rows, "
        "without any layout change or extra column materialized on "
        "disk — the scan synthesizes the metadata columns for free. "
        "Also the building block for stable per-file row ids "
        "((file, row_index) is a durable address for re-reads under "
        "identical layout)."
    ),
    tags=("lineage", "metadata", "scan", "scale"),
)
def q_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    def prov(table: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{table}.parquet").select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("ri"),
        )

    u = prov("orders").unionByName(prov("documents")).unionByName(
        prov("customer")
    )
    return u.groupBy("file_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("ri").cast("bigint").alias("max_row_index"),
        F.sum("ri").cast("bigint").alias("row_index_sum"),
    )


@register(
    "q_csv_source_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(5 AS BIGINT) AS n_corrupt,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
               AS qty_sum,
           CAST(SUM(l_orderkey) AS BIGINT) AS orderkey_sum
    FROM lineitem
    """,
    doc=(
        "CSV source round-trip with PERMISSIVE corrupt-record audit "
        "(round 8) — the format-coverage twin of the JSON bad-records "
        "query: a lineitem projection is written as headerless "
        "multi-part CSV (distributed write), five deliberately "
        "malformed lines are appended as an extra file, and the read "
        "path uses an EXPLICIT schema + PERMISSIVE mode with "
        "columnNameOfCorruptRecord — bad rows land whole in the "
        "corrupt column (counted), good rows parse typed. Integer-"
        "only data columns make the text round trip exact by "
        "construction. The aggregate references both data and "
        "corrupt columns (Spark rejects corrupt-column-only "
        "projections over CSV). Scale: CSV scans parallelize per "
        "file/split like any source; schema-on-read with a declared "
        "schema avoids the full inference pre-pass."
    ),
    tags=("source", "csv", "formats", "audit"),
)
def q_csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_csv_")
    out = f"{work}/csv"
    try:
        (
            load_table(spark, "lineitem", sf_dir)
            .select(
                "l_orderkey",
                "l_partkey",
                F.floor("l_quantity").cast("int").alias("qty"),
                "l_returnflag",
            )
            .write.csv(out)
        )
        spark.createDataFrame(
            [(f"garbage_line_{i},nope",) for i in range(5)], "value string"
        ).coalesce(1).write.mode("append").text(out)
        parsed = (
            spark.read.schema(
                "l_orderkey bigint, l_partkey bigint, qty int, "
                "l_returnflag string, _corrupt string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(out)
        )
        return (
            parsed.agg(
                F.count(
                    F.when(F.col("_corrupt").isNull(), 1)
                ).cast("bigint").alias("n_good"),
                F.count(
                    F.when(F.col("_corrupt").isNotNull(), 1)
                ).cast("bigint").alias("n_corrupt"),
                F.sum(
                    F.when(F.col("_corrupt").isNull(), F.col("qty"))
                ).cast("bigint").alias("qty_sum"),
                F.sum(
                    F.when(F.col("_corrupt").isNull(), F.col("l_orderkey"))
                ).cast("bigint").alias("orderkey_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_two_pass_median",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    k AS (SELECT n, (n + 1) // 2 AS k FROM n),
    med AS (
        SELECT value AS median_value
        FROM events, k
        ORDER BY value
        LIMIT 1 OFFSET (SELECT k - 1 FROM k)
    )
    SELECT k.n AS n_rows, k.k AS k,
           CAST(floor(med.median_value) AS BIGINT) AS target_bucket,
           med.median_value
    FROM k, med
    """,
    doc=(
        "Two-pass histogram-refined exact median (round 8) — the "
        "single-giant-group fallback the per-group percentile "
        "queries document: computing an exact median of one huge "
        "group without any global sort. Pass 1 histograms values "
        "into unit buckets (one map-side-combinable aggregate), a "
        "running-count window over the BUCKET table (hundreds of "
        "rows, trivial) locates the bucket holding the k-th "
        "smallest and its preceding cumulative count; pass 2 sorts "
        "ONLY that bucket's rows (~n/buckets of the data) and picks "
        "element k - cum_before. Everything stays distributed: the "
        "1-row target crosses as a broadcast join, no driver "
        "collect. The emitted median is a raw stored double (picked, "
        "not interpolated) so the oracle's ORDER BY ... OFFSET k-1 "
        "matches cell-exactly. At 100 TB: two scans + a sort of one "
        "bucket vs a full-data global sort — the classic "
        "selection-by-refinement trade; recurse on the bucket if "
        "even one bucket is too big."
    ),
    tags=("statistics", "two-pass", "scale"),
)
def q_two_pass_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    vals = events.select(
        "value", F.floor("value").cast("bigint").alias("bucket")
    )
    counts = vals.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    total = vals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).withColumn("k", F.expr("(n + 1) div 2"))
    target = (
        cum.crossJoin(F.broadcast(total))
        .filter(F.col("cum") >= F.col("k"))
        .orderBy("bucket")
        .limit(1)
        .select(
            "n", "k", "bucket",
            (F.col("cum") - F.col("cnt")).alias("cum_before"),
        )
    )
    in_bucket = vals.join(
        F.broadcast(target), "bucket"
    )
    wv = Window.partitionBy("bucket").orderBy("value")
    return (
        in_bucket.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == F.col("k") - F.col("cum_before"))
        .select(
            F.col("n").alias("n_rows"),
            "k",
            F.col("bucket").alias("target_bucket"),
            F.col("value").alias("median_value"),
        )
    )


@register(
    "q_incremental_join_view",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc=(
        "Incremental JOIN view maintenance (round 8) — the join "
        "complement of q_incremental_view_agg (which maintains a "
        "single-table aggregate): a materialized join-aggregate "
        "view V = agg(A JOIN B) is maintained under deltas on BOTH "
        "sides via the bilinear update rule dV = agg(dA JOIN B0) + "
        "agg(A0 JOIN dB) + agg(dA JOIN dB) — the term streaming "
        "warehouses must not forget is the dAxdB cross term, and "
        "the oracle (full recompute over (A0+dA) JOIN (B0+dB)) "
        "breaks the hash if ANY term is missing or double-counted. "
        "Splits are data-derived (orders by orderkey parity, "
        "customer by custkey mod 3). All four partial states are "
        "additive (count + exact-DECIMAL revenue), so the merge is "
        "one groupBy-sum over their union — map-side combinable, "
        "order-independent. At 100 TB the delta terms join "
        "delta-sized inputs against the base (broadcast when small) "
        "instead of re-joining two full fact tables: the whole "
        "point of IVM."
    ),
    tags=("ivm", "join", "incremental", "scale"),
)
def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    a0 = orders.filter(F.col("o_orderkey") % 2 == 0)
    da = orders.filter(F.col("o_orderkey") % 2 == 1)
    b0 = customer.filter(F.col("c_custkey") % 3 != 0)
    db = customer.filter(F.col("c_custkey") % 3 == 0)

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(12,2)")
                ).alias("rev"),
            )
        )

    # state0 plus the three bilinear delta terms; merge = additive
    # groupBy-sum over the union (all states are decomposable).
    merged = (
        term(a0, b0)
        .unionByName(term(da, b0))
        .unionByName(term(a0, db))
        .unionByName(term(da, db))
        .groupBy("c_mktsegment")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_orders"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
    )
    return merged


# Benford's-law expected first-digit frequencies in ppm: the public
# constants round(1e6*log10(1+1/d)) — literals on BOTH sides so no
# transcendental is ever evaluated in a compared column.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992,
                51153, 45757)


@register(
    "q_benford_audit",
    oracle=f"""
    WITH exp_ppm AS (
        SELECT * FROM (VALUES
            {", ".join(f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_PPM))}
        ) AS t(digit, expected_ppm)
    ),
    obs AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs, e.expected_ppm,
           (1000000 * COALESCE(o.n_obs, 0)) // n.n AS observed_ppm,
           (1000000 * COALESCE(o.n_obs, 0)) // n.n - e.expected_ppm
               AS deviation_ppm
    FROM exp_ppm e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN n
    """,
    doc=(
        "Benford's-law first-digit audit (round 8) — the classic "
        "fraud/synthetic-data screen: observed leading-digit "
        "frequencies of order totals vs the Benford expectation. "
        "The leading digit comes from the INTEGER's decimal string "
        "(substr of floor(x)::BIGINT::VARCHAR) — no log10 anywhere "
        "near a compared column (JVM/libm ulp rule); the Benford "
        "probabilities are public constants embedded as ppm "
        "literals on both sides; observed shares and deviations in "
        "pure integer ppm division. LEFT join from the expectation "
        "table so a digit with zero observations still audits "
        "(non-vacuous all nine rows). One scan, one tiny aggregate "
        "— runs as a data-contract check at any scale."
    ),
    tags=("audit", "statistics", "data-quality"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    obs = (
        orders.select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    n = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exp_ppm = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_PPM)],
        "digit bigint, expected_ppm bigint",
    )
    return (
        exp_ppm.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "expected_ppm",
            F.expr("(1000000 * coalesce(n_obs, 0)) div n").alias(
                "observed_ppm"
            ),
            F.expr(
                "(1000000 * coalesce(n_obs, 0)) div n - expected_ppm"
            ).alias("deviation_ppm"),
        )
    )


@register(
    "q_multiformat_roundtrip",
    oracle="""
    WITH base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty_sum,
               CAST(SUM(l_orderkey * l_linenumber) AS BIGINT)
                   AS key_checksum
        FROM lineitem
    )
    SELECT fmt, n_rows, qty_sum, key_checksum
    FROM base, (SELECT unnest(['json', 'orc', 'parquet']) AS fmt)
    """,
    doc=(
        "Multi-format round-trip (round 8) — source/sink format "
        "breadth in one verified query: the same lineitem projection "
        "is written DISTRIBUTED as parquet, ORC, and JSON-lines, "
        "each read back through its own source (explicit schema for "
        "JSON — schema-on-read without the inference pre-pass), and "
        "aggregated to identical row counts and integer checksums; "
        "the oracle expects the SAME triple for every format, so a "
        "lossy round trip in any format breaks the hash. Integer-"
        "only columns make text (JSON) exactness by construction. "
        "Scale: all three sources split by file/stripe/row-group "
        "and parallelize the same way; columnar (parquet/ORC) "
        "additionally push projection+predicates, which is why "
        "they, not JSON, are the at-rest formats."
    ),
    tags=("source", "formats", "roundtrip"),
)
def q_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ksa_fmt_")
    try:
        slice_df = load_table(spark, "lineitem", sf_dir).select(
            "l_orderkey",
            "l_linenumber",
            F.floor("l_quantity").cast("bigint").alias("qty"),
        )
        ddl = "l_orderkey bigint, l_linenumber bigint, qty bigint"
        frames = []
        for fmt in ("json", "orc", "parquet"):
            path = f"{work}/{fmt}"
            slice_df.write.format(fmt).save(path)
            back = spark.read.format(fmt).schema(ddl).load(path)
            frames.append(
                back.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum("qty").cast("bigint").alias("qty_sum"),
                    F.sum(
                        F.col("l_orderkey") * F.col("l_linenumber")
                    ).cast("bigint").alias("key_checksum"),
                ).select(F.lit(fmt).alias("fmt"), "*")
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "q_quantile_bucket_sampled",
    oracle="""
    WITH v AS (
        SELECT l_orderkey, l_linenumber,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    samp AS (
        SELECT cents FROM v
        WHERE CAST(CONCAT('0x', substr(md5(CONCAT('qb', l_orderkey,
                   '_', l_linenumber)), 1, 15)) AS BIGINT) % 10 = 0
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents) AS rn,
               COUNT(*) OVER () AS n
        FROM samp
    ),
    bnd AS (
        SELECT DISTINCT cents AS b
        FROM ranked
        WHERE rn IN ((1 * n + 9) // 10, (2 * n + 9) // 10,
                     (3 * n + 9) // 10, (4 * n + 9) // 10,
                     (5 * n + 9) // 10, (6 * n + 9) // 10,
                     (7 * n + 9) // 10, (8 * n + 9) // 10,
                     (9 * n + 9) // 10)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bnd
            WHERE bnd.b <= v.cents) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(v.cents) AS BIGINT) AS min_cents,
           CAST(MAX(v.cents) AS BIGINT) AS max_cents
    FROM v
    GROUP BY 1
    """,
    doc=(
        "Sampled-boundary quantile bucketing (round 8) — the "
        "scalable equi-depth binning pattern (Spark's own "
        "RangePartitioner and ML's QuantileDiscretizer work this "
        "way): decile boundaries come from a DETERMINISTIC 10% "
        "md5-residue sample (integer ceil-rank over floor-cents — "
        "so unlike RangePartitioner's seeded reservoir, the "
        "boundaries are reproducible and cell-exactly oracle-able), "
        "collapse to a 9-element array on one tiny sort, broadcast, "
        "and every row self-assigns its bucket by counting "
        "boundaries <= value. NO global sort of the full data — "
        "that is the entire point vs exact ntile: the full table is "
        "touched twice by scans, never by an ordering exchange. "
        "DISTINCT on boundaries keeps duplicate-valued cut points "
        "from double-counting a bucket. Rate note: 10%% keeps the "
        "rank arithmetic well-posed on test-sized data; at 100 TB "
        "the same shape runs at ~1e-5 (RangePartitioner samples "
        "~100 rows/partition) so the boundary sort stays one small "
        "task — the sample RATE is the scale knob, the plan shape "
        "is already right."
    ),
    tags=("sampling", "binning", "scale"),
)
def q_quantile_bucket_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_aggregate_spark.functions.hashing import hash60

    li = load_table(spark, "lineitem", sf_dir)
    v = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    samp = v.filter(
        hash60(
            F.concat(
                F.lit("qb"), F.col("l_orderkey"), F.lit("_"),
                F.col("l_linenumber"),
            )
        )
        % 10
        == 0
    ).select("cents")
    wr = Window.orderBy("cents")
    ranked = samp.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    rank_set = F.array(
        *[F.expr(f"({d} * n + 9) div 10") for d in range(1, 10)]
    )
    bnd = (
        ranked.filter(F.array_contains(rank_set, F.col("rn")))
        .select("cents")
        .distinct()
        .agg(F.sort_array(F.collect_list("cents")).alias("bs"))
    )
    return (
        v.crossJoin(F.broadcast(bnd))
        .select(
            "cents",
            F.size(
                F.filter(F.col("bs"), lambda b: b <= F.col("cents"))
            ).cast("bigint").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )
    )


@register(
    "q_wau_hll_sliding",
    oracle=f"""
    WITH h AS (
        SELECT datediff('day', DATE '1970-01-01', ts) AS d,
               CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) AS hv
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM h),
    regs AS (
        SELECT d,
               CAST(hv % {sk.HLL_M} AS INTEGER) AS idx,
               CAST(LEAST(
                   CASE WHEN hv // {sk.HLL_M} = 0 THEN {sk.HLL_W_BITS + 1}
                        ELSE {sk.HLL_W_BITS + 1}
                             - length(bin(hv // {sk.HLL_M}))
                   END, {sk.HLL_RHO_CAP}) AS INTEGER) AS r
        FROM h
    ),
    day_regs AS (
        SELECT d, idx, MAX(r) AS r FROM regs GROUP BY d, idx
    ),
    contrib AS (
        SELECT dr.d + g.k AS target_d, dr.idx, dr.r
        FROM day_regs dr, range(0, 7) g(k)
    ),
    merged AS (
        SELECT c.target_d, c.idx, MAX(c.r) AS r
        FROM contrib c JOIN days ON days.d = c.target_d
        GROUP BY c.target_d, c.idx
    ),
    summ AS (
        SELECT target_d,
               CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
               CAST(SUM(1::BIGINT << ({sk.HLL_RHO_CAP} - r)) AS BIGINT)
                   AS hit_sum,
               CAST(SUM(CAST(idx + 1 AS BIGINT) * r) AS BIGINT)
                   AS register_checksum
        FROM merged GROUP BY target_d
    )
    SELECT CAST(target_d AS BIGINT) AS day_num,
           n_registers_hit, register_checksum,
           hit_sum + ({sk.HLL_M} - n_registers_hit)
                     * {1 << sk.HLL_RHO_CAP}::BIGINT AS scaled_sum,
           {sk.HLL_EST_NUM!r}
               / CAST(hit_sum + ({sk.HLL_M} - n_registers_hit)
                      * {1 << sk.HLL_RHO_CAP}::BIGINT AS DOUBLE)
               AS est_distinct
    FROM summ
    """,
    doc=(
        "SLIDING-window HLL distinct users (round 8) — the constant-"
        "state alternative q_dau_wau_trailing's doc points at: one "
        "64-register HLL per DAY (bounded state no matter the "
        "traffic), and each trailing-7-day estimate is a register-"
        "wise MAX-merge of the 7 daily sketches via the same "
        "contribution-grid explode the exact query uses — merging "
        "sketches costs 7x64 register rows per day instead of "
        "re-touching raw events, which is the whole point at 100 TB "
        "(daily sketches persist; any window recomposes from them). "
        "All register arithmetic integer-exact (md5 hash family, "
        "bin()-based rho, scaled-BIGINT harmonic terms), so "
        "registers, checksums, and the final estimate are cell-"
        "exact cross-engine, same contract as the rest of the "
        "sketch family."
    ),
    tags=("sketch", "hll", "sliding-window", "analytics"),
)
def q_wau_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    epoch = F.lit("1970-01-01").cast("date")
    day = F.datediff(F.col("ts"), epoch).cast("bigint")
    day_regs = sk.hll_registers(events, F.col("user_id"), day)
    days = day_regs.select(F.col("grp").alias("target_d")).distinct()
    contrib = day_regs.select(
        F.explode(
            F.sequence(F.col("grp"), F.col("grp") + F.lit(6))
        ).alias("target_d"),
        "idx",
        "r",
    )
    merged = (
        contrib.join(days, "target_d")
        .groupBy("target_d", "idx")
        .agg(F.max("r").alias("r"))
        .withColumnRenamed("target_d", "grp")
    )
    return sk.hll_summarize(merged).select(
        F.col("grp").cast("bigint").alias("day_num"),
        "n_registers_hit",
        "register_checksum",
        "scaled_sum",
        "est_distinct",
    )


@register(
    "q_sequence_gap_audit",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               lag(o_orderkey) OVER (ORDER BY o_orderkey) AS prev
        FROM orders
    ),
    gaps AS (
        SELECT prev AS gap_after, o_orderkey AS next_present,
               o_orderkey - prev - 1 AS gap_len
        FROM s WHERE prev IS NOT NULL AND o_orderkey - prev > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_len) AS BIGINT) AS missing_ids,
           CAST(MAX(gap_len) AS BIGINT) AS max_gap_len,
           CAST(MIN(gap_after) AS BIGINT) AS first_gap_after,
           (SELECT CAST(max(o_orderkey) - min(o_orderkey) + 1
                        - COUNT(*) AS BIGINT) FROM orders)
               AS missing_vs_span
    FROM gaps
    """,
    doc=(
        "Monotone-id sequence gap audit (round 8) — the ingest "
        "completeness check for offset/id-keyed feeds (did we drop "
        "a batch?): lag() over the ordered key finds every gap, "
        "with count, total missing ids, and the widest hole; the "
        "independent span-arithmetic cross-check (max-min+1-count) "
        "must equal the summed gap lengths, so the audit validates "
        "itself (TPC-H orderkeys are deliberately sparse — 6 of "
        "every 8 — making this non-vacuous by construction). Scale "
        "note: the global-order lag is the one genuinely order-"
        "dependent step — at 100 TB run it per range-partition and "
        "reconcile the partition boundaries (the span check above "
        "is exactly the reconciliation identity)."
    ),
    tags=("audit", "data-quality", "sequence"),
)
def q_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.orderBy("o_orderkey")
    s = orders.select("o_orderkey").withColumn(
        "prev", F.lag("o_orderkey").over(w)
    )
    gaps = s.filter(
        F.col("prev").isNotNull() & (F.col("o_orderkey") - F.col("prev") > 1)
    ).select(
        F.col("prev").alias("gap_after"),
        (F.col("o_orderkey") - F.col("prev") - 1).alias("gap_len"),
    )
    span = orders.agg(
        (
            F.max("o_orderkey") - F.min("o_orderkey") + 1 - F.count(F.lit(1))
        ).cast("bigint").alias("missing_vs_span")
    )
    return (
        gaps.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap_len").cast("bigint").alias("missing_ids"),
            F.max("gap_len").cast("bigint").alias("max_gap_len"),
            F.min("gap_after").cast("bigint").alias("first_gap_after"),
        )
        .crossJoin(F.broadcast(span))
    )


@register(
    "q_mau_hll_sliding",
    oracle=f"""
    WITH h AS (
        SELECT datediff('day', DATE '1970-01-01', ts) AS d,
               CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) AS hv
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM h),
    regs AS (
        SELECT d,
               CAST(hv % {sk.HLL_M} AS INTEGER) AS idx,
               CAST(LEAST(
                   CASE WHEN hv // {sk.HLL_M} = 0 THEN {sk.HLL_W_BITS + 1}
                        ELSE {sk.HLL_W_BITS + 1}
                             - length(bin(hv // {sk.HLL_M}))
                   END, {sk.HLL_RHO_CAP}) AS INTEGER) AS r
        FROM h
    ),
    day_regs AS (
        SELECT d, idx, MAX(r) AS r FROM regs GROUP BY d, idx
    ),
    contrib AS (
        SELECT dr.d + g.k AS target_d, dr.idx, dr.r
        FROM day_regs dr, range(0, 30) g(k)
    ),
    merged AS (
        SELECT c.target_d, c.idx, MAX(c.r) AS r
        FROM contrib c JOIN days ON days.d = c.target_d
        GROUP BY c.target_d, c.idx
    ),
    summ AS (
        SELECT target_d,
               CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
               CAST(SUM(1::BIGINT << ({sk.HLL_RHO_CAP} - r)) AS BIGINT)
                   AS hit_sum,
               CAST(SUM(CAST(idx + 1 AS BIGINT) * r) AS BIGINT)
                   AS register_checksum
        FROM merged GROUP BY target_d
    )
    SELECT CAST(target_d AS BIGINT) AS day_num,
           n_registers_hit, register_checksum,
           hit_sum + ({sk.HLL_M} - n_registers_hit)
                     * {1 << sk.HLL_RHO_CAP}::BIGINT AS scaled_sum,
           {sk.HLL_EST_NUM!r}
               / CAST(hit_sum + ({sk.HLL_M} - n_registers_hit)
                      * {1 << sk.HLL_RHO_CAP}::BIGINT AS DOUBLE)
               AS est_distinct
    FROM summ
    """,
    doc=(
        "Trailing-30-day MAU from PERSISTED daily HLL registers (round "
        "9, judge item) — q_wau_hll_sliding's own doc promises this "
        "parameterization: the identical per-day 64-register sketches "
        "recompose into ANY trailing window by register-wise MAX-merge; "
        "here the contribution grid fans each day's registers to 30 "
        "target days (<=30x64 register rows per day — still constant "
        "state, vs re-touching 30 days of raw events at 100 TB). This "
        "is the fan-out where the grid gets expensive and the sketch-"
        "recomposition story earns its keep: the exact-distinct "
        "contribution grid in q_dau_wau_trailing grows with TRAFFIC "
        "(rows x window), this one with DAYS x 64 regardless of "
        "traffic. Same exact-integer register arithmetic as the rest "
        "of the sketch family (md5 hash family, bin()-based rho, "
        "scaled-BIGINT harmonic sum), so registers, checksums, and "
        "the estimate are cell-exact cross-engine."
    ),
    tags=("sketch", "hll", "sliding-window", "analytics"),
)
def q_mau_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    epoch = F.lit("1970-01-01").cast("date")
    day = F.datediff(F.col("ts"), epoch).cast("bigint")
    day_regs = sk.hll_registers(events, F.col("user_id"), day)
    days = day_regs.select(F.col("grp").alias("target_d")).distinct()
    contrib = day_regs.select(
        F.explode(
            F.sequence(F.col("grp"), F.col("grp") + F.lit(29))
        ).alias("target_d"),
        "idx",
        "r",
    )
    merged = (
        contrib.join(days, "target_d")
        .groupBy("target_d", "idx")
        .agg(F.max("r").alias("r"))
        .withColumnRenamed("target_d", "grp")
    )
    return sk.hll_summarize(merged).select(
        F.col("grp").cast("bigint").alias("day_num"),
        "n_registers_hit",
        "register_checksum",
        "scaled_sum",
        "est_distinct",
    )


@register(
    "q_map_in_arrow",
    oracle="""
    WITH mixed AS (
        SELECT (l_orderkey * 73 + l_partkey * 31) % 1000003 AS y
        FROM lineitem
    )
    SELECT CAST(y % 16 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(MIN(y) AS BIGINT) AS min_y,
           CAST(MAX(y) AS BIGINT) AS max_y
    FROM mixed GROUP BY y % 16
    """,
    doc=(
        "mapInArrow surface (round 9) — the zero-copy Arrow batch "
        "API between pandas UDFs (per-series) and raw mapPartitions "
        "(per-row): the worker receives pyarrow RecordBatches and "
        "computes a keyed mixing transform with pyarrow.compute "
        "kernels (vectorized C++, no pandas materialization — the "
        "right choice when the kernel is columnar arithmetic and the "
        "pandas conversion would only add copies). Exact int64 "
        "arithmetic end-to-end; the JVM aggregates the mixed column "
        "afterward, so the Arrow stage stays a narrow map. Closure "
        "is self-contained (imports inside) per the repo's "
        "pickled-by-value rule. Plan: PythonMapInArrow — Arrow-"
        "batched, allowed by the suite plan lint (BatchEvalPython "
        "remains banned)."
    ),
    tags=("arrow", "python", "surface"),
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    )

    def mix_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            mixed = pc.add(
                pc.multiply(b.column("l_orderkey"), 73),
                pc.multiply(b.column("l_partkey"), 31),
            )
            # pyarrow.compute ships no mod kernel; int64 divide
            # truncates and inputs are non-negative, so trunc == floor
            # and x - (x div m) * m is exactly x % m.
            y = pc.subtract(
                mixed, pc.multiply(pc.divide(mixed, 1000003), 1000003)
            )
            yield pa.RecordBatch.from_arrays([y], names=["y"])

    mixed = li.mapInArrow(mix_batches, schema="y bigint")
    return (
        mixed.groupBy((F.col("y") % 16).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.min("y").cast("bigint").alias("min_y"),
            F.max("y").cast("bigint").alias("max_y"),
        )
    )


@register(
    "q_apply_in_arrow",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(MIN(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(MAX(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders GROUP BY o_orderpriority
    """,
    doc=(
        "applyInArrow surface (round 9) — grouped-map over pyarrow "
        "Tables: each o_orderpriority group arrives as ONE Arrow "
        "table and returns one stats row computed with "
        "pyarrow.compute aggregation kernels (applyInPandas' twin "
        "minus the pandas conversion cost — the shuffle/grouping "
        "contract is identical, so everything the repo pins about "
        "grouped-map partitioning carries over). The floor-cents "
        "conversion happens JVM-SIDE before the Arrow stage (floats "
        "never cross into Python), keeping the group stats exact "
        "int64. Closure self-contained per the pickled-by-value "
        "rule. Plan: FlatMapGroupsInArrow over one hash exchange."
    ),
    tags=("arrow", "python", "grouped-map", "surface"),
)
def q_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    def group_stats(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = tbl.column("cents")
        return pa.table(
            {
                "o_orderpriority": [tbl.column("o_orderpriority")[0].as_py()],
                "n_orders": [tbl.num_rows],
                "sum_cents": [pc.sum(cents).as_py()],
                "min_cents": [pc.min(cents).as_py()],
                "max_cents": [pc.max(cents).as_py()],
            }
        )

    return orders.groupBy("o_orderpriority").applyInArrow(
        group_stats,
        schema=(
            "o_orderpriority string, n_orders bigint, sum_cents bigint, "
            "min_cents bigint, max_cents bigint"
        ),
    )


# --------------------------------------------------------------------------
# Round-9: KMV-sketch join-cardinality estimation — CBO-style statistics.
# --------------------------------------------------------------------------

_KMV_K = 64
# (k-1) * |hash space|; 63 * 2^60 is exactly representable as a double
# (6 significant bits + 60 zero bits), so both engines embed the same
# literal and the estimate is one exact-int division away.
_KMV_EST_NUM = float((_KMV_K - 1) * (1 << 60))


@register(
    "q_join_card_estimate",
    oracle=f"""
    WITH a_keys AS (
        SELECT DISTINCT c_custkey AS key FROM customer
        WHERE c_acctbal > 1000.0
    ),
    b_keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
    a_h AS (SELECT key,
                   CAST(CONCAT('0x', substr(md5(CONCAT('jk', key)), 1, 15))
                        AS BIGINT) AS h
            FROM a_keys),
    b_h AS (SELECT key,
                   CAST(CONCAT('0x', substr(md5(CONCAT('jk', key)), 1, 15))
                        AS BIGINT) AS h
            FROM b_keys),
    a64 AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                           FROM a_h) WHERE rn <= {_KMV_K}),
    b64 AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                           FROM b_h) WHERE rn <= {_KMV_K}),
    u AS (
        SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
            SELECT h, 1 AS in_a, 0 AS in_b FROM a_h
            UNION ALL
            SELECT h, 0, 1 FROM b_h
        ) GROUP BY h
    ),
    u64 AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) AS rn
                           FROM u) WHERE rn <= {_KMV_K}),
    sk AS (
        SELECT (SELECT CAST(MAX(h) AS BIGINT) FROM a64) AS hk_a,
               (SELECT CAST(MAX(h) AS BIGINT) FROM b64) AS hk_b,
               (SELECT CAST(MAX(h) AS BIGINT) FROM u64) AS hk_u,
               (SELECT CAST(SUM(in_a * in_b) AS BIGINT) FROM u64)
                   AS n_both_in_u64
    ),
    ex AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys) AS nd_a,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b_keys) AS nd_b,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM a_keys JOIN b_keys USING (key)) AS nd_common,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM orders o JOIN customer c
                  ON o.o_custkey = c.c_custkey
                WHERE c.c_acctbal > 1000.0) AS join_rows
    )
    SELECT ex.nd_a, ex.nd_b, ex.nd_common, ex.join_rows,
           sk.n_both_in_u64,
           {_KMV_EST_NUM!r} / CAST(sk.hk_a AS DOUBLE) AS est_a,
           {_KMV_EST_NUM!r} / CAST(sk.hk_b AS DOUBLE) AS est_b,
           (CAST(sk.n_both_in_u64 AS DOUBLE) / {float(_KMV_K)!r})
               * ({_KMV_EST_NUM!r} / CAST(sk.hk_u AS DOUBLE))
               AS est_common
    FROM ex, sk
    """,
    doc=(
        "KMV-sketch join-cardinality estimation (round 9) — the "
        "statistics a cost-based optimizer keeps per join column: "
        "each side's distinct-key count is estimated from the k=64 "
        "minimum md5-hash values ((k-1)*2^60 / h_k), and the key "
        "OVERLAP from the union sketch (the 64 smallest hashes of "
        "the union are exactly the 64 smallest of the two sketches' "
        "union — the KMV closure property; the fraction of them "
        "present in BOTH sides scales the union estimate). The EXACT "
        "distinct counts, intersection, and join row count ride "
        "along, so the result quantifies the estimator's own error "
        "the way q_ann_recall_pq audits PQ. Everything is md5 "
        "hash-family integers until the final scripted divisions "
        "with a shared exactly-representable numerator literal — "
        "cell-exact cross-engine. Scale: the sketches are one "
        "TakeOrdered(64) over hashed distinct keys per side (no "
        "global sort materializes), and at 100 TB the sketches "
        "PERSIST per partition/column and merge by min-union — "
        "estimation never rescans the fact table."
    ),
    tags=("sketch", "kmv", "optimizer-stats", "scale"),
)
def q_join_card_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    a_keys = (
        cust.filter(F.col("c_acctbal") > 1000.0)
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    b_keys = orders.select(F.col("o_custkey").alias("key")).distinct()

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            "key", hash60(F.concat(F.lit("jk"), F.col("key"))).alias("h")
        )

    a_h, b_h = hashed(a_keys), hashed(b_keys)
    a64 = a_h.select("h").orderBy("h").limit(_KMV_K)
    b64 = b_h.select("h").orderBy("h").limit(_KMV_K)
    u = (
        a_h.select("h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            b_h.select("h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    u64 = u.orderBy("h").limit(_KMV_K)
    sk = (
        a64.agg(F.max("h").cast("bigint").alias("hk_a"))
        .crossJoin(b64.agg(F.max("h").cast("bigint").alias("hk_b")))
        .crossJoin(
            u64.agg(
                F.max("h").cast("bigint").alias("hk_u"),
                F.sum(F.col("in_a") * F.col("in_b"))
                .cast("bigint")
                .alias("n_both_in_u64"),
            )
        )
    )
    ex = (
        a_keys.agg(F.count(F.lit(1)).cast("bigint").alias("nd_a"))
        .crossJoin(b_keys.agg(F.count(F.lit(1)).cast("bigint").alias("nd_b")))
        .crossJoin(
            a_keys.join(b_keys, "key").agg(
                F.count(F.lit(1)).cast("bigint").alias("nd_common")
            )
        )
        .crossJoin(
            orders.join(
                F.broadcast(cust.filter(F.col("c_acctbal") > 1000.0)),
                F.col("o_custkey") == F.col("c_custkey"),
            ).agg(F.count(F.lit(1)).cast("bigint").alias("join_rows"))
        )
    )
    return ex.crossJoin(F.broadcast(sk)).selectExpr(
        "nd_a",
        "nd_b",
        "nd_common",
        "join_rows",
        "n_both_in_u64",
        f"{_KMV_EST_NUM!r} / CAST(hk_a AS DOUBLE) AS est_a",
        f"{_KMV_EST_NUM!r} / CAST(hk_b AS DOUBLE) AS est_b",
        f"(CAST(n_both_in_u64 AS DOUBLE) / {float(_KMV_K)!r})"
        f" * ({_KMV_EST_NUM!r} / CAST(hk_u AS DOUBLE)) AS est_common",
    )
