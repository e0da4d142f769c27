"""Scale-feature demonstrations pinned as tests: bucketed co-located
joins (no shuffle), observation metrics (the S6 peek twin), AQE
configuration."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.operators.observe import observe, peek_rows
from kafka_streams_aggregate_spark.plans.inspect import count_exchanges
from kafka_streams_aggregate_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates matching rows:
    the join plan has zero shuffle exchanges — the pattern for repeated
    large-fact joins at 100 TB (pay the shuffle once at write time)."""
    orders = load_table(spark, "orders", SF)
    lineitem = load_table(spark, "lineitem", SF)
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    lineitem.withColumnRenamed("l_orderkey", "o_orderkey").write.bucketBy(
        4, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("lineitem_b")

    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    joined = ob.join(lb, "o_orderkey").groupBy("o_orderstatus").count()
    # groupBy still shuffles its small aggregate; the JOIN itself must
    # not. With bucketed sides the only exchange is the post-join agg.
    assert count_exchanges(joined) <= 1
    # and the result is correct:
    plain = (
        load_table(spark, "orders", SF)
        .join(
            load_table(spark, "lineitem", SF),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderstatus")
        .count()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))


def test_observe_metrics_no_extra_job(spark):
    """S6 peek twin: named metrics ride along with the action."""
    events = load_table(spark, "events", SF)
    df, obs = observe(
        events,
        "peek_events",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor("value").cast("bigint")).alias("sum_v"),
    )
    n = df.count()
    assert obs.get["n_rows"] == n == 1000
    assert obs.get["sum_v"] > 0


def test_peek_rows_logs_bounded(spark, caplog):
    events = load_table(spark, "events", SF)
    with caplog.at_level(logging.DEBUG, logger="kafka_streams_aggregate_spark.operators.observe"):
        peek_rows(events.select("event_id", "user_id"), max_rows=3)
    assert len([r for r in caplog.records if "peek:" in r.message]) == 3


def test_replicated_salted_join_matches_plain_join(spark):
    from kafka_streams_aggregate_spark.operators.skew import replicated_salted_join

    # 'hot' key with 500 rows vs 3 cold keys.
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [(f"k{i}", i) for i in range(3)],
        "k string, v long",
    )
    small = spark.createDataFrame(
        [("hot", 1.5), ("k0", 2.0), ("other", 9.9)], "k string, w double"
    )
    salted = replicated_salted_join(big, small, on="k")
    plain = big.join(small, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_streaming_fold_on_rocksdb_state_store(spark, tmp_path):
    """The large-keyspace scale path: the same stateful fold runs on the
    RocksDB state store provider (state off-heap, spill-to-disk) with
    identical results."""
    import random

    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        python_fold_oracle,
    )
    from kafka_streams_aggregate_spark.schemas import INVENTORY_UPDATE_FLAT_SCHEMA
    from kafka_streams_aggregate_spark.streaming.inventory_stream import (
        streaming_inventory_fold,
    )

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rng = random.Random(23)
        rows = [
            (f"key{k}", s, rng.choice(["INC", "DEC", "REP"]), rng.randint(1, 10))
            for k in range(5)
            for s in range(6)
        ]
        df = spark.createDataFrame(rows, schema=INVENTORY_UPDATE_FLAT_SCHEMA)
        src = str(tmp_path / "src")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(INVENTORY_UPDATE_FLAT_SCHEMA).parquet(src)
        collected = []

        def _sink(batch_df, _bid):
            collected.extend(
                (r["product_code"], r["count"]) for r in batch_df.collect()
            )

        q = (
            streaming_inventory_fold(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert dict(collected) == python_fold_oracle(rows)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_aqe_and_skew_join_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_session_leaves_import_path_alone(spark):
    """Building the session adds no directory under the package to this
    process's ``sys.path`` or to the ``PYTHONPATH`` its workers inherit."""
    import os
    import sys

    import kafka_streams_aggregate_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    entries = sys.path + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    under_pkg = [
        p
        for p in entries
        if p and (os.path.abspath(p) + os.sep).startswith(pkg_dir + os.sep)
    ]
    assert under_pkg == []


def test_streaming_cep_match_straddles_batch_boundary(spark, tmp_path):
    # view+click arrive in micro-batch 1, purchase in micro-batch 2:
    # only the carried last-2-events state can complete the run. A
    # batch-local matcher would report zero matches.
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )
    from kafka_streams_aggregate_spark.sources.tables import staged_two_batch
    from kafka_streams_aggregate_spark.streaming.cep_stream import (
        CEP_OUT_SCHEMA,
        streaming_cep_matches,
    )

    work = str(tmp_path)
    ddl = "event_id long, user_id long, event_type string, ts_us long"
    events = spark.createDataFrame(
        [
            (1, 7, "view", 1_000_000),
            (2, 7, "click", 2_000_000),
            (3, 7, "purchase", 3_000_000),  # micro-batch 2
        ],
        ddl,
    )
    raw = staged_two_batch(spark, events, "event_id", 3, ddl, work)
    committed = run_stream_committed(
        streaming_cep_matches(raw, 3_600_000_000), work, "append",
        CEP_OUT_SCHEMA,
    )
    rows = (
        committed.groupBy("user_id")
        .agg(F.sum("n_matches").alias("n"))
        .localCheckpoint(eager=True)
        .collect()
    )
    assert [(r["user_id"], r["n"]) for r in rows] == [(7, 1)], rows


def test_streaming_cep_quantified_run_straddles_boundary(spark, tmp_path):
    # The click RUN itself spans the boundary: view + 2 clicks in
    # batch 1, 3 more clicks + purchase in batch 2. Only the carried
    # (last-non-click, clicks-since) state can complete it with the
    # right quantifier length (b_len=5) — the fixed last-2-events
    # matcher structurally cannot. Also pins skip-past-last-row: a
    # second purchase right after reports no second match.
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )
    from kafka_streams_aggregate_spark.sources.tables import staged_two_batch
    from kafka_streams_aggregate_spark.streaming.cep_stream import (
        CEPQ_OUT_SCHEMA,
        streaming_cep_quantified,
    )

    work = str(tmp_path)
    ddl = "event_id long, user_id long, event_type string, ts_us long"
    events = spark.createDataFrame(
        [
            (1, 7, "view", 1_000_000),
            (2, 7, "click", 2_000_000),
            (3, 7, "click", 3_000_000),
            (4, 7, "click", 4_000_000),  # micro-batch 2
            (5, 7, "click", 5_000_000),
            (6, 7, "click", 6_000_000),
            (7, 7, "purchase", 7_000_000),
            (8, 7, "purchase", 8_000_000),  # skip-past-last-row: no match
        ],
        ddl,
    )
    raw = staged_two_batch(spark, events, "event_id", 4, ddl, work)
    committed = run_stream_committed(
        streaming_cep_quantified(raw, 3_600_000_000), work, "append",
        CEPQ_OUT_SCHEMA,
    )
    rows = (
        committed.groupBy("user_id")
        .agg(
            F.sum("n_matches").alias("n"),
            F.sum("total_b_len").alias("tb"),
            F.max("max_b_len").alias("mb"),
        )
        .localCheckpoint(eager=True)
        .collect()
    )
    assert [(r["user_id"], r["n"], r["tb"], r["mb"]) for r in rows] == [
        (7, 1, 5, 5)
    ], rows


def test_streaming_session_spans_batch_boundary(spark, tmp_path):
    # Events 10 minutes apart across the batch boundary: ONE session
    # (only the 30-min gap closes a session, never a batch boundary),
    # and a >30-min gap inside batch 2 opens a second one. The update
    # changelog's latest batch carries the running totals.
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )
    from kafka_streams_aggregate_spark.sources.tables import staged_two_batch
    from kafka_streams_aggregate_spark.streaming.session_stream import (
        SESSION_OUT_SCHEMA,
        streaming_sessionize,
    )

    work = str(tmp_path)
    ddl = "event_id long, user_id long, ts_us long"
    m = 60_000_000  # one minute in us
    events = spark.createDataFrame(
        [(1, 7, 0 * m), (2, 7, 10 * m), (3, 7, 20 * m), (4, 7, 60 * m),
         (5, 7, 65 * m)],
        ddl,
    )
    raw = staged_two_batch(spark, events, "event_id", 3, ddl, work)
    committed = run_stream_committed(
        streaming_sessionize(raw, 1800), work, "update", SESSION_OUT_SCHEMA
    )
    w_latest = F.col("_batch") == F.lit(
        committed.agg(F.max("_batch")).collect()[0][0]
    )
    rows = (
        committed.filter(w_latest)
        .select("user_id", "n_sessions", "n_events", "max_session_events")
        .localCheckpoint(eager=True)
        .collect()
    )
    assert [tuple(r) for r in rows] == [(7, 2, 5, 3)], rows


def test_aqp_sample_estimate_brackets_full_scan_truth(spark):
    # The sample is DETERMINISTIC (md5 residue), so this is a fixed
    # fact, not a flaky statistical assertion: at sf0.01 every group's
    # estimate lands within 2 CI half-widths of the full-scan mean
    # (measured max 0.72x), and the CI itself is positive and finite.
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.registry import load_all
    from kafka_streams_aggregate_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    est = {
        r["o_orderpriority"]: r
        for r in load_all()["q_aqp_sampled_mean"].spark(spark, sf).collect()
    }
    truth = {
        r["o_orderpriority"]: r["t"]
        for r in load_table(spark, "orders", sf)
        .groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("t"))
        .collect()
    }
    assert set(est) == set(truth)
    for grp, r in est.items():
        assert r["ci95_half"] > 0, (grp, r)
        assert abs(r["est_mean_price"] - truth[grp]) <= 2 * r["ci95_half"], (
            grp, r["est_mean_price"], truth[grp], r["ci95_half"],
        )


def test_ndv_profile_accuracy_and_single_scan(spark):
    # Estimates within 3 standard errors (m=64 -> ~13%) of exact NDV
    # for the high-cardinality columns, exact-ish for tiny ones; and
    # the physical plan reads the orders parquet ONCE (the stack
    # generator multiplies rows inside the scan stage).
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.plans.inspect import formatted_plan
    from kafka_streams_aggregate_spark.registry import load_all
    from kafka_streams_aggregate_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    df = load_all()["q_column_ndv_profile_hll"].spark(spark, sf)
    rows = {r["column_name"]: r for r in df.collect()}
    orders = load_table(spark, "orders", sf)
    for c in ("o_custkey", "o_orderkey"):  # NDV >> m: estimator regime
        exact = orders.select(c).distinct().count()
        assert abs(rows[c]["est_distinct"] - exact) <= 0.40 * exact, (
            c, rows[c]["est_distinct"], exact,
        )
    for c in ("o_orderpriority", "o_orderstatus"):  # NDV << m
        # raw HLL is biased HIGH below the linear-counting regime (the
        # ln-based small-range correction is deliberately omitted for
        # cross-engine exactness); the register-hit count V is exposed
        # so a consumer can apply linear counting themselves.
        exact = orders.select(c).distinct().count()
        assert rows[c]["est_distinct"] >= exact, (c, rows[c], exact)
        assert rows[c]["n_registers_hit"] <= exact, (c, rows[c], exact)
    import re

    plan = formatted_plan(df)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, plan[:2000]


def test_hll_overlap_estimate_close_to_truth(spark):
    # Deterministic fact at sf0.01: the exact overlap is 150 user ids
    # of a 1500-key union; the inclusion-exclusion estimate must land
    # within 40% relative error of both (m=64 registers, three-sketch
    # error composition).
    from kafka_streams_aggregate_spark.registry import load_all

    [r] = load_all()["q_hll_set_overlap"].spark(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert abs(r["est_union"] - 1500) <= 0.40 * 1500, r
    assert abs(r["est_overlap"] - 150) <= 0.40 * 1500, r
    assert r["est_events_users"] < r["est_customers"], r


def test_cached_dim_plans_in_memory_scan(spark):
    """df.persist materializes a reused dimension as a columnar
    in-memory table: subsequent plans read InMemoryTableScan instead
    of re-scanning parquet — the dashboard-reuse lever (cache the hot
    dim once, every downstream query skips the IO)."""
    from kafka_streams_aggregate_spark.plans.inspect import formatted_plan
    from kafka_streams_aggregate_spark.sources.tables import load_table

    dim = load_table(spark, "nation", SF).persist()
    try:
        dim.count()  # materialize
        plan = formatted_plan(dim.groupBy("n_regionkey").count())
        # The InMemoryTableScan node replaces the parquet scan as the
        # leaf; the cached relation's DESCRIPTION still embeds the
        # original scan lineage, so only the node test is meaningful.
        assert "InMemoryTableScan" in plan, plan[:1500]
    finally:
        dim.unpersist()


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join splitter — the runtime half of the skew story
    (the salted-agg query is the manual aggregation-side half): a
    sort-merge join with one hot key must show `skew=true` on the SMJ
    node of the FINAL adaptive plan, proving Spark re-planned the
    oversized partition into parallel splits instead of letting one
    task straggle. Thresholds are lowered so test-sized data crosses
    the skew detection bar; at 100 TB the defaults fire the same way."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("w"),
        )
        j = left.join(right.hint("merge"), "k").groupBy().count()
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        # 9/10 of each side collapses to key 7 (180k x 45k pairs); the
        # 1-in-10 distinct keys align where both ranges cover them:
        # ids 9..49999 with id%10==9 -> 5000 one-to-one matches.
        assert row["count"] == 180_000 * 45_000 + 5_000
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucket_pruning_selects_single_bucket(spark, tmp_path):
    """An equality filter on the bucketing column prunes the scan to
    ONE bucket's files (SelectedBucketsCount: 1 out of 8) — the
    bucket-layout complement of partition pruning. Requires
    autoBucketedScan=false: with it on (default), the planner drops
    the bucketed-scan property for plans that don't need the
    distribution, which also forfeits the pruning."""
    from pyspark.sql import functions as F

    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf, "true")
    try:
        spark.conf.set(conf, "false")
        (
            spark.range(0, 10_000)
            .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
            .write.bucketBy(8, "k")
            .option("path", str(tmp_path / "t"))
            .saveAsTable("test_bucket_prune_t")
        )
        df = spark.table("test_bucket_prune_t").filter(F.col("k") == 42)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:2000]
        assert df.count() == 100
    finally:
        spark.conf.set(conf, prev)
        spark.sql("DROP TABLE IF EXISTS test_bucket_prune_t")


def test_runtime_bloom_filter_prunes_join_probe_side(spark):
    """Runtime bloom-filter join pruning (InjectRuntimeFilter): when a
    shuffle join's build side is selective, the optimizer plants a
    bloom_filter_agg subquery on it and rewrites the probe side with a
    might_contain() filter BEFORE the exchange — at 100 TB this drops
    most fact rows at the scan/filter stage instead of shuffling them.
    The thresholds exist for real clusters (the application-side scan
    must look big enough to be worth it); local parquet is tiny, so the
    test pins the MECHANISM by lowering them."""
    lineitem = load_table(spark, "lineitem", SF)
    orders = load_table(spark, "orders", SF)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            lineitem.join(sel, lineitem["l_orderkey"] == sel["o_orderkey"])
            .groupBy()
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # the rewritten probe-side filter sits BELOW the join's exchange
        mc = plan.find("might_contain")
        ex = plan.find("Exchange hashpartitioning(l_orderkey")
        assert ex != -1 and mc > ex, (mc, ex)
        # and it doesn't change the answer
        n_bloom = j.collect()[0][0]
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
        n_plain = (
            lineitem.join(sel, lineitem["l_orderkey"] == sel["o_orderkey"])
            .groupBy()
            .count()
            .collect()[0][0]
        )
        assert n_bloom == n_plain
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_cbo_statistics_drive_selectivity_estimates(spark):
    """Cost-based optimization: ANALYZE TABLE ... FOR ALL COLUMNS puts
    row counts + per-column NDV/min/max into the catalog, and with
    spark.sql.cbo.enabled the optimizer's cardinality estimates become
    data-derived instead of file-size heuristics — the foundation for
    join reordering and stats-based broadcast at 100 TB (the repo's own
    join-order rule 'Catalyst keeps written inner-join order' is the
    NO-stats regime this flips)."""
    orders = load_table(spark, "orders", SF)
    spark.sql("DROP TABLE IF EXISTS t_cbo_orders")
    orders.write.saveAsTable("t_cbo_orders")
    try:
        spark.sql("ANALYZE TABLE t_cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            t = spark.table("t_cbo_orders")
            n_true = t.count()
            # catalog row count reaches the optimizer exactly
            st = t._jdf.queryExecution().optimizedPlan().stats()
            assert st.rowCount().get() == n_true, st.toString()
            # filter selectivity is estimated from column stats: the
            # estimate must be a real fraction of the table, not the
            # no-stats fallback (= full size) and not zero
            flt = t.filter(F.col("o_orderpriority") == "1-URGENT")
            st_f = flt._jdf.queryExecution().optimizedPlan().stats()
            est = int(str(st_f.rowCount().get()))
            actual = flt.count()
            assert 0 < est < n_true, (est, n_true)
            # NDV-uniform estimate should land within 3x of truth here
            assert actual / 3 <= est <= actual * 3, (est, actual)
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cbo_orders")


def test_variant_semistructured_type_roundtrip(spark):
    """Spark 4 VARIANT: parse_json() gives an open semi-structured type
    whose binary encoding shreds/skips like a column store (the engine
    answer to schemaless props at 100 TB — no schema-on-write, typed
    path access without a Python UDF). Pins: variant_get typed paths
    (incl. nested objects/arrays built in-flight), agreement with the
    schema'd from_json path on the real events.props column,
    try_variant_get NULL-on-type-mismatch, and schema_of_variant."""
    events = load_table(spark, "events", SF)
    v = events.select(
        "event_id",
        F.parse_json("props").alias("pv"),
        F.get_json_object("props", "$.k").cast("int").alias("k_json"),
    ).select(
        "event_id",
        "k_json",
        F.expr("variant_get(pv, '$.k', 'int')").alias("k_var"),
        F.expr("schema_of_variant(pv)").alias("vschema"),
        F.expr("try_variant_get(pv, '$.k', 'array<int>')").alias("k_bad"),
    )
    rows = v.collect()
    assert rows and all(r.k_var == r.k_json for r in rows)
    assert all(r.vschema == "OBJECT<k: BIGINT>" for r in rows)
    # try_variant_get: impossible cast -> NULL, never an error
    assert all(r.k_bad is None for r in rows)

    # nested structure exercised end-to-end: build JSON in-flight,
    # parse to variant, extract object fields and array elements typed
    nested = events.limit(100).select(
        "event_id",
        F.parse_json(
            F.concat(
                F.lit('{"meta": {"src": "ev"}, "vals": [1, '),
                (F.col("event_id") % 7).cast("string"),
                F.lit("]}"),
            )
        ).alias("nv"),
    ).select(
        "event_id",
        F.expr("variant_get(nv, '$.meta.src', 'string')").alias("src"),
        F.expr("variant_get(nv, '$.vals[1]', 'bigint')").alias("v1"),
        F.expr("variant_get(nv, '$.vals[0]', 'bigint')").alias("v0"),
    )
    got = nested.collect()
    assert all(r.src == "ev" and r.v0 == 1 and r.v1 == r.event_id % 7 for r in got)


def test_listagg_within_group_and_execute_immediate(spark):
    """Two Spark-4 SQL surfaces: listagg(...) WITHIN GROUP (ORDER BY)
    — engine-level DETERMINISTIC ordered string aggregation (the
    contract q_session_paths_topk builds manually from array_sort,
    and DuckDB spells string_agg(... ORDER BY)) — and EXECUTE
    IMMEDIATE for dynamic SQL with USING parameter binding."""
    ev = load_table(spark, "events", SF).limit(200)
    ev.createOrReplaceTempView("ev_listagg")
    try:
        ordered = spark.sql(
            """
            SELECT user_id,
                   listagg(event_type, '>')
                       WITHIN GROUP (ORDER BY ts, event_id) AS path
            FROM ev_listagg GROUP BY user_id
            """
        )
        # deterministic: two runs under different shuffle settings agree
        a = {r.user_id: r.path for r in ordered.collect()}
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            b = {r.user_id: r.path for r in ordered.collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert a == b and a
        # and matches the manual array_sort construction
        manual = spark.sql(
            """
            SELECT user_id,
                   array_join(transform(array_sort(
                       collect_list(struct(ts, event_id, event_type))),
                       s -> s.event_type), '>') AS path
            FROM ev_listagg GROUP BY user_id
            """
        )
        assert a == {r.user_id: r.path for r in manual.collect()}
    finally:
        spark.catalog.dropTempView("ev_listagg")

    r = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT ? * 6 AS v' USING 7"
    ).collect()
    assert r[0].v == 42


def test_ignore_corrupt_files_skips_bad_parquet(spark, tmp_path):
    """At 100 TB a scan WILL meet truncated/corrupt files; the default
    is fail-the-job (correctness first), and
    spark.sql.files.ignoreCorruptFiles=true is the explicit opt-in that
    skips them and keeps the rest of the scan — pinned both ways."""
    import pytest as _pytest

    d = str(tmp_path / "mix")
    spark.range(10).write.parquet(d)
    with open(d + "/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1this-is-not-a-parquet-file")
    with _pytest.raises(Exception):
        spark.read.parquet(d).count()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(d).count() == 10
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_rocksdb_changelog_checkpointing_recovers(spark, tmp_path):
    """RocksDB state store with changelog checkpointing: each commit
    uploads a small per-batch .changelog delta instead of a full
    snapshot — the production setting that makes commit cost O(batch
    changes), not O(state size). Pins that changelog files actually
    appear in the checkpoint AND that a restarted query recovers its
    state from them (counts continue, not reset)."""
    import glob
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def run_once():
        q = (
            spark.readStream.schema("v BIGINT, k BIGINT")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "v BIGINT, k BIGINT"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        run_once()
        logs = glob.glob(ckpt + "/state/**/*.changelog", recursive=True)
        assert logs, "no changelog files written"

        # second run from the SAME checkpoint over appended data: state
        # must recover from the changelog chain and keep accumulating
        spark.createDataFrame(
            [(i, i % 3) for i in range(30, 45)], "v BIGINT, k BIGINT"
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        # read the final state offline via the statestore source: the
        # per-key counts must cover ALL 45 rows, not just the tail 15
        # the statestore value struct carries the aggregation buffer's
        # INTERNAL field names (count/sum), not the query aliases
        state = spark.read.format("statestore").load(ckpt)
        total = state.selectExpr("sum(value.count)").collect()[0][0]
        assert total == 45, total
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE partition coalescing: a 200-partition shuffle over tiny data
    collapses at runtime to a handful of post-shuffle partitions
    (AQEShuffleRead coalesced) — the mechanism that lets one global
    spark.sql.shuffle.partitions setting serve both the 100 TB fact
    shuffle and the 10-row dimension aggregate without per-query
    tuning. Complements the skew-split pin (same machinery, opposite
    direction)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = (
            load_table(spark, "orders", SF)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = df.collect()
        assert rows
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]
        # 200 declared -> a handful materialized
        assert df.rdd.getNumPartitions() <= 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_max_partition_bytes_splits_single_file_scan(spark, tmp_path):
    """Scan-side parallelism mechanics: ONE parquet file written with
    small row groups reads as ONE task by default (the repo's local
    testdata gotcha — sources/tables.py:with_scan_parallelism exists
    because of it), and spark.sql.files.maxPartitionBytes splits the
    same file into many input partitions along row-group boundaries
    with identical results — the knob that sizes scan tasks to
    executor memory at 100 TB."""
    d = str(tmp_path / "multi")
    (
        spark.range(200000)
        .selectExpr("id", "id * 2 AS v")
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(d)
    )
    assert spark.read.parquet(d).rdd.getNumPartitions() == 1
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        split = spark.read.parquet(d)
        assert split.rdd.getNumPartitions() > 8
        assert split.count() == 200000
        assert split.agg({"v": "sum"}).collect()[0][0] == 199999 * 200000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
