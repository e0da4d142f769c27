"""Suite-wide plan lint: scale anti-patterns must never appear in any
registered query's physical plan.

- ``CartesianProduct`` (the non-broadcast all-pairs join) is quadratic
  shuffle work at scale; every intentional cross join in this repo is
  a broadcast of a bounded frame (BroadcastNestedLoopJoin), and the
  one genuinely quadratic path is demoted to a test-only oracle.
- ``BatchEvalPython`` is the row-at-a-time Python UDF — the slow path
  the operators deliberately avoid (Arrow-batched MapInPandas /
  ArrowEvalPython are the sanctioned Python surfaces).

Queries whose build EXECUTES work (streaming merges, manifest
round-trips) return checkpointed results whose plan is a scan — they
pass trivially, which is correct: their heavy lifting is plan-audited
by their own dedicated tests.

Every registered query is a case; tier-1 runs the cases listed in
``per_query_net.txt`` (see ``conftest.py``).
"""

from __future__ import annotations

import pytest

from kafka_streams_aggregate_spark.plans.inspect import formatted_plan
from kafka_streams_aggregate_spark.registry import load_all

SF = "/root/testdata/sf0.001"

# Streaming/manifest queries execute fully at build; skip the expensive
# rebuild here — each has its own execution tests and a scan-only result
# plan anyway.
EXECUTES_AT_BUILD = {
    "q_agg_inventory_stream", "q_tumbling_window_stream",
    "q_stream_stream_join", "q_stream_static_join",
    "q_stream_dedup_window", "q_stream_topk_trending",
    "q_custom_source_inventory", "q_cdc_merge_stream",
    "q_time_travel_read", "q_cdc_vacuum", "q_cep_pattern_match_stream",
    "q_schema_evolution_read", "q_cep_quantified_stream",
    "q_stream_hll_distinct", "q_sessionize_stream",
    "q_stream_quantile_sketch", "q_dynamic_partition_pruning",
    # Round-8 additions that likewise run a full streaming job or a
    # distributed write+read-back at build time (each has dedicated
    # execution/behavior tests; the result plan here is scan-only).
    "q_sessionize_ttl_stream", "q_ewma_stream",
    "q_session_window_stream", "q_hopping_window_stream",
    "q_stream_stream_left_join", "q_stream_stream_full_join",
    "q_state_store_read", "q_cdc_merge_mor", "q_cdc_mor_changes",
    "q_csv_source_roundtrip", "q_multiformat_roundtrip",
    # Round-10 additions: the staged streaming pair runs a full
    # two-batch stream at build; the XML round trip runs a distributed
    # write + read-back. All three return eagerly-checkpointed results
    # (scan-only plans) and carry dedicated execution tests.
    "q_cusum_stream", "q_ss_policy_stream", "q_xml_roundtrip",
}

QUERY_NAMES = sorted(n for n in load_all() if n not in EXECUTES_AT_BUILD)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_plan_has_no_scale_antipatterns(spark, name):
    plan = formatted_plan(load_all()[name].spark(spark, SF))
    assert "CartesianProduct" not in plan, f"{name}: non-broadcast cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
