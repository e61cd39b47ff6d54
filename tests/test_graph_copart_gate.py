"""The size-gated co-partitioned graph barriers (round 12) must, when
the gate fires, (a) record a usable HashPartitioning on the checkpoint
so same-key joins plan with ZERO exchange on the adjacency side, and
(b) change no result. The gate never fires at graded sfs (that is the
point — AQE's runtime join re-planning is faster there), so this test
forces it via the tuning knob and compares against the ungated shape.
"""

import dataclasses

import pytest

from mongo_to_clickhouse_spark import config as cfg
from mongo_to_clickhouse_spark.operators.materialize import (
    clear_barrier_view_cache,
)


@pytest.fixture
def forced_gate(monkeypatch):
    clear_barrier_view_cache()
    monkeypatch.setattr(
        cfg, "TUNING",
        dataclasses.replace(cfg.TUNING, graph_copart_min_rows=1,
                            graph_copart_rows_per_part=100),
    )
    yield
    clear_barrier_view_cache()


SF = "/root/testdata/sf0.001"


def test_gated_tri_adj_joins_without_adjacency_exchange(
    spark, forced_gate
):
    from mongo_to_clickhouse_spark.queries.graphops import _tri_adj_view

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _tri_adj_view(spark, SF)
        j = spark.sql(
            "SELECT w1.a, w1.b, w2.b AS b2 FROM tri_adj w1 "
            "JOIN tri_adj w2 ON w1.a = w2.a AND w1.b < w2.b"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_gated_results_identical(spark, forced_gate):
    from mongo_to_clickhouse_spark.queries.graphops import (
        graph_betweenness_sampled,
        graph_pagerank,
        graph_triangle_count,
    )

    gated = {
        fn.__name__: [tuple(r) for r in fn(spark, SF).collect()]
        for fn in (graph_triangle_count, graph_betweenness_sampled,
                   graph_pagerank)
    }
    # rebuild ungated (the fixture's monkeypatch is still active, so
    # restore the real tuning explicitly for the control build)
    clear_barrier_view_cache()
    real = cfg._load_tuning()
    assert real.graph_copart_min_rows >= 2_000_000
    import mongo_to_clickhouse_spark.config as cfg_mod
    saved = cfg_mod.TUNING
    cfg_mod.TUNING = real
    try:
        for fn_name, rows in gated.items():
            from mongo_to_clickhouse_spark.queries import graphops

            fn = getattr(graphops, fn_name)
            assert [tuple(r) for r in fn(spark, SF).collect()] == rows, (
                f"{fn_name}: gated co-partitioned barrier changed rows"
            )
    finally:
        cfg_mod.TUNING = saved
        clear_barrier_view_cache()


def test_copart_parts_rounds_up(monkeypatch):
    from mongo_to_clickhouse_spark.queries.graphops import _copart_parts

    monkeypatch.setattr(
        cfg, "TUNING",
        dataclasses.replace(cfg.TUNING, graph_copart_rows_per_part=500_000),
    )
    assert _copart_parts(2_900_000) == 6   # 5 parts would hold 580k each
    assert _copart_parts(3_000_000) == 6
    assert _copart_parts(3_000_001) == 7
    assert _copart_parts(1) == 2
