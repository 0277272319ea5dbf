"""``local_frame``: driver rows as an Arrow-backed local relation."""

from __future__ import annotations

from mcp_crawl4ai_rag_spark.frames import local_frame


def test_local_frame_matches_create_data_frame(spark):
    ddl = "host string, popped long"
    rows = [("a.example", 3), ("b.example", 0), (None, 7), ("ü.example", None)]
    want = spark.createDataFrame(rows, ddl)
    for given in (rows, iter(rows), dict(rows[:2]).items()):
        got = local_frame(spark, given, ddl)
        assert got.schema == want.schema
        # a local relation: no Python RDD under it, no job to read it
        plan = got._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
    assert local_frame(spark, rows, want.schema).collect() == want.collect()
    assert local_frame(spark, [], ddl).collect() == []
