"""Snapshot table semantics: atomic versioned commits, fast append,
time travel, optimistic concurrency, expiry."""

from __future__ import annotations

import pytest

from mcp_crawl4ai_rag_spark.plans.snapshots import (
    CommitConflict,
    CrawlCheckpoint,
    SnapshotTable,
)


def test_commit_read_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    df = spark.range(0, 10)
    info = t.commit(df)
    assert info.version == 1
    assert t.read(spark).count() == 10


def test_fast_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(0, 5))
    t.commit(spark.range(5, 8), mode="append")
    assert t.read(spark).count() == 8
    assert t.read(spark, version=1).count() == 5
    assert len(t.current().paths) == 2  # append added a file, no rewrite


def test_optimistic_concurrency(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(3))
    with pytest.raises(CommitConflict):
        t.commit(spark.range(4), expected_version=0)
    t.commit(spark.range(4), expected_version=1)
    assert t.current().version == 2


def test_expiry_keeps_live_paths(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    for i in range(5):
        t.commit(spark.range(i, i + 2))
    t.expire_snapshots(keep=1)
    assert t.read(spark).count() == 2


def test_checkpoint_roundtrip(tmp_path):
    ck = CrawlCheckpoint(str(tmp_path))
    assert ck.load() is None
    ck.save({"round_id": 3, "seq_counter": 42})
    assert ck.load()["seq_counter"] == 42
    p = ck.save_filter(3, b"\x01\x02")
    with open(p, "rb") as f:
        assert f.read() == b"\x01\x02"


def test_partitioned_commit_carryover_and_pruned_read(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path), "p")
    df = spark.range(100).select(
        "id", F.pmod("id", F.lit(4)).cast("int").alias("bucket")
    )
    t.commit_partitioned(df, "bucket")
    # replace only bucket 1; bucket 1 shrinks, others carry over untouched
    repl = spark.range(5).select(
        (F.col("id") + 1000).alias("id"), F.lit(1).cast("int").alias("bucket")
    )
    info = t.commit_partitioned(repl, "bucket", changed=[1])
    assert info.version == 2
    cur = t.read(spark)
    assert cur.where("bucket = 1").count() == 5
    assert cur.where("bucket != 1").count() == 75
    # manifest lineage: exactly bucket 1 changed
    import json
    import os

    m = json.load(open(os.path.join(str(tmp_path), "p", "MANIFEST.json")))
    assert m["extra"]["changed"] == ["1"]
    srcs = {k: v.split("/")[-2] for k, v in m["partitions"].items()}
    assert srcs["1"] == "d2" and all(v == "d1" for k, v in srcs.items() if k != "1")
    # pruned read touches only the requested buckets
    assert t.read(spark, partitions=[0, 2]).count() == 50
    # a changed bucket with zero surviving rows disappears
    t.commit_partitioned(
        spark.createDataFrame([], repl.schema), "bucket", changed=[1]
    )
    assert sorted(t.read(spark).select("bucket").distinct().toPandas()["bucket"]) == [0, 2, 3]


def test_partitioned_expiry_gcs_dead_subdirs(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path), "p")
    df = spark.range(40).select(
        "id", F.pmod("id", F.lit(2)).cast("int").alias("bucket")
    )
    t.commit_partitioned(df, "bucket")
    for v in range(2, 6):
        repl = spark.range(3).select(
            (F.col("id") + v * 100).alias("id"), F.lit(0).cast("int").alias("bucket")
        )
        t.commit_partitioned(repl, "bucket", changed=[0])
    t.expire_snapshots(keep=1)
    # d1 is partially live: bucket=1 still referenced, bucket=0 superseded
    d1 = os.path.join(str(tmp_path), "p", "d1")
    assert os.path.isdir(os.path.join(d1, "bucket=1"))
    assert not os.path.exists(os.path.join(d1, "bucket=0"))
    # intermediate rewrites fully dead
    assert not os.path.exists(os.path.join(str(tmp_path), "p", "d2"))
    # table still reads correctly
    cur = t.read(spark)
    assert cur.where("bucket = 1").count() == 20
    assert cur.where("bucket = 0").count() == 3


def test_snapshot_diff_added_removed(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.plans.snapshots import snapshot_diff

    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(0, 6))                       # v1: 0..5
    t.commit(spark.range(3, 9))                       # v2: 3..8
    d = {(r["id"], r["change"]) for r in snapshot_diff(spark, t, 1, 2).collect()}
    assert d == {(6, "added"), (7, "added"), (8, "added"),
                 (0, "removed"), (1, "removed"), (2, "removed")}
    # identical versions diff to empty; direction reversal flips the tags
    assert snapshot_diff(spark, t, 2, 2).count() == 0
    rev = {(r["id"], r["change"]) for r in snapshot_diff(spark, t, 2, 1).collect()}
    assert rev == {(0, "added"), (1, "added"), (2, "added"),
                   (6, "removed"), (7, "removed"), (8, "removed")}


def test_snapshot_diff_multiset_cardinality(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.plans.snapshots import snapshot_diff

    t = SnapshotTable(str(tmp_path), "t")
    one = spark.createDataFrame([(1,)], "id long")
    t.commit(one)                                     # v1: [1]
    t.commit(one.union(one))                          # v2: [1, 1]
    d = [(r["id"], r["change"]) for r in snapshot_diff(spark, t, 1, 2).collect()]
    assert d == [(1, "added")]  # exceptAll surfaces the extra copy


def test_commit_rows_driver_fast_path(spark, tmp_path):
    """pyarrow driver-rows commit interoperates with the Spark path: same
    manifest shape, same read-back types, append across both writers."""
    schema = "round int, scope string, key string, value long"
    t = SnapshotTable(str(tmp_path), "metrics")
    info = t.commit_rows([], schema)
    assert info.version == 1
    empty = t.read(spark)
    assert empty.count() == 0
    assert empty.schema.simpleString() == (
        "struct<round:int,scope:string,key:string,value:bigint>"
    )
    t.commit_rows([(1, "round", "popped", 10), (1, "host:a", "popped", 7)],
                  schema, mode="append")
    # interleave a Spark-written append on the same table
    t.commit(
        spark.createDataFrame([(2, "round", "popped", 5)], schema), mode="append"
    )
    got = {(r["round"], r["scope"], r["key"], r["value"])
           for r in t.read(spark).collect()}
    assert got == {(1, "round", "popped", 10), (1, "host:a", "popped", 7),
                   (2, "round", "popped", 5)}
    assert t.read(spark).schema == spark.createDataFrame([], schema).schema


def test_commit_rows_conflict_and_unsupported_type(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "m")
    t.commit_rows([(1,)], "a int")
    with pytest.raises(CommitConflict):
        t.commit_rows([(2,)], "a int", expected_version=0)
    with pytest.raises(ValueError):
        t.commit_rows([], "a array<int>")


def test_compact_tail_folds_tail_preserving_content(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(0, 5))
    for lo in range(5, 25, 5):
        t.commit(spark.range(lo, lo + 5), mode="append")
    assert len(t.current().paths) == 5
    info = t.compact_tail()
    assert info is not None and len(info.paths) == 2  # base + one fold dir
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(25))
    # manifest marks the folded prefix; appends carry it forward
    assert t._manifest(info.version)["folded"] == 2
    t.commit(spark.range(25, 30), mode="append")
    assert t._manifest(t.current().version)["folded"] == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(30))


def test_compact_tail_noop_below_min_tail(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(3))
    assert t.compact_tail() is None  # no tail at all
    t.commit(spark.range(3, 4), mode="append")
    assert t.compact_tail(min_tail=2) is None  # tail of 1 < min_tail
    assert t.read(spark).count() == 4


def test_compact_tail_geometric_full_fold(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit(spark.range(0, 2))
    n = 2
    for _ in range(3):
        for _ in range(2):
            t.commit(spark.range(n, n + 2), mode="append")
            n += 2
        info = t.compact_tail(min_tail=2, max_base=3)
        assert info is not None
    m = t._manifest(t.current().version)
    # third fold saw folded == max_base → full fold down to a single dir
    assert m["folded"] == 1 and len(m["paths"]) == 1
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(n))


def test_compact_tail_time_travel_and_commit_rows_lineage(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    t.commit_rows([(1, "a")], "k int, v string")
    t.commit_rows([(2, "b")], "k int, v string", mode="append")
    t.commit_rows([(3, "c")], "k int, v string", mode="append")
    info = t.compact_tail(min_tail=2)
    assert info is not None
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # pre-fold version still time-travels (until expiry)
    assert t.read(spark, version=info.version - 1).count() == 3


DOCS_DDL = (
    "url string, depth int, content string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOC_ROWS = [
    ("https://a/1", 0, "x\ny", [("text", "x", None, 0), ("media", None, "m://1", 1),
                                ("text", "y", None, 2)]),
    ("https://a/é", 1, "", []),
    ("https://a/2", None, None, None),
]


def _doc_tuples(rows) -> list:
    return sorted(
        (r["url"], r["depth"], r["content"],
         None if r["spans"] is None else [tuple(s) for s in r["spans"]])
        for r in rows
    )


def _arrow_docs(schema, rows=DOC_ROWS):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(
        [
            {"url": u, "depth": d, "content": c,
             "spans": None if sp is None else [
                 dict(zip(["kind", "text", "media_ref", "offset"], s)) for s in sp
             ]}
            for u, d, c, sp in rows
        ],
        schema=to_arrow_schema(schema),
    )


def test_arrow_commit_reads_back_like_a_spark_commit(spark, tmp_path):
    """A pyarrow.Table commit of nested rows: one file, no sidecars, and
    the same manifest schema, read-back schema and rows as a Spark write
    of the same rows."""
    import os

    df = spark.createDataFrame(DOC_ROWS, DOCS_DDL)
    by_spark = SnapshotTable(str(tmp_path), "spark_docs")
    by_spark.commit(df, single_file=True)
    by_arrow = SnapshotTable(str(tmp_path), "arrow_docs")
    info = by_arrow.commit(_arrow_docs(df.schema), schema=df.schema)
    assert info.rows == 3
    assert os.listdir(info.paths[0]) == ["part-00000.parquet"]
    assert (by_arrow._manifest(info.version)["schema"]
            == by_spark._manifest(by_spark.current().version)["schema"])
    a, b = by_arrow.read(spark), by_spark.read(spark)
    assert a.schema.json() == b.schema.json()
    assert _doc_tuples(a.collect()) == _doc_tuples(b.collect()) == _doc_tuples(df.collect())


def test_compact_tail_and_expiry_over_mixed_writers(spark, tmp_path):
    """Spark-written and pyarrow-written appends in one lineage: the tail
    fold reads both kinds of file, and expiry collects both."""
    import os

    df = spark.createDataFrame(DOC_ROWS, DOCS_DDL)
    t = SnapshotTable(str(tmp_path), "docs")
    t.commit(df)
    t.commit(_arrow_docs(df.schema), mode="append", schema=DOCS_DDL)
    t.commit(df, mode="append", single_file=True)
    t.commit(_arrow_docs(df.schema), mode="append", schema=df.schema)
    before = set(t.current().paths)
    info = t.compact_tail(min_tail=2)
    assert info is not None and len(info.paths) == 2
    got = _doc_tuples(t.read(spark).collect())
    assert got == sorted(_doc_tuples(df.collect()) * 4)
    t.commit(_arrow_docs(df.schema), mode="append", schema=DOCS_DDL)
    t.expire_snapshots(keep=1)
    live = set(t.current().paths)
    dirs = {os.path.join(t.dir, d) for d in os.listdir(t.dir) if d.startswith("d")}
    assert dirs == live
    assert not (before - set(info.paths)) & dirs  # folded dirs of both kinds gone
    assert len(_doc_tuples(t.read(spark).collect())) == 15


PART_DDL = "url string, priority int, seq long, bucket int"
PART_ROWS = [
    ("https://a/1", 2, 0, 1), ("https://a/é", None, 1, 1), ("https://b/1", 0, 2, 0),
    ("https://c/1", 1, 3, 3), (None, 1, 4, 3), ("https://d/1", 0, 5, None),
]


def _part_tuples(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("rows", [PART_ROWS, []], ids=["rows", "empty"])
def test_arrow_partitioned_commit_matches_spark_form(spark, tmp_path, rows):
    """commit_partitioned of a pyarrow.Table and of a DataFrame holding
    the same rows (a null partition value included, or none at all):
    equal reads, equal partition-map keys, one file per partition, and
    the version directory exists even when it holds no partition."""
    import os

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    df = spark.createDataFrame(rows, PART_DDL)
    by_spark = SnapshotTable(str(tmp_path), "spark_p")
    by_spark.commit_partitioned(df, "bucket")
    by_arrow = SnapshotTable(str(tmp_path), "arrow_p")
    struct = DataType.fromDDL(PART_DDL)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    info = by_arrow.commit_partitioned(table, "bucket", schema=PART_DDL)
    assert os.path.isdir(os.path.join(by_arrow.dir, f"d{info.version}"))
    ms, ma = (t._manifest(t.current().version) for t in (by_spark, by_arrow))
    assert ma["partitions"].keys() == ms["partitions"].keys()
    assert ma["schema"] == ms["schema"]
    for part_dir in ma["partitions"].values():
        assert os.listdir(part_dir) == ["part-0.parquet"]
    a, b = by_arrow.read(spark), by_spark.read(spark)
    assert a.schema == b.schema
    assert _part_tuples(a.collect()) == _part_tuples(b.collect()) == _part_tuples(rows)
    # a partition-level replace over the Arrow-written base carries the
    # other partitions over
    by_arrow.commit_partitioned(
        table.slice(0, 0), "bucket", changed=[1], schema=struct
    )
    assert _part_tuples(by_arrow.read(spark).collect()) == _part_tuples(
        r for r in rows if r[3] != 1
    )


def test_pyarrow_commits_clear_a_torn_attempt_at_their_version(spark, tmp_path):
    """A crash mid-write leaves files in the next version's directory
    while the manifest still names the previous version; the retried
    pyarrow commit (flat, partitioned, or tail fold) overwrites that
    directory the way a Spark overwrite does, so neither a stale partition
    nor a stale file is read."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(PART_DDL)
    arrow_schema = to_arrow_schema(struct)
    rows = PART_ROWS[:4]
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=arrow_schema
    )
    stale = pa.table({"url": ["https://stale/"], "priority": pa.array([9], pa.int32()),
                      "seq": [99]})

    def torn(t, sub):
        d = os.path.join(t.dir, "d1", *sub)
        os.makedirs(d)
        pq.write_table(stale, os.path.join(d, "part-00007.parquet"))

    parts = SnapshotTable(str(tmp_path), "parts")
    torn(parts, ["bucket=1"])
    torn(parts, ["bucket=5"])  # a partition the retried commit does not have
    parts.commit_partitioned(table, "bucket", schema=PART_DDL)
    assert sorted(parts._manifest(1)["partitions"]) == ["0", "1", "3"]
    assert _part_tuples(parts.read(spark).collect()) == _part_tuples(rows)

    flat = SnapshotTable(str(tmp_path), "flat")
    torn(flat, [])
    flat.commit(table, schema=PART_DDL)
    assert _part_tuples(flat.read(spark).collect()) == _part_tuples(rows)

    flat.commit(table, mode="append", schema=PART_DDL)
    flat.commit(table, mode="append", schema=PART_DDL)
    d4 = os.path.join(flat.dir, "d4")
    os.makedirs(d4)
    pq.write_table(table, os.path.join(d4, "part-00001.parquet"))
    flat.compact_tail(min_tail=2)
    assert flat.current().version == 4
    assert _part_tuples(flat.read(spark).collect()) == _part_tuples(rows * 3)


def test_compact_tail_folds_a_mixed_lineage_like_a_spark_read(spark, tmp_path):
    """The pyarrow tail fold over a lineage of Spark-written (multi-file
    and single-file) and pyarrow-written appends with nested spans and
    empty files, then the geometric full fold: after each, the table reads
    the same rows and schema as a Spark read of the folded paths did."""
    import os

    df = spark.createDataFrame(DOC_ROWS, DOCS_DDL)
    t = SnapshotTable(str(tmp_path), "docs")
    t.commit(df.repartition(2))
    t.commit(_arrow_docs(df.schema), mode="append", schema=DOCS_DDL)
    t.commit(_arrow_docs(df.schema, rows=[]), mode="append", schema=DOCS_DDL)
    t.commit(spark.createDataFrame([], DOCS_DDL), mode="append", single_file=True)
    t.commit(df, mode="append", single_file=True)

    def spark_read():
        paths = t.current().paths
        got = spark.read.schema(DOCS_DDL).parquet(*paths)
        return got.schema, _doc_tuples(got.collect())

    schema, want = spark_read()
    assert len(want) == 9
    info = t.compact_tail(min_tail=2, max_base=3)
    assert info.extra == {"compacted": "tail", "folded_dirs": 4}
    assert len(info.paths) == 2
    assert (t.read(spark).schema, _doc_tuples(t.read(spark).collect())) == (schema, want)
    # two more folds: the second one sees folded == max_base and folds all
    for _ in range(2):
        t.commit(_arrow_docs(df.schema), mode="append", schema=df.schema)
        t.commit(df, mode="append")
        schema, want = spark_read()
        info = t.compact_tail(min_tail=2, max_base=3)
    assert info.extra == {"compacted": "full", "folded_dirs": 5}
    assert len(info.paths) == 1 and len(want) == 21
    assert (t.read(spark).schema, _doc_tuples(t.read(spark).collect())) == (schema, want)
    assert os.listdir(info.paths[0]) == ["part-00000.parquet"]
